"""Multimodal columns: opaque binary payloads + typed metadata, with
REAL decode and perceptual-similarity operators.

Images/audio/video are carried as ``binary`` columns with a metadata
struct; decode / feature-extract / hash run as Arrow-batched
``mapInPandas`` (the documented slow path — one Python hop, vectorized
per batch, never per-row). Codecs: Pillow/soundfile when installed,
else the dependency-free stdlib PNG/WAV codecs
(``extensions.stdlib_codecs``), so the real decode path always runs.
``decode_stub_features`` remains the deterministic engine-independent
fake for oracle comparisons. On top of decode sit the perceptual
content operators: image aHash + banded near-dup join, audio spectral
fingerprint + near-dup join, and video shot-boundary detection — the
image/audio/video slice of the dedup/curation family.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from whiterrabbit_spark.cache import pin

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("payload", T.BinaryType()),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("mime", T.StringType()),
                    T.StructField("source", T.StringType()),
                    T.StructField("n_bytes", T.LongType()),
                ]
            ),
        ),
    ]
)

FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("mime", T.StringType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("fake_width", T.IntegerType()),
        T.StructField("fake_height", T.IntegerType()),
        T.StructField("byte_mean", T.DoubleType()),
    ]
)


_EXT_MIME = {
    "png": "image/png", "jpg": "image/jpeg", "jpeg": "image/jpeg",
    "gif": "image/gif", "bmp": "image/bmp", "webp": "image/webp",
    "wav": "audio/wav", "mp3": "audio/mpeg", "flac": "audio/flac",
    "ogg": "audio/ogg", "mp4": "video/mp4", "mkv": "video/x-matroska",
    "webm": "video/webm",
}


def read_media_folder(
    spark, path: str, glob: str = "*", recursive: bool = False
) -> DataFrame:
    """Ingest a folder of media files into MEDIA_SCHEMA via Spark's
    built-in ``binaryFile`` source — the real on-ramp for the multimodal
    family (attach_binary_payload synthesizes payloads for tests).

    Each file becomes one row: payload = raw bytes, media_id = a stable
    64-bit hash of the file path (xxhash64 — deterministic across runs
    and engines), mime inferred from the extension (``application/
    octet-stream`` when unknown). The source is distributed (files split
    across tasks, though each FILE is read whole by one task — binary
    payloads don't split), supports pushdown of path globs, and
    composes directly with decode/resize/frame-sample stages.

    At 100 TB-of-media scale the same schema would be backed by parquet
    with the bytes inlined (small media) or by (path, offset) references
    resolved inside the decode UDF (large media) — this reader is the
    small-file ingestion path that builds those tables."""
    raw = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", glob)
        .option("recursiveFileLookup", str(recursive).lower())
        .load(path)
    )
    ext = F.lower(F.element_at(F.split(F.col("path"), r"\."), -1))
    mime_expr = F.lit("application/octet-stream")
    for e, m in _EXT_MIME.items():
        mime_expr = F.when(ext == e, F.lit(m)).otherwise(mime_expr)
    return raw.select(
        F.xxhash64(F.col("path")).alias("media_id"),
        F.col("content").alias("payload"),
        F.struct(
            mime_expr.alias("mime"),
            F.col("path").alias("source"),
            F.col("length").cast("long").alias("n_bytes"),
        ).alias("meta"),
    )


def attach_binary_payload(
    df: DataFrame, text_col: str, id_col: str, mime: str = "application/fake"
) -> DataFrame:
    """Synthesize a media table from a text column (UTF-8 payload) —
    stand-in for reading real image/audio bytes from object storage."""
    payload = F.encode(F.col(text_col), "UTF-8")
    return df.select(
        F.col(id_col).alias("media_id"),
        payload.alias("payload"),
        F.struct(
            F.lit(mime).alias("mime"),
            F.lit("synthetic").alias("source"),
            F.octet_length(payload).cast("long").alias("n_bytes"),
        ).alias("meta"),
    )


def _decode_one(payload: bytes) -> dict:
    """STUB decoder. Replace with a real codec (PIL, torchaudio, ffmpeg).

    Deterministic fake: dimensions derived from byte length, mean byte
    value as the 'feature' — reproducible across engines for testing.
    """
    n = len(payload)
    return {
        "fake_width": (n % 64) + 1,
        "fake_height": (n % 48) + 1,
        "byte_mean": (sum(payload) / n) if n else 0.0,
    }


def decode_stub_features(media: DataFrame) -> DataFrame:
    """Arrow-batched decode: mapInPandas over (media_id, payload, meta).

    Batches stream through Python with Arrow; partitioning is preserved
    (no shuffle) — at 100 TB the decode cost is the codec, not the hop.
    """

    def decode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [_decode_one(bytes(p)) for p in pdf["payload"]]
            out = pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "mime": [m["mime"] for m in pdf["meta"]],
                    "n_bytes": [m["n_bytes"] for m in pdf["meta"]],
                    "fake_width": [f["fake_width"] for f in feats],
                    "fake_height": [f["fake_height"] for f in feats],
                    "byte_mean": [f["byte_mean"] for f in feats],
                }
            )
            yield out

    return media.mapInPandas(decode_batches, FEATURES_SCHEMA)


# ---------------------------------------------------------------------------
# Real codecs. Pillow / soundfile are preferred when installed; when they
# are absent the stdlib PNG/WAV codecs (extensions.stdlib_codecs — zlib +
# wave + numpy, no extra deps) take over, so the real decode path always
# runs and is CI-tested. Payloads the active backend cannot decode yield
# NULL features (decode) or pass through (resize) — at corpus scale a
# fraction of corrupt/foreign media is a certainty. The stub paths above
# stay the oracle/default for engine-independent comparisons.

try:  # pragma: no cover - exercised only where Pillow is installed
    import PIL.Image  # noqa: F401

    HAS_PIL = True
except ImportError:
    HAS_PIL = False

try:  # pragma: no cover - exercised only where soundfile is installed
    import soundfile  # noqa: F401

    HAS_SOUNDFILE = True
except ImportError:
    HAS_SOUNDFILE = False

IMAGE_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("mime", T.StringType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("mode", T.StringType()),
        T.StructField("pixel_mean", T.DoubleType()),
    ]
)

AUDIO_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("mime", T.StringType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("n_samples", T.LongType()),
        T.StructField("n_channels", T.IntegerType()),
        T.StructField("rms", T.DoubleType()),
    ]
)


def decode_image_features(media: DataFrame) -> DataFrame:
    """REAL image decode: width/height/mode + grayscale pixel mean per
    payload. Same Arrow ``mapInPandas`` shape as the stub — map-only,
    partitioning preserved, the codec runs inside the Python worker.
    Backend: Pillow when installed (any format it reads); otherwise the
    stdlib PNG codec (``stdlib_codecs.png_decode`` — 8-bit non-interlaced
    PNG, all filters). pixel_mean uses the ITU-R 601-2 luma either way,
    so values agree across backends. Undecodable payloads yield NULL
    width/height/mode/pixel_mean rather than failing the task."""

    def decode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import io

        from whiterrabbit_spark.extensions import stdlib_codecs as sc

        if HAS_PIL:
            import numpy as np
            from PIL import Image

            def decode(raw: bytes):
                img = Image.open(io.BytesIO(raw))
                arr = np.asarray(img.convert("L"), dtype=np.float64)
                return (
                    img.width, img.height, img.mode,
                    float(arr.mean()) if arr.size else None,
                )
        else:

            def decode(raw: bytes):
                w, h, mode, pixels = sc.png_decode(raw)
                return w, h, mode, sc.gray_mean(mode, pixels)

        for pdf in batches:
            rows = {k: [] for k in ("width", "height", "mode", "pixel_mean")}
            for p in pdf["payload"]:
                try:
                    w, h, mode, mean = decode(bytes(p))
                    rows["width"].append(w)
                    rows["height"].append(h)
                    rows["mode"].append(mode)
                    rows["pixel_mean"].append(mean)
                except Exception:
                    for k in rows:
                        rows[k].append(None)
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "mime": [m["mime"] for m in pdf["meta"]],
                    "n_bytes": [m["n_bytes"] for m in pdf["meta"]],
                    **rows,
                }
            )

    return media.mapInPandas(decode_batches, IMAGE_FEATURES_SCHEMA)


def resize_images(media: DataFrame, width: int, height: int, fmt: str = "PNG") -> DataFrame:
    """REAL image resize: decode → bilinear resample → re-encode as
    ``fmt``. Keeps MEDIA_SCHEMA so it composes with decode / frame-sample
    stages exactly like ``resize_stub``. Backend: Pillow when installed;
    otherwise the stdlib PNG codec (PNG in, PNG out — other ``fmt``
    values raise without Pillow). Undecodable payloads pass through
    unchanged (their meta keeps the original byte count)."""
    if not HAS_PIL and fmt.upper() != "PNG":
        raise ImportError(
            f"resize_images fmt={fmt!r} requires Pillow; the stdlib "
            "fallback re-encodes PNG only"
        )

    def resize_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import io

        from whiterrabbit_spark.extensions import stdlib_codecs as sc

        if HAS_PIL:
            from PIL import Image

            def resize(raw: bytes) -> bytes:
                img = Image.open(io.BytesIO(raw)).resize(
                    (width, height), Image.BILINEAR
                )
                buf = io.BytesIO()
                img.save(buf, format=fmt)
                return buf.getvalue()
        else:

            def resize(raw: bytes) -> bytes:
                w, h, mode, pixels = sc.png_decode(raw)
                resized = sc.resize_bilinear(w, h, mode, pixels, width, height)
                return sc.png_encode(width, height, mode, resized)

        for pdf in batches:
            payloads, metas = [], []
            for p, m in zip(pdf["payload"], pdf["meta"]):
                raw = bytes(p)
                try:
                    raw = resize(raw)
                    mime = f"image/{fmt.lower()}"
                except Exception:
                    mime = m["mime"]
                payloads.append(raw)
                metas.append(
                    {"mime": mime, "source": m["source"], "n_bytes": len(raw)}
                )
            yield pd.DataFrame(
                {"media_id": pdf["media_id"], "payload": payloads, "meta": metas}
            )

    return media.mapInPandas(resize_batches, MEDIA_SCHEMA)


def decode_audio_features(media: DataFrame) -> DataFrame:
    """REAL audio decode: sample rate / length / channels + RMS amplitude
    per payload. Same map-only Arrow shape as the image path. Backend:
    soundfile when installed (wav/flac/ogg/...); otherwise the stdlib
    ``wave`` reader (PCM WAV). Both normalize int samples to [-1, 1]
    floats, so RMS agrees across backends. Undecodable payloads yield
    NULL features."""

    def decode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import io

        from whiterrabbit_spark.extensions import stdlib_codecs as sc

        if HAS_SOUNDFILE:
            import numpy as np
            import soundfile as sf

            def decode(raw: bytes):
                data, rate = sf.read(io.BytesIO(raw), always_2d=True)
                rms = (
                    float(np.sqrt((data.astype(np.float64) ** 2).mean()))
                    if data.size
                    else None
                )
                return int(rate), int(data.shape[0]), int(data.shape[1]), rms
        else:
            decode = sc.wav_decode

        for pdf in batches:
            rows = {k: [] for k in ("sample_rate", "n_samples", "n_channels", "rms")}
            for p in pdf["payload"]:
                try:
                    rate, n, nch, rms = decode(bytes(p))
                    rows["sample_rate"].append(rate)
                    rows["n_samples"].append(n)
                    rows["n_channels"].append(nch)
                    rows["rms"].append(rms)
                except Exception:
                    for k in rows:
                        rows[k].append(None)
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "mime": [m["mime"] for m in pdf["meta"]],
                    "n_bytes": [m["n_bytes"] for m in pdf["meta"]],
                    **rows,
                }
            )

    return media.mapInPandas(decode_batches, AUDIO_FEATURES_SCHEMA)


FRAME_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("frame_payload", T.BinaryType()),
        T.StructField("n_bytes", T.LongType()),
    ]
)


def resize_stub(media: DataFrame, width: int, height: int) -> DataFrame:
    """STUB resize: re-emit each payload truncated/zero-padded to
    width×height bytes (a real implementation decodes, resamples, and
    re-encodes — drop it into ``_resize_one``). Keeps the media schema so
    resize stages compose: attach → resize → decode. Map-only, no shuffle.
    """
    target = width * height

    def _resize_one(payload: bytes) -> bytes:
        if len(payload) >= target:
            return payload[:target]
        return payload + b"\x00" * (target - len(payload))

    def resize_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            resized = [_resize_one(bytes(p)) for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "payload": resized,
                    "meta": [
                        {
                            "mime": m["mime"],
                            "source": m["source"],
                            "n_bytes": len(r),
                        }
                        for m, r in zip(pdf["meta"], resized)
                    ],
                }
            )

    return media.mapInPandas(resize_batches, MEDIA_SCHEMA)


def sample_frames_stub(media: DataFrame, n_frames: int = 4) -> DataFrame:
    """STUB frame sampler: treat the payload as a fake video and emit
    ``n_frames`` evenly-spaced byte slices as frame rows — the 1→N fan-out
    batch shape a real decoder (ffmpeg keyframe sampling) would produce.
    Map-only; downstream per-frame feature extraction parallelizes over
    the exploded rows."""

    def frame_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, frames = [], [], []
            for mid, p in zip(pdf["media_id"], pdf["payload"]):
                b = bytes(p)
                k = max(len(b) // n_frames, 1)
                for i in range(n_frames):
                    lo = min(i * k, len(b))
                    ids.append(mid)
                    idxs.append(i)
                    frames.append(b[lo : lo + k])
            yield pd.DataFrame(
                {
                    "media_id": ids,
                    "frame_idx": idxs,
                    "frame_payload": frames,
                    "n_bytes": [len(f) for f in frames],
                }
            )

    return media.mapInPandas(frame_batches, FRAME_SCHEMA)


AHASH_SCHEMA = "media_id long, ahash long"


def ahash_bytes(raw: bytes) -> int | None:
    """64-bit average-hash of one encoded image (worker-side core of
    :func:`image_ahash` and the video frame hasher): decode → integer
    luma → bilinear 8×8 → threshold each cell at the image mean → pack
    row-major (bit 63 = top-left; wrapped into signed 64-bit for Spark
    longs). Returns None on undecodable bytes."""
    import io

    import numpy as np

    from whiterrabbit_spark.extensions import stdlib_codecs as sc

    try:
        if HAS_PIL:
            from PIL import Image

            img = Image.open(io.BytesIO(raw)).convert("L")
            img = img.resize((8, 8), Image.BILINEAR)
            g = np.asarray(img, dtype=np.float64)
        else:
            w, h, mode, pixels = sc.png_decode(raw)
            small = sc.resize_bilinear(w, h, mode, pixels, 8, 8)
            ch = len(small) // 64
            # int64 BEFORE the luma weights — uint8 arithmetic wraps
            arr = (
                np.frombuffer(small, dtype=np.uint8)
                .reshape(8, 8, ch)
                .astype(np.int64)
            )
            if ch >= 3:
                lum = (
                    arr[:, :, 0] * 299
                    + arr[:, :, 1] * 587
                    + arr[:, :, 2] * 114
                ) // 1000
            else:
                lum = arr[:, :, 0]
            g = lum.astype(np.float64)
        bits = (g >= g.mean()).flatten()
        v = 0
        for bit in bits:
            v = (v << 1) | int(bit)
        if v >= 1 << 63:
            v -= 1 << 64
        return v
    except Exception:
        return None


def image_ahash(media: DataFrame) -> DataFrame:
    """64-bit perceptual average-hash per image — the content key for
    image near-duplicate detection (see :func:`ahash_bytes` for the
    hash definition). Robust to re-encoding, resizing and small edits;
    bit differences grow with visual difference, so Hamming distance
    is the similarity metric (see :func:`ahash_near_pairs`).

    Same Arrow ``mapInPandas`` shape as the decode stages: map-only,
    no shuffle, codec inside the Python worker (Pillow when present,
    else the stdlib PNG codec). Undecodable payloads yield NULL.
    """

    def hash_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = [ahash_bytes(bytes(p)) for p in pdf["payload"]]
            yield pd.DataFrame(
                {"media_id": pdf["media_id"], "ahash": pd.array(out, dtype="Int64")}
            )

    return media.select("media_id", "payload").mapInPandas(
        hash_batches, AHASH_SCHEMA
    )


def ahash_near_pairs(
    media: DataFrame, max_hamming: int = 3, n_bands: int = 4,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Image near-duplicate pairs: aHash Hamming distance ≤
    ``max_hamming``, found by the banded join (the simhash scheme on
    the 64-bit image hash): ``n_bands`` bands of 64/n_bands bits; by
    pigeonhole, Hamming ≤ n_bands−1 guarantees one identical band, so
    the default (4 bands, ≤3) is EXACT while shuffling only bucket
    collisions — never the quadratic image self-join. A larger
    ``max_hamming`` needs more bands for exactness (documented recall
    contract, same as ``dedup.simhash_near_pairs``).

    Returns ``(id1, id2, hamming)``, id1 < id2.
    """
    sigs = image_ahash(media).where(F.col("ahash").isNotNull())
    return hash_near_pairs(sigs, "media_id", "ahash", max_hamming, n_bands,
                           max_bucket_size=max_bucket_size)


def png_dims(payload: Column) -> tuple[Column, Column]:
    """(width, height) of a PNG payload, read ENTIRELY JVM-side from the
    IHDR header (bytes 17-20 / 21-24 big-endian after the 8-byte
    signature + 4-byte length + ``IHDR`` tag): ``substring`` → ``hex``
    → ``conv`` — no Python worker, no decode. At 100 TB this is the
    difference between a metadata pass (header bytes only, whole-stage
    codegen, parquet lazily materializes the binary column) and paying
    a full Arrow round-trip just to learn image sizes. Non-PNG payloads
    yield NULL (signature check), mirroring the decoders' NULL-on-error
    contract.
    """

    def _be32(pos: int) -> Column:
        return F.conv(F.hex(F.substring(payload, pos, 4)), 16, 10).cast("long")

    is_png = F.hex(F.substring(payload, 1, 8)) == F.lit("89504E470D0A1A0A")
    return (
        F.when(is_png, _be32(17)),
        F.when(is_png, _be32(21)),
    )


def image_dims_profile(media: DataFrame) -> DataFrame:
    """Resolution histogram of an image corpus WITHOUT decoding — the
    pre-training curation audit (what resolutions are in here? how much
    is thumbnail junk?) as a pure metadata pass: :func:`png_dims`
    header sniff → one groupBy((width, height)). At 100 TB this reads
    header bytes per image and shuffles only the tiny histogram;
    non-PNG payloads land in the NULL-dims row so the report still
    accounts for every byte. Returns ``(width, height, n_images,
    pct_images)`` sorted by count desc, dims asc."""
    w, h = png_dims(F.col("payload"))
    total = media.agg(F.count(F.lit(1)).alias("__total"))
    return (
        media.select(w.alias("width"), h.alias("height"))
        .groupBy("width", "height")
        .agg(F.count(F.lit(1)).alias("n_images"))
        .join(F.broadcast(total))
        .select(
            "width", "height", "n_images",
            F.round(F.col("n_images") / F.col("__total"), 6).alias(
                "pct_images"
            ),
        )
        .orderBy(F.col("n_images").desc(), "width", "height")
    )


def image_keep_best(
    media: DataFrame,
    max_hamming: int = 3,
    n_bands: int = 4,
    scored: DataFrame | None = None,
) -> DataFrame:
    """Canonical image dedup: near-dup clusters via the banded aHash
    join, keep the HIGHEST-RESOLUTION member of each cluster — the
    image twin of ``dedup.keep_best_dedup`` (same cluster/argmax
    machinery; score = pixel count instead of text quality). Returns
    ``(media_id, cluster_id, score, kept)`` — cluster_id NULL for
    images with no near-dup, score = width×height.

    Plan shape: the score pass is pure JVM (:func:`png_dims` header
    sniff — zero Python), the hash pass is one Arrow hop
    (:func:`image_ahash`), pairing is the banded join (bucket
    collisions only), clustering is O(diameter) label propagation, and
    singletons bypass the argmax window — no stage is quadratic or
    single-task at 100 TB.

    Default-score contract: the sniff reads PNG headers only. On a
    mixed-format corpus (Pillow installed, so JPEG/WebP members hash
    and cluster too), non-PNG members carry NULL score — they lose to
    any PNG member and an all-NULL cluster falls back to the min-id
    tie-break. For format-agnostic resolution scoring pass ``scored``
    (a ``(media_id, score)`` frame, e.g. width×height from
    :func:`decode_image_features` — one extra Arrow decode pass).
    """
    from whiterrabbit_spark.extensions import dedup

    if scored is None:
        w, h = png_dims(F.col("payload"))
        scored = media.select(
            "media_id", (w * h).cast("double").alias("score")
        )
    pairs = ahash_near_pairs(media, max_hamming, n_bands)
    return dedup.keep_best_dedup(
        scored, pairs, id_col="media_id", score_col="score"
    )


def audio_near_pairs(
    media: DataFrame, max_hamming: int = 3, n_bands: int = 4,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Audio near-duplicate pairs: spectral-hash Hamming distance ≤
    ``max_hamming`` via the shared banded join (see
    :func:`hash_near_pairs` for the exactness contract).
    Returns ``(id1, id2, hamming)``, id1 < id2."""
    sigs = audio_spectral_hash(media).where(F.col("shash").isNotNull())
    return hash_near_pairs(sigs, "media_id", "shash", max_hamming, n_bands,
                           max_bucket_size=max_bucket_size)


def _le_uint(payload: Column, pos: int, width: int) -> Column:
    """Little-endian unsigned int read JVM-side from ``width`` bytes at
    1-indexed ``pos``: reverse the byte order via substring concat,
    then hex → conv — the LE twin of the big-endian PNG read."""
    rev = F.concat(
        *[F.substring(payload, pos + i, 1) for i in range(width - 1, -1, -1)]
    )
    return F.conv(F.hex(rev), 16, 10).cast("long")


def wav_n_samples(payload: Column) -> Column:
    """Per-channel sample count of a canonical 44-byte-header PCM WAV,
    read ENTIRELY JVM-side: data-chunk byte size (LE u32 at bytes
    41-44) over block align (channels at 23-24 × bits/8 at 35-36) — the
    duration proxy for audio keep-best without decoding a sample.
    Non-RIFF/WAVE payloads yield NULL (signature check), mirroring the
    decoders' NULL-on-error contract. Non-canonical headers (extra
    chunks before ``data``) belong to the decode path, not this sniff.
    """
    is_wav = (
        (F.hex(F.substring(payload, 1, 4)) == F.lit("52494646"))  # RIFF
        & (F.hex(F.substring(payload, 9, 4)) == F.lit("57415645"))  # WAVE
        & (F.hex(F.substring(payload, 37, 4)) == F.lit("64617461"))  # data
    )
    block_align = _le_uint(payload, 23, 2) * (_le_uint(payload, 35, 2) / 8)
    return F.when(
        is_wav, (_le_uint(payload, 41, 4) / block_align).cast("long")
    )


def audio_keep_best(
    media: DataFrame,
    max_hamming: int = 3,
    n_bands: int = 4,
    scored: DataFrame | None = None,
) -> DataFrame:
    """Canonical audio dedup: spectral-hash near-dup clusters keep the
    LONGEST member (sample count as the keep-criterion — near-dup
    audio differs by truncation/re-encode, and the longest copy
    preserves the most signal). Completes the keep-best family:
    text (``dedup.keep_best_dedup``), image (:func:`image_keep_best`),
    embedding (``similarity.embedding_keep_best``), audio. Same plan
    shape as the image form — the score pass is the pure-JVM
    :func:`wav_n_samples` header sniff, only the spectral-hash leg
    pays the Arrow hop. Returns ``(media_id, cluster_id, score,
    kept)``, cluster_id NULL for singletons.

    Default-score contract (same as :func:`image_keep_best`): the
    sniff reads canonical-44-byte-header WAVs only; members the
    decoder accepts but the sniff doesn't (extra RIFF chunks, FLAC via
    soundfile) carry NULL score and lose to any sniffed member. For
    decoder-accurate durations pass ``scored`` (a ``(media_id,
    score)`` frame, e.g. n_samples from :func:`decode_audio_features`).
    """
    from whiterrabbit_spark.extensions import dedup

    if scored is None:
        scored = media.select(
            "media_id",
            wav_n_samples(F.col("payload")).cast("double").alias("score"),
        )
    pairs = audio_near_pairs(media, max_hamming, n_bands)
    return dedup.keep_best_dedup(
        scored, pairs, id_col="media_id", score_col="score"
    )


def hash_near_pairs(
    sigs: DataFrame,
    id_col: str,
    hash_col: str,
    max_hamming: int = 3,
    n_bands: int = 4,
    bits: int = 64,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Banded Hamming join over any 64-bit perceptual signature frame
    (the simhash scheme, shared by image aHash and the audio spectral
    hash): ``n_bands`` bands of ``bits/n_bands`` bits; by pigeonhole,
    Hamming ≤ n_bands−1 implies one identical band, so the default is
    EXACT while shuffling only bucket collisions — never the quadratic
    self-join. Returns ``(id1, id2, hamming)``, id1 < id2.

    ``max_bucket_size`` is the giant-bucket guard for scale runs (same
    contract as ``dedup.simhash_near_pairs``): a band key shared by d
    signatures emits d² join rows, so ONE hyper-duplicated asset (a
    site logo across half the corpus) is a quadratic blowup inside a
    single bucket. Buckets above the cap are dropped from CANDIDATE
    GENERATION only — pairs still reachable through a rarer band are
    kept, and exact duplicates should be collapsed by the digest pass
    first (their pairs carry no information the digest groupBy lacks).
    Measured failure mode: 200k copies of one signature → 2·10¹⁰ join
    rows without the cap (PLANS.md round-5 media smoke). ``None`` (the
    default) keeps the pigeonhole guarantee exact for oracle runs."""
    width = bits // n_bands
    mask = (1 << width) - 1
    band_rows = F.array(
        *[
            F.struct(
                F.lit(j).alias("band"),
                F.shiftright(F.col(hash_col), j * width)
                .bitwiseAND(F.lit(mask))
                .alias("key"),
            )
            for j in range(n_bands)
        ]
    )
    bands = sigs.select(
        F.col(id_col).alias("__id"), F.col(hash_col).alias("__h"),
        F.explode(band_rows).alias("bk"),
    ).select("__id", "__h", "bk.band", "bk.key")
    if max_bucket_size is not None:
        bands = (
            bands.join(
                bands.groupBy("band", "key").agg(
                    F.count(F.lit(1)).alias("__bsz")
                ),
                ["band", "key"],
            )
            .where(F.col("__bsz") <= max_bucket_size)
            .drop("__bsz")
        )
    a = bands.alias("a")
    b = bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.__id") < F.col("b.__id")),
        )
        .select(
            F.col("a.__id").alias("id1"),
            F.col("b.__id").alias("id2"),
            F.bit_count(F.col("a.__h").bitwiseXOR(F.col("b.__h"))).alias(
                "hamming"
            ),
        )
        .distinct()
        .where(F.col("hamming") <= max_hamming)
    )


AUDIO_HASH_SCHEMA = "media_id long, shash long"

# spectral-hash grid: 8 time blocks x 8 frequency bands over 200-3400 Hz
_SHASH_FRAME = 1024
_SHASH_BANDS_HZ = [200 + i * 400 for i in range(9)]   # 8 bands of 400 Hz


def audio_spectral_hash(media: DataFrame) -> DataFrame:
    """64-bit spectral fingerprint per audio payload — the audio twin
    of :func:`image_ahash`: decode PCM WAV → frame the waveform
    (1024-sample frames, half overlap) → FFT magnitude energy in 8
    fixed 400 Hz bands → average frames into 8 time blocks → threshold
    the 8×8 time×band energy grid at its mean → pack 64 bits
    (row-major, time-major). Robust to low-level noise and small level
    changes (threshold is relative); Hamming distance grows with
    spectral difference, so near-duplicate audio joins through
    :func:`hash_near_pairs` exactly like images.

    Arrow ``mapInPandas``, map-only, numpy FFT inside the worker;
    undecodable or too-short (< 2 frames) payloads yield NULL.
    """

    def hash_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        from whiterrabbit_spark.extensions import stdlib_codecs as sc

        def shash(raw: bytes) -> int | None:
            rate, x = sc.wav_decode_samples(raw)
            hop = _SHASH_FRAME // 2
            n_frames = (len(x) - _SHASH_FRAME) // hop + 1
            if n_frames < 2:
                return None
            frames = np.lib.stride_tricks.sliding_window_view(
                x, _SHASH_FRAME
            )[::hop]
            mags = np.abs(np.fft.rfft(frames, axis=1)) ** 2
            freqs = np.fft.rfftfreq(_SHASH_FRAME, 1.0 / rate)
            bands = np.stack(
                [
                    mags[:, (freqs >= lo) & (freqs < hi)].sum(axis=1)
                    for lo, hi in zip(_SHASH_BANDS_HZ, _SHASH_BANDS_HZ[1:])
                ],
                axis=1,
            )  # (n_frames, 8)
            # average frames into 8 equal time blocks
            idx = (np.arange(len(bands)) * 8) // len(bands)
            grid = np.zeros((8, 8))
            for t in range(8):
                sel = bands[idx == t]
                grid[t] = sel.mean(axis=0) if len(sel) else 0.0
            bits_arr = (grid >= grid.mean()).flatten()
            v = 0
            for bit in bits_arr:
                v = (v << 1) | int(bit)
            if v >= 1 << 63:
                v -= 1 << 64
            return v

        for pdf in batches:
            out = []
            for p in pdf["payload"]:
                try:
                    out.append(shash(bytes(p)))
                except Exception:
                    out.append(None)
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "shash": pd.array(out, dtype="Int64"),
                }
            )

    return media.select("media_id", "payload").mapInPandas(
        hash_batches, AUDIO_HASH_SCHEMA
    )


FRAME_HASH_SCHEMA = "media_id long, frame_idx long, fhash long"


def video_near_pairs(
    frames: DataFrame,
    min_jaccard: float = 0.5,
    df_cap: int = 1000,
    frame_hashes: DataFrame | None = None,
) -> DataFrame:
    """Video near-duplicate pairs: Jaccard similarity of the two
    videos' DISTINCT frame-aHash sets ≥ ``min_jaccard`` — the
    video-level dedup primitive (re-uploads, trims and re-encodes
    share most frames; unrelated videos share none). One Arrow pass
    hashes every frame (:func:`image_ahash`); everything after is the
    exact inverted-index plan the text family uses for containment:
    join videos through shared frame hashes, count the intersection
    per pair, derive the union from per-video set sizes — candidate
    fan-out is bounded by Σ df² over frame hashes, never the
    quadratic video self-join. ``df_cap`` drops frame hashes shared
    by more than that many videos (intros/outros/black frames — the
    boilerplate that would otherwise pair everything with
    everything), the same hot-postings bound as
    ``dedup.containment_pairs``'s rare-shingle rule. The distinct
    hash-set frame is PERSISTED (it feeds the df filter, both join
    sides and the set sizes — without the cache each downstream branch
    would re-run the Arrow decode pass, the dominant cost); pass
    ``frame_hashes`` (a precomputed ``(media_id, ahash)`` frame) to
    share one hash pass with :func:`video_keep_best`.

    Returns ``(id1, id2, n_common, jaccard)``, id1 < id2.
    """
    if frame_hashes is None:
        frame_hashes = image_ahash(frames.select("media_id", "payload")).where(
            F.col("ahash").isNotNull()
        )
    fh = pin(frame_hashes.select("media_id", "ahash").distinct())
    rare = (
        fh.groupBy("ahash")
        .agg(F.count(F.lit(1)).alias("__df"))
        .where(F.col("__df") <= df_cap)
        .select("ahash")
    )
    posts = fh.join(rare, "ahash")
    # set sizes AFTER the cap: boilerplate frames leave numerator AND
    # denominator, so shared intros can't dilute a true near-dup's score
    sizes = posts.groupBy("media_id").agg(F.count(F.lit(1)).alias("n_frames"))
    a = posts.alias("a")
    b = posts.alias("b")
    common = (
        a.join(
            b,
            (F.col("a.ahash") == F.col("b.ahash"))
            & (F.col("a.media_id") < F.col("b.media_id")),
        )
        .groupBy(
            F.col("a.media_id").alias("id1"), F.col("b.media_id").alias("id2")
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    jac = F.col("n_common") / (
        F.col("na") + F.col("nb") - F.col("n_common")
    ).cast("double")
    return (
        common.join(sizes.select(F.col("media_id").alias("id1"),
                                 F.col("n_frames").alias("na")), "id1")
        .join(sizes.select(F.col("media_id").alias("id2"),
                           F.col("n_frames").alias("nb")), "id2")
        .select("id1", "id2", "n_common", F.round(jac, 6).alias("jaccard"))
        .where(F.col("jaccard") >= min_jaccard)
    )


def video_keep_best(
    frames: DataFrame, min_jaccard: float = 0.5, df_cap: int = 1000
) -> DataFrame:
    """Canonical video dedup: frame-set-Jaccard near-dup clusters
    (:func:`video_near_pairs`) keep the member with the most DECODABLE
    frames — the longest/most-complete copy survives a re-upload/trim
    cluster, and corrupt frame rows can't inflate a score the way a
    raw row count would let them. Completes the near-pairs ×
    keep-best matrix over all modalities. The per-frame hashes are
    computed ONCE and shared between the score count and the pairing
    join (one Arrow pass total); videos with zero decodable frames
    still appear, kept as score-0 singletons.
    Returns ``(media_id, cluster_id, score, kept)``, cluster_id NULL
    for singletons, score = decodable frame count.
    """
    from whiterrabbit_spark.extensions import dedup

    hashes = pin(
        image_ahash(frames.select("media_id", "payload"))
        .where(F.col("ahash").isNotNull())
    )
    counts = hashes.groupBy("media_id").agg(
        F.count(F.lit(1)).alias("__n_decodable")
    )
    scored = (
        frames.select("media_id").distinct()
        .join(counts, "media_id", "left")
        .select(
            "media_id",
            F.coalesce("__n_decodable", F.lit(0)).cast("double").alias("score"),
        )
    )
    pairs = video_near_pairs(frames, min_jaccard, df_cap, frame_hashes=hashes)
    return dedup.keep_best_dedup(
        scored, pairs, id_col="media_id", score_col="score"
    )


def video_scene_cuts(
    frames: DataFrame,
    hamming_threshold: int = 16,
) -> DataFrame:
    """Scene-change detection over a frame table ``(media_id,
    frame_idx, payload)`` — the video-curation primitive behind
    keyframe selection and shot-boundary sampling: per frame the
    64-bit perceptual aHash (:func:`ahash_bytes`), then within each
    video (ordered by frame index) the Hamming distance to the
    PREVIOUS frame; a distance above ``hamming_threshold`` marks a
    cut. Consecutive frames of one shot hash nearly identically
    (Hamming ≈ 0–4); a hard cut rewrites most of the grid (≈ 20–40).

    Plan: one map-only Arrow hashing pass, then ONE window partitioned
    by video — state per partition is bounded by frames-per-video
    (metadata scale, thousands), never corpus scale, so the window
    holds at 100 TB of video as long as single videos do.

    Returns ``(media_id, frame_idx, fhash, hamming_prev, is_cut)``;
    frame 0 and undecodable frames have NULL hamming_prev / FALSE
    is_cut.
    """

    def hash_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = [ahash_bytes(bytes(p)) for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "frame_idx": pdf["frame_idx"],
                    "fhash": pd.array(out, dtype="Int64"),
                }
            )

    hashed = frames.select("media_id", "frame_idx", "payload").mapInPandas(
        hash_batches, FRAME_HASH_SCHEMA
    )
    w = Window.partitionBy("media_id").orderBy("frame_idx")
    prev = F.lag("fhash").over(w)
    ham = F.when(
        prev.isNotNull() & F.col("fhash").isNotNull(),
        F.bit_count(F.col("fhash").bitwiseXOR(prev)),
    )
    return hashed.select(
        "media_id",
        "frame_idx",
        "fhash",
        ham.alias("hamming_prev"),
        F.coalesce(ham > hamming_threshold, F.lit(False)).alias("is_cut"),
    )
