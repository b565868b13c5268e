"""Byte-pair-encoding tokenizer TRAINING on Spark.

``textstats.bpe_token_count`` estimates token counts with a fixed
regex-ish segmentation; this module learns the merge table itself — the
actual tokenizer-prep step of a training-data pipeline (Sennrich et al.
2016, the published BPE algorithm; no external tokenizer library).

Scale shape — the key observation is that BPE trains on the WORD
FREQUENCY TABLE, not the corpus:

* one corpus-sized job builds ``(word, count)`` (split+explode+groupBy,
  map-side combine) — the only pass over the data;
* every merge iteration runs on the O(vocab) table: adjacent-pair
  counts weighted by word count (explode+groupBy), argmax, then the
  merge applied to each word's symbol sequence. At web scale the vocab
  is ~10⁷–10⁸ rows — iteration cost is independent of corpus size;
* scale-adaptive like ``connected_components``: below
  ``driver_threshold`` distinct words the whole loop runs driver-side
  over the collected table (n_merges distributed rounds of scheduler
  latency collapse to microseconds); above it each round is one
  explode→groupBy→TakeOrdered plus an Arrow merge-apply pass.

Determinism: ties on pair count break on the pair itself
((left, right) ascending) — both paths and any partitioning produce the
identical merge table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from whiterrabbit_spark.cache import pin

#: End-of-word marker (Sennrich's </w>): keeps "low" in "lowest" from
#: merging across word boundaries. Corpora that legitimately contain
#: U+2581 should strip or remap it upstream (normalize_text) — the
#: marker collides like any sentinel would.
EOW = "▁"


def word_freq_table(df: DataFrame, text_col: str) -> DataFrame:
    """(word, count) over lowercased whitespace-split words — the ONE
    corpus-sized job of BPE training."""
    return (
        df.select(
            F.explode(
                F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
            ).alias("word")
        )
        .where(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("count"))
    )


def _symbols(word: str) -> list[str]:
    return list(word) + [EOW]


def _pair_counts(vocab: list[tuple[list[str], int]]) -> dict:
    counts: dict = {}
    for syms, n in vocab:
        for a, b in zip(syms, syms[1:]):
            counts[(a, b)] = counts.get((a, b), 0) + n
    return counts


def _merge_word(syms: list[str], a: str, b: str) -> list[str]:
    out, i = [], 0
    while i < len(syms):
        if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
            out.append(a + b)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return out


def learn_bpe_merges(
    df: DataFrame,
    text_col: str,
    n_merges: int = 50,
    driver_threshold: int = 1_000_000,
) -> DataFrame:
    """Learn the top ``n_merges`` BPE merges; returns
    ``(rank, left, right, pair_count)`` ordered by rank. Stops early if
    no pair occurs twice (tiny corpora).

    Below ``driver_threshold`` distinct words the loop runs driver-side
    on the collected frequency table; above it every iteration is a
    distributed explode→groupBy over the vocab table (never the corpus)
    with the merge applied in one Arrow pass. Both paths share the same
    tie-break (count DESC, (left, right) ASC) and produce identical
    tables — pinned by tests.
    """
    wf = pin(word_freq_table(df, text_col), checkpoint=True, eager=False)
    n_vocab = wf.count()
    spark = df.sparkSession
    schema = "rank int, left string, right string, pair_count long"
    if n_vocab <= driver_threshold:
        vocab = [(_symbols(r["word"]), int(r["count"])) for r in wf.collect()]
        merges = []
        for rank in range(n_merges):
            counts = _pair_counts(vocab)
            if not counts:
                break
            (a, b), n = min(
                counts.items(), key=lambda kv: (-kv[1], kv[0])
            )
            if n < 2:
                break
            merges.append((rank, a, b, n))
            vocab = [(_merge_word(s, a, b), c) for s, c in vocab]
        return spark.createDataFrame(merges, schema)

    # distributed path: vocab as (symbols array, count) frame
    import pandas as pd

    cur = pin(wf.select(
        F.concat(
            F.split(F.col("word"), ""), F.array(F.lit(EOW))
        ).alias("syms"),
        F.col("count"),
    ), checkpoint=True, eager=False)
    merges = []
    for rank in range(n_merges):
        pairs = (
            cur.select(
                F.explode(
                    F.zip_with(
                        F.slice(F.col("syms"), 1, F.size("syms") - 1),
                        F.slice(F.col("syms"), 2, F.size("syms") - 1),
                        lambda x, y: F.struct(
                            x.alias("l"), y.alias("r")
                        ),
                    )
                ).alias("p"),
                "count",
            )
            .groupBy("p.l", "p.r")
            .agg(F.sum("count").alias("n"))
        )
        top = pairs.orderBy(
            F.col("n").desc(), F.col("l").asc(), F.col("r").asc()
        ).limit(1).collect()
        if not top or top[0]["n"] < 2:
            break
        a, b, n = top[0]["l"], top[0]["r"], int(top[0]["n"])
        merges.append((rank, a, b, n))

        def apply_merge(batches, a=a, b=b):
            for pdf in batches:
                pdf["syms"] = [
                    _merge_word(list(s), a, b) for s in pdf["syms"]
                ]
                yield pdf

        cur = pin(cur.mapInPandas(
            apply_merge, "syms array<string>, count long"
        ), checkpoint=True, eager=False)
    return spark.createDataFrame(merges, schema)


def segment_bpe(
    df: DataFrame,
    text_col: str,
    id_col: str,
    merges: list[tuple[str, str]],
) -> DataFrame:
    """Apply a learned merge list: ``(id, n_tokens, tokens)`` per
    document. Map-only Arrow pass; the merge table broadcasts as a plain
    Python list (KB-scale — the whole point of BPE is a small model)."""
    import re

    import pandas as pd

    ws = re.compile(r"\s+")
    ranks = {pair: i for i, pair in enumerate(merges)}

    def seg_word(word: str) -> list[str]:
        syms = _symbols(word)
        while len(syms) > 1:
            best, best_rank = None, None
            for p in zip(syms, syms[1:]):
                rk = ranks.get(p)
                if rk is not None and (best_rank is None or rk < best_rank):
                    best, best_rank = p, rk
            if best is None:
                break
            syms = _merge_word(syms, best[0], best[1])
        return syms

    def run(batches):
        for pdf in batches:
            toks = [
                [
                    t
                    for w in ws.split(str(x).strip().lower())
                    if w
                    for t in seg_word(w)
                ]
                for x in pdf[text_col]
            ]
            yield pd.DataFrame(
                {
                    "id": pdf[id_col],
                    "n_tokens": [len(t) for t in toks],
                    "tokens": toks,
                }
            )

    return df.select(id_col, text_col).mapInPandas(
        run, "id long, n_tokens long, tokens array<string>"
    )


def pack_token_sequences(
    tokens_df: DataFrame,
    seq_len: int,
    id_col: str = "id",
    tokens_col: str = "tokens",
    eos: str = "</s>",
    shard_token_budget: int = 1_000_000,
) -> DataFrame:
    """The last mile of pretraining data prep: concatenate tokenized
    documents (EOS after each) in deterministic ``id_col`` order and cut
    the stream into fixed ``seq_len`` windows —
    ``(shard_id, seq_idx, tokens)``, every row exactly ``seq_len`` long.

    Scale shape: a single global concatenation is a one-reducer
    non-plan; instead documents assign to ~``shard_token_budget``-token
    shards via :func:`splits.pack_shards` (range partition +
    partition-local prefix sums — its documented distributed form), and
    each shard packs INDEPENDENTLY in one ``applyInPandas`` group whose
    memory is bounded by the shard budget. Packing-across-shard
    boundaries is deliberately absent: each shard's incomplete tail
    window is DROPPED (standard practice; expected loss is
    ``seq_len/2`` tokens per shard, vanishing against the budget).
    Determinism: same inputs → same shards → same sequences, any
    partitioning.
    """
    import pandas as pd

    from whiterrabbit_spark.extensions.splits import pack_shards

    with_n = tokens_df.select(
        F.col(id_col).alias("__id"),
        F.col(tokens_col).alias("__toks"),
        (F.size(tokens_col) + 1).alias("__w"),  # +1 for the EOS
    )
    assign = pack_shards(with_n, "__id", "__w", float(shard_token_budget))
    joined = with_n.join(assign.select("__id", "shard_id"), "__id")

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("__id")
        shard = int(pdf["shard_id"].iloc[0])
        stream: list[str] = []
        for toks in pdf["__toks"]:
            stream.extend(list(toks))
            stream.append(eos)
        n_full = len(stream) // seq_len
        return pd.DataFrame(
            {
                "shard_id": [shard] * n_full,
                "seq_idx": list(range(n_full)),
                "tokens": [
                    stream[i * seq_len : (i + 1) * seq_len]
                    for i in range(n_full)
                ],
            }
        )

    return joined.groupBy("shard_id").applyInPandas(
        pack, "shard_id long, seq_idx long, tokens array<string>"
    )
