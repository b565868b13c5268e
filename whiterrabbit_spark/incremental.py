"""Incremental folder re-profiling: scan only new/changed files.

The reference (whiteRRabbit.R:449-464) rescans every file on every run.
On a production lake the daily delta is a fraction of the folder, so
this module adds a cache keyed by each file's (size, mtime): unchanged
files' summary/frequency frames load back from parquet and only
new/changed files pay a scan. At 100 TB this is the difference between
a nightly full-lake pass and touching yesterday's new partitions.

Cache layout under ``state_dir``::

    manifest.json                   # file_name -> freshness + overview row
    summary/<digest>.parquet        # per-file column summary
    freq/<digest>.parquet           # per-file frequency table (if any)

where ``<digest>`` = md5 of the file path. The manifest carries the
overview quirk fields verbatim (header-counted n_rows etc.), so a fully
cached run reproduces the reference-shaped overview bit-for-bit.
Deleted files fall out of the manifest (and the overview) on the next
run; their orphaned parquet is removed best-effort.

Cached entries return ``typed=None`` — the lazy post-inference frame
only exists for freshly scanned files (downstream consumers that need
it, like the drift CLI's distribution tests, force a scan by clearing
the state dir or touching the file).
"""

from __future__ import annotations

import dataclasses
import hashlib
import json
import os
import shutil
from dataclasses import dataclass, field

from pyspark.sql import SparkSession

from whiterrabbit_spark import io as wio
from whiterrabbit_spark.cache import ThreadPool
from whiterrabbit_spark.config import ScanConfig
from whiterrabbit_spark.overview import FileScanResult, build_overview
from whiterrabbit_spark.report import sortable_columns
from whiterrabbit_spark.scan import scan_file

_MANIFEST = "manifest.json"


@dataclass
class IncrementalReport:
    """What the run actually did — the observability half of the cache."""

    scanned: list[str] = field(default_factory=list)
    loaded: list[str] = field(default_factory=list)
    evicted: list[str] = field(default_factory=list)


def _digest(path: str) -> str:
    return hashlib.md5(path.encode("utf-8")).hexdigest()


def _freshness(path: str) -> dict:
    st = os.stat(path)
    return {"size": st.st_size, "mtime": st.st_mtime}


def _load_manifest(state_dir: str) -> dict:
    p = os.path.join(state_dir, _MANIFEST)
    if not os.path.exists(p):
        return {}
    with open(p, encoding="utf-8") as fh:
        return json.load(fh)


def _save_manifest(state_dir: str, manifest: dict) -> None:
    p = os.path.join(state_dir, _MANIFEST)
    tmp = p + ".tmp"
    with open(tmp, "w", encoding="utf-8") as fh:
        json.dump(manifest, fh, indent=1, sort_keys=True)
    os.replace(tmp, p)  # atomic on POSIX — a crashed run never half-writes


def scan_folder_incremental(
    spark: SparkSession,
    working_folder: str,
    state_dir: str,
    cfg: ScanConfig | None = None,
    max_parallel_files: int = 4,
):
    """Profile a folder, reusing cached per-file results when the file's
    (size, mtime) is unchanged since the last run.

    Returns ``(overview_df, [FileScanResult], IncrementalReport)`` —
    the first two match ``scan_folder``'s contract (same ordering: file
    name ascending).
    """
    cfg = cfg or ScanConfig()
    os.makedirs(state_dir, exist_ok=True)
    os.makedirs(os.path.join(state_dir, "summary"), exist_ok=True)
    os.makedirs(os.path.join(state_dir, "freq"), exist_ok=True)
    manifest = _load_manifest(state_dir)
    # cached results are only valid under the settings that produced
    # them: a changed ScanConfig (max_rows, delimiter, approx, ...)
    # invalidates the WHOLE cache — otherwise a --max-rows 100 profile
    # would silently serve a later --max-rows -1 run
    cfg_key = hashlib.md5(
        json.dumps(dataclasses.asdict(cfg), sort_keys=True).encode("utf-8")
    ).hexdigest()
    if manifest.get("__config__") != cfg_key:
        manifest = {"__config__": cfg_key}
    tables = wio.discover_tables(working_folder, cfg.delimiter, cfg.source_format)
    report = IncrementalReport()

    to_scan: list[tuple[str, str]] = []
    for _, path in tables:
        name = os.path.basename(path)
        ent = manifest.get(name)
        if ent and ent.get("freshness") == _freshness(path) and os.path.isdir(
            os.path.join(state_dir, "summary", _digest(path))
        ):
            report.loaded.append(name)
        else:
            to_scan.append((name, path))

    if max_parallel_files > 1 and len(to_scan) > 1:
        with ThreadPool(max_workers=max_parallel_files) as pool:
            fresh = list(
                pool.map(lambda t: scan_file(spark, t[1], cfg), to_scan)
            )
    else:
        fresh = [scan_file(spark, path, cfg) for _, path in to_scan]

    # persist fresh results + manifest rows
    for res in fresh:
        d = _digest(res.file_path)
        sum_dir = os.path.join(state_dir, "summary", d)
        # sortWithinPartitions: single-reducer shuffle order is
        # nondeterministic; sorted writes keep snapshot bytes stable
        # run-to-run for file-level diffing. Orderable columns only —
        # a map-typed column would make the sort throw (ADVICE r7).
        res.summary.repartition(1).sortWithinPartitions(
            *sortable_columns(res.summary)
        ).write.mode("overwrite").parquet(sum_dir)
        freq_dir = os.path.join(state_dir, "freq", d)
        if res.frequencies is not None:
            res.frequencies.repartition(1).sortWithinPartitions(
                *sortable_columns(res.frequencies)
            ).write.mode("overwrite").parquet(freq_dir)
        elif os.path.isdir(freq_dir):
            shutil.rmtree(freq_dir)
        # hand downstream consumers the just-written parquet, not the
        # original plan — otherwise the report sink re-runs the full
        # profiling job a second time for exactly the fresh (expensive)
        # files this cache exists to optimize
        res.summary = spark.read.parquet(sum_dir)
        if res.frequencies is not None:
            res.frequencies = spark.read.parquet(freq_dir)
        manifest[res.file_name] = {
            "path": res.file_path,
            "freshness": _freshness(res.file_path),
            "total_rows": res.total_rows,
            "n_rows_checked": res.n_rows_checked,
            "n_fields": res.n_fields,
            "n_fields_empty": res.n_fields_empty,
            "inferred_types": res.inferred_types,
            "has_freq": res.frequencies is not None,
        }
        report.scanned.append(res.file_name)

    # evict manifest entries whose file vanished from the folder
    live = {os.path.basename(p) for _, p in tables} | {"__config__"}
    for name in sorted(set(manifest) - live):
        ent = manifest.pop(name)
        report.evicted.append(name)
        for sub in ("summary", "freq"):
            p = os.path.join(state_dir, sub, _digest(ent["path"]))
            if os.path.isdir(p):
                shutil.rmtree(p, ignore_errors=True)
    _save_manifest(state_dir, manifest)

    # assemble results in folder order, loading cached frames lazily
    fresh_by_name = {r.file_name: r for r in fresh}
    results: list[FileScanResult] = []
    for _, path in tables:
        name = os.path.basename(path)
        if name in fresh_by_name:
            results.append(fresh_by_name[name])
            continue
        ent = manifest[name]
        d = _digest(path)
        summary = spark.read.parquet(os.path.join(state_dir, "summary", d))
        freq = (
            spark.read.parquet(os.path.join(state_dir, "freq", d))
            if ent.get("has_freq")
            and os.path.isdir(os.path.join(state_dir, "freq", d))
            else None
        )
        results.append(
            FileScanResult(
                file_path=path,
                file_name=name,
                total_rows=ent["total_rows"],
                n_rows_checked=ent["n_rows_checked"],
                n_fields=ent["n_fields"],
                n_fields_empty=ent["n_fields_empty"],
                summary=summary,
                frequencies=freq,
                inferred_types=dict(ent.get("inferred_types", {})),
                typed=None,
            )
        )
    return build_overview(spark, results), results, report
