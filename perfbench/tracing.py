"""Layer spans recorded from outside the package, plus event-log attribution.

``Tracer.install`` replaces the public functions that ``cli`` / ``scan`` /
``report`` call with wrappers that open a span per call, for the rest of
the process. Spans live in memory until the benchmark writes them out.
While a span is open its thread carries the Spark job description
``perfbench:<layer>``, so jobs submitted on that thread name their layer in
the event log.

Some layers return lazy frames whose work runs later in glue code:
``exact_random_sample`` (materialised by ``scan``'s cached ``count``),
``infer_and_cast`` (the persisted typed frame's ``count`` in full scans) and
``value_frequencies`` (executed when ``report`` converts the frame). The
wrappers tag the returned frame so that those calls open a span of the
owning layer, when no other span is open on the calling thread.

Jobs are attributed after ``spark.stop()`` from the event log, in order:

1. the job's own tag - the ``perfbench:<layer>`` description of its
   submitting thread, else a ``callSite.short`` in one of the layer modules
   while a span of that layer is open (the package's own worker threads);
2. else the one layer whose spans were open (on any thread) at submission;
3. else the job counts as unattributed.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import threading
import time

DESC_KEY = "spark.job.description"
TAG = "perfbench:"
# call-site file -> layer, for jobs submitted from the package's own threads
CALLSITE_LAYERS = {
    "io.py": "io.read", "sampling.py": "sampling", "infer.py": "infer",
    "profile.py": "profile", "frequency.py": "frequency",
    "report.py": "report.write", "xlsx.py": "report.write",
}
SCAN_LAYERS = ("io.count_lines", "io.read", "sampling", "infer", "profile",
               "frequency", "report.write")


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self.installed = False

    # ------------------------------------------------------------ spans
    def _stack(self) -> list[dict]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _set_tag(self, layer: str | None) -> None:
        self.sc.setLocalProperty(DESC_KEY, TAG + layer if layer else None)

    @contextlib.contextmanager
    def span(self, layer: str):
        stack = self._stack()
        rec = {"layer": layer, "thread": threading.get_ident(),
               "parent": stack[-1]["id"] if stack else None,
               "start": time.time(), "end": None}
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        stack.append(rec)
        self._set_tag(layer)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            stack.pop()
            self._set_tag(stack[-1]["layer"] if stack else None)

    # ---------------------------------------------------------- wrappers
    def _patch(self, owner, name: str, layer: str, tag_result=None) -> None:
        orig = getattr(owner, name)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with self.span(layer):
                out = orig(*args, **kwargs)
            if tag_result:
                tag_result(out, layer)
            return out

        setattr(owner, name, wrapper)

    def tag_frame(self, df, layer: str, methods: tuple[str, ...],
                  within: str | None = None) -> None:
        """Make later ``methods`` calls on ``df`` run inside a ``layer`` span
        when the calling thread has no span open, or only a ``within`` span
        innermost (the report sink converting a frequency frame)."""
        for m in methods:
            bound = getattr(df, m)

            def call(*a, _bound=bound, **kw):
                stack = self._stack()
                if stack and stack[-1]["layer"] != within:
                    return _bound(*a, **kw)
                with self.span(layer):
                    return _bound(*a, **kw)

            setattr(df, m, call)

    def install(self) -> None:
        from whiterrabbit_spark import cli, io, scan

        self._patch(io, "count_lines", "io.count_lines")
        self._patch(io, "read_all_string", "io.read")
        self._patch(io, "read_all_string_quarantine", "io.read")
        self._patch(scan, "_write_quarantine", "io.read")
        self._patch(scan, "exact_random_sample", "sampling",
                    lambda df, lay: self.tag_frame(df, lay, ("count",)))
        self._patch(scan, "infer_and_cast", "infer",
                    lambda out, lay: self.tag_frame(out[0], lay, ("count",)))
        self._patch(scan, "profile_table", "profile")
        self._patch(scan, "value_frequencies", "frequency",
                    lambda df, lay: self.tag_frame(df, lay, ("toPandas", "collect"),
                                                   within="report.write"))
        for name in ("write_tsv_report", "write_xlsx_report"):
            self._patch(cli, name, "report.write")
        self.installed = True

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


# ------------------------------------------------------------ event log

def read_event_log(log_dir: str) -> list[dict]:
    """Jobs and per-stage task totals from the (single, uncompressed) log."""
    names = [n for n in os.listdir(log_dir) if not n.startswith(".")]
    if len(names) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {names}")
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    tasks: list[dict] = []
    with open(os.path.join(log_dir, names[0])) as fh:
        for line in fh:
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                jid = e["Job ID"]
                jobs[jid] = {"id": jid, "submit": e["Submission Time"] / 1000.0,
                             "end": None, "desc": props.get(DESC_KEY) or "",
                             "callsite": props.get("callSite.short") or "",
                             "tasks": []}
                for sid in e.get("Stage IDs", []):
                    stage_job.setdefault(sid, jid)
            elif kind == "SparkListenerJobEnd":
                if e["Job ID"] in jobs:
                    jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1000.0
            elif kind == "SparkListenerTaskEnd":
                m = e.get("Task Metrics") or {}
                sw = m.get("Shuffle Write Metrics") or {}
                tasks.append({
                    "stage": e["Stage ID"],
                    "run_s": m.get("Executor Run Time", 0) / 1000.0,
                    "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                    "gc_s": m.get("JVM GC Time", 0) / 1000.0,
                    "input_bytes": (m.get("Input Metrics") or {}).get("Bytes Read", 0),
                    "shuffle_bytes": sw.get("Shuffle Bytes Written", 0),
                    "spill_bytes": m.get("Disk Bytes Spilled", 0),
                })
    for t in tasks:
        jid = stage_job.get(t["stage"])
        if jid is not None:
            jobs[jid]["tasks"].append(t)
    return sorted(jobs.values(), key=lambda j: j["id"])


def _innermost_open(spans: list[dict], t: float) -> set[str]:
    """Layers of the innermost span open at time ``t`` on each thread."""
    best: dict[int, dict] = {}
    for s in spans:
        if s["start"] <= t <= (s["end"] or t):
            cur = best.get(s["thread"])
            if cur is None or s["start"] >= cur["start"]:
                best[s["thread"]] = s
    return {s["layer"] for s in best.values()}


def attribute(job: dict, spans: list[dict]) -> str | None:
    if job["desc"].startswith(TAG):
        return job["desc"][len(TAG):]
    open_layers = _innermost_open(spans, job["submit"])
    site = job["callsite"].rsplit(":", 1)[0]
    if "whiterrabbit_spark" in site:
        layer = CALLSITE_LAYERS.get(os.path.basename(site))
        if layer and any(s["layer"] == layer and s["start"] <= job["submit"] <= s["end"]
                         for s in spans):
            return layer
    if len(open_layers) == 1:
        return open_layers.pop()
    return None


def union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def run_layers(run: dict, spans: list[dict], jobs: list[dict], cores: int) -> dict:
    """Per-layer figures of one traced run (``run`` has start/end epoch s)."""
    t0, t1 = run["start"], run["end"]
    wall = t1 - t0
    inside = [s for s in spans if s["end"] and t0 <= s["start"] <= t1]
    child_time: dict[int, float] = {}
    for s in inside:
        if s["parent"] is not None:
            child_time[s["parent"]] = child_time.get(s["parent"], 0.0) + s["end"] - s["start"]
    out: dict[str, float] = {}
    for s in inside:
        dotted = "." in s["layer"] and not s["layer"].startswith("query.")
        key = s["layer"] + ("_s" if dotted else ".s")
        self_s = s["end"] - s["start"] - child_time.get(s["id"], 0.0)
        out[key] = out.get(key, 0.0) + self_s
    layer_spans = [(s["start"], s["end"]) for s in inside if s["layer"] in SCAN_LAYERS]
    out["scan.self_s"] = wall - union_length(layer_spans) if layer_spans else 0.0

    run_jobs = [j for j in jobs if t0 <= j["submit"] <= t1]
    totals = {"jobs": 0, "tasks": 0, "task_run_s": 0.0, "task_cpu_s": 0.0,
              "gc_s": 0.0, "input_bytes": 0, "shuffle_bytes": 0, "spill_bytes": 0}
    per_layer: dict[str, dict] = {}
    unattributed = 0
    for j in run_jobs:
        layer = attribute(j, inside)
        if layer is None:
            unattributed += 1
        rec = per_layer.setdefault(layer, {"jobs": 0, "task_cpu_s": 0.0, "shuffle_bytes": 0})
        rec["jobs"] += 1
        totals["jobs"] += 1
        for t in j["tasks"]:
            totals["tasks"] += 1
            totals["task_run_s"] += t["run_s"]
            totals["task_cpu_s"] += t["cpu_s"]
            for k in ("gc_s", "input_bytes", "shuffle_bytes", "spill_bytes"):
                totals[k] += t[k]
            rec["task_cpu_s"] += t["cpu_s"]
            rec["shuffle_bytes"] += t["shuffle_bytes"]
    for k, v in totals.items():
        out["spark." + k] = v
    for layer, rec in per_layer.items():
        if layer is None:
            continue
        for k, v in rec.items():
            out[f"{layer}.{k}"] = v
    job_spans = [(max(j["submit"], t0), min(j["end"] or t1, t1)) for j in run_jobs]
    out["spark.outside_jobs_s"] = wall - union_length(job_spans)
    out["spark.core_busy_ratio"] = totals["task_run_s"] / (cores * wall)
    out["spark.unattributed_jobs_ratio"] = unattributed / max(totals["jobs"], 1)
    return out
