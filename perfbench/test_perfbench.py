"""Self-tests for the benchmark: ``python3 -m pytest perfbench -q``.

The smoke runs use ``PERFBENCH_TINY=1`` (small registry tables and a 2-query
mix; the scan folder keeps its ~0.7 MB so that its sample stays a real one)
and take under a minute each.
"""

from __future__ import annotations

import filecmp
import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import checks  # noqa: E402
import run as bench  # noqa: E402
import tracing  # noqa: E402

SCRATCH = os.path.join(HERE, "_work", "selftest")


@pytest.fixture
def scratch():
    shutil.rmtree(SCRATCH, ignore_errors=True)
    os.makedirs(SCRATCH)
    yield SCRATCH
    shutil.rmtree(SCRATCH, ignore_errors=True)


def _bench(workload: str, trace: int, **env) -> dict:
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "3", "--seconds", "1", "--trace", str(trace)],
        cwd=REPO, env=dict(os.environ, PERFBENCH_TINY="1", **env),
        capture_output=True, text=True, timeout=300,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


def _assert_metrics(result: dict, units: dict[str, str]) -> None:
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == units
    assert all(isinstance(v["value"], (int, float)) for v in result["metrics"].values())


def test_generator_is_deterministic(scratch):
    dirs = []
    for i in range(2):
        d = os.path.join(scratch, f"gen{i}")
        subprocess.run([sys.executable, os.path.join(HERE, "gen.py"), d, "--seed", "7"],
                       env=dict(os.environ, PERFBENCH_TINY="1"), check=True)
        dirs.append(d)
    cmp = filecmp.dircmp(*dirs)
    stack, differing = [cmp], []
    while stack:
        c = stack.pop()
        differing += c.diff_files + c.left_only + c.right_only
        stack += c.subdirs.values()
        for f in c.common_files:
            with open(os.path.join(c.left, f), "rb") as a, open(os.path.join(c.right, f), "rb") as b:
                if a.read() != b.read():
                    differing.append(f)
    assert not differing
    with open(os.path.join(dirs[0], "manifest.json")) as fh:
        manifest = json.load(fh)
    ragged = manifest["scan_sampled"]["hostile_ragged.tsv"]
    assert ragged["quarantined"] > 0
    assert manifest["scan_sampled"]["hostile_bom_crlf.tsv"]["all_empty_columns"] == 1


def test_sampled_tables_get_a_real_sample(scratch):
    """The big tables take the Bernoulli path of ``exact_random_sample``,
    not a bare ``limit`` (which a fraction of ~1 amounts to)."""
    subprocess.run([sys.executable, os.path.join(HERE, "gen.py"), scratch, "--seed", "1",
                    "--workload", "scan_sampled"], check=True)
    with open(os.path.join(scratch, "manifest.json")) as fh:
        files = json.load(fh)["scan_sampled"]
    sys.path.insert(0, REPO)
    from whiterrabbit_spark.sampling import exact_random_sample

    class Frame:  # records the fraction the sampler asks for
        def sample(self, fraction, seed):
            self.fraction = fraction
            return self

        def limit(self, n):
            return self

    for name in ("lineitem_big.tsv", "orders_big.tsv"):
        df = Frame()
        exact_random_sample(df, bench.SAMPLED_MAX_ROWS, total_rows=files[name]["data_rows"])
        assert df.fraction < 0.5, (name, df.fraction)


def test_scan_smoke_prints_end_to_end_metrics():
    result = _bench("scan_sampled", 0)
    _assert_metrics(result, bench.END_TO_END)
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 2
    assert all(v["value"] > 0 for v in result["metrics"].values())


def test_registry_smoke_prints_layer_metrics():
    result = _bench("registry_mix", 1)
    _assert_metrics(result, bench.per_layer_units(bench.TINY_MIX))
    assert result["correct"]
    m = {k: v["value"] for k, v in result["metrics"].items()}
    assert m["spark.jobs"] > 0 and m["failure_ratio"] == 0
    assert all(m[f"query.{q}.jobs"] > 0 for q in bench.TINY_MIX)


def test_corrupted_result_hash_is_a_failure():
    result = _bench("registry_mix", 1, PERFBENCH_CORRUPT="1")
    assert not result["correct"]
    # the first query of each pass carries the corrupted hash
    assert result["failed"] == result["attempted"] // len(bench.TINY_MIX)
    assert result["metrics"]["failure_ratio"]["value"] == pytest.approx(
        result["failed"] / result["attempted"])


def test_corrupted_report_truth_is_a_failure():
    result = _bench("scan_sampled", 0, PERFBENCH_CORRUPT="1")
    assert not result["correct"]
    assert result["failed"] == result["attempted"]


def test_report_digest_mismatch_is_reported(scratch):
    path = os.path.join(scratch, "ScanReport_Overview.tsv")
    with open(path, "w") as fh:
        fh.write("table\tn_rows\nFile1\t3\n")
    expected = checks.report_digests(scratch)
    assert checks.check_digests(scratch, expected) == []
    with open(path, "a") as fh:
        fh.write("File2\t4\n")
    assert checks.check_digests(scratch, expected)


def test_refuses_to_run_without_the_package(scratch):
    shutil.copytree(HERE, os.path.join(scratch, "perfbench"),
                    ignore=shutil.ignore_patterns("_work", "_results", "__pycache__"))
    shutil.copy(os.path.join(REPO, "BENCHMARK.json"), scratch)
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "scan_sampled", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=scratch, capture_output=True, text=True, timeout=60,
    )
    assert p.returncode != 0 and p.stdout == ""


def test_attribution_order():
    spans = [
        {"id": 0, "layer": "profile", "thread": 1, "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "layer": "frequency", "thread": 2, "parent": None, "start": 5.0, "end": 8.0},
    ]
    job = {"desc": "", "callsite": "", "submit": 2.0}
    # 1. own tag, then a layer-module call site while that layer is open
    assert tracing.attribute(dict(job, desc="perfbench:infer"), spans) == "infer"
    site = "collect at /x/whiterrabbit_spark/frequency.py:70"
    assert tracing.attribute(dict(job, callsite=site, submit=6.0), spans) == "frequency"
    # 2. the one layer open anywhere
    assert tracing.attribute(job, spans) == "profile"
    # 3. two layers open and no tag: unattributed
    assert tracing.attribute(dict(job, submit=6.0), spans) is None


def test_union_length_merges_overlaps():
    assert tracing.union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert tracing.union_length([]) == 0
