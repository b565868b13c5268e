"""Type-inference parity tests.

Vectors from the reference's own test suite
(/root/reference/tests/testthat/test_robust_parse.R, T:5-38) plus every
quirk branch from SURVEY.md §1.3 / FIXTURES.md B1.
"""

from __future__ import annotations

from pyspark.sql import Row
from pyspark.sql import functions as F

from tests.test_scan_e2e import _jobs_run_by
from whiterrabbit_spark.config import ScanConfig
from whiterrabbit_spark.infer import infer_and_cast, infer_types

CFG = ScanConfig()


def _one_col(spark, values, name="v"):
    return spark.createDataFrame([Row(**{name: v}) for v in values], f"{name} string")


def test_numeric_clean_with_missing(spark):
    # T:5-12 — ["1","2","3",NA,""] parses to double with NAs
    df = _one_col(spark, ["1", "2", "3", None, ""])
    typed, res = infer_and_cast(df, CFG)
    assert res.decisions["v"] == "double"
    vals = [r.v for r in typed.collect()]
    assert vals[:3] == [1.0, 2.0, 3.0]
    assert vals[3] is None and vals[4] is None  # "" folds to NULL post-cast


def test_mostly_non_numeric_stays_string(spark):
    # T:16-20 — ["a","b","1"] unchanged
    df = _one_col(spark, ["a", "b", "1"])
    res = infer_types(df, CFG)
    assert res.decisions["v"] == "string"


def test_iso_dates_become_timestamp(spark):
    # T:24-30 — ISO dates → POSIXct (timestamp, UTC)
    df = _one_col(spark, ["2023-01-01", "2023-06-15", "2023-12-31", "2024-02-29"])
    typed, res = infer_and_cast(df, CFG)
    assert res.decisions["v"] == "timestamp"
    vals = sorted(r.v.strftime("%Y-%m-%d %H:%M:%S") for r in typed.collect())
    assert vals[0] == "2023-01-01 00:00:00"


def test_mixed_non_date_stays_string(spark):
    # T:34-38 — ["notadate","2023-01-01"] (50% success < 0.8) unchanged
    df = _one_col(spark, ["notadate", "2023-01-01"])
    res = infer_types(df, CFG)
    assert res.decisions["v"] == "string"


def test_strict_numeric_revert(spark):
    # W:154-159 — one bad value among many reverts the whole column
    df = _one_col(spark, [str(i) for i in range(500)] + ["12x"])
    res = infer_types(df, CFG)
    assert res.decisions["v"] == "string"


def test_numeric_wins_over_date(spark):
    # W:275-279 — "20230101" compact dates type as double, never date
    df = _one_col(spark, ["20230101", "20230215", "20231231"])
    res = infer_types(df, CFG)
    assert res.decisions["v"] == "double"


def test_gappy_date_quirk(spark):
    # W:199 — full-column success rate counts missing values in the
    # denominator: 25% empty ⇒ can never type as date.
    vals = ["2023-01-%02d" % (i % 28 + 1) if i % 4 else "" for i in range(400)]
    df = _one_col(spark, vals)
    res = infer_types(df, CFG)
    assert res.decisions["v"] == "string"


def test_gappy_date_under_20pct_ok(spark):
    # 10% missing ⇒ 0.9 ≥ 0.8 ⇒ timestamp
    vals = ["2023-01-%02d" % (i % 28 + 1) if i % 10 else "" for i in range(400)]
    df = _one_col(spark, vals)
    res = infer_types(df, CFG)
    assert res.decisions["v"] == "timestamp"


def test_us_datetime_format(spark):
    df = _one_col(spark, ["03/15/2021 14:30:00", "12/01/2021 09:05:00"])
    typed, res = infer_and_cast(df, CFG)
    assert res.decisions["v"] == "timestamp"
    got = {r.v.strftime("%Y-%m-%d %H:%M:%S") for r in typed.collect()}
    assert got == {"2021-03-15 14:30:00", "2021-12-01 09:05:00"}


def test_scientific_and_whitespace_numeric(spark):
    df = _one_col(spark, ["1.5e3", " 42 ", "-7.25", "NaN"])
    typed, res = infer_and_cast(df, CFG)
    assert res.decisions["v"] == "double"
    vals = [r.v for r in typed.collect()]
    assert vals[0] == 1500.0 and vals[1] == 42.0 and vals[2] == -7.25


def test_all_missing_column_unchanged(spark):
    # W:143-145 / W:168-171 — no non-empty values ⇒ no-op
    df = _one_col(spark, [None, "", None, ""])
    res = infer_types(df, CFG)
    assert res.decisions["v"] == "string"


def test_below_gate_numeric(spark):
    # 79% numeric < 0.8 gate ⇒ string (FIXTURES almost_num)
    vals = [str(i) for i in range(79)] + ["x%d" % i for i in range(21)]
    df = _one_col(spark, vals)
    res = infer_types(df, CFG)
    assert res.decisions["v"] == "string"


def test_idempotent_on_typed(spark):
    # applying inference to an already-parsed column is a no-op on values
    df = _one_col(spark, ["1.5", "2.5", "3.5"])
    typed, _ = infer_and_cast(df, CFG)
    typed2, res2 = infer_and_cast(
        typed.select(typed.v.cast("string").alias("v")), CFG
    )
    assert res2.decisions["v"] == "double"
    assert sorted(r.v for r in typed2.collect()) == [1.5, 2.5, 3.5]


def test_hex_numeric_parity(spark):
    """R as.numeric (strtod) accepts hex integers — whiteRRabbit.R:139-161
    types a hex-ID column numeric where plain CAST AS DOUBLE would leave
    it string. The regexp-gated conv branch restores parity: the column
    types double with the strtod values."""
    df = _one_col(spark, ["0x10", "0X1f", "-0xA", "+0x2", "255", ""])
    typed, res = infer_and_cast(df, CFG)
    assert res.decisions["v"] == "double"
    vals = [r.v for r in typed.collect()]
    assert vals[:5] == [16.0, 31.0, -10.0, 2.0, 255.0]


def test_hex_numeric_remaining_divergences(spark):
    """Pinned divergences from R: >15 hex digits (conv's exact range —
    R keeps parsing toward 1.8e19) fails our parse, so a column of huge
    hex literals stays string; hex FLOATS (0x1.8p3) parse in BOTH engines
    (Java parseDouble accepts the p-exponent form)."""
    huge = _one_col(spark, ["0xFFFFFFFFFFFFFFFF"] * 5)
    _, res = infer_and_cast(huge, CFG)
    assert res.decisions["v"] == "string"

    floats = _one_col(spark, ["0x1.8p3", "0x1.0p1", "0x2.0p2"])
    typed, res2 = infer_and_cast(floats, CFG)
    assert res2.decisions["v"] == "double"
    assert [r.v for r in typed.collect()] == [12.0, 2.0, 8.0]


def test_hex_numeric_leading_zeros(spark):
    # review fix: the 15-significant-digit bound must not count leading
    # zeros — fixed-width zero-padded hex ids are in conv's range
    df = _one_col(spark, ["0x0000000000000010", "0x10", "0x0", "-0x0ff"])
    typed, res = infer_and_cast(df, CFG)
    assert res.decisions["v"] == "double"
    assert [r.v for r in typed.collect()] == [16.0, 16.0, 0.0, -255.0]


def _one_pass_frame(spark, n):
    """``n`` rows covering every gate branch, in one partition (as a scan
    hands inference its pinned sample or a small file's single split)."""
    rows = [
        (
            # ≥80% compact yyyyMMdd numerals plus ISO dates: passes the
            # numeric gate, fails the strict pass, never date-probed
            "2021-03-04" if i % 10 == 0 else "202101%02d" % (i % 28 + 1),
            # half compact, half ISO: fails the numeric gate, so the date
            # count must include the compact numerals
            ("2021-01-%02d" if i % 2 else "202101%02d") % (i % 28 + 1),
            "2021-01-02" if i % 4 else "",  # date, >20% missing
            None,  # all-empty
            "0x%x" % i,  # hex numerals
            "item %d" % i,  # free text
            "2022-%02d-%02d" % (i % 12 + 1, i % 28 + 1),  # clean dates
            str(i * 0.5),  # clean numerics
        )
        for i in range(n)
    ]
    schema = ("ymd_iso string, ymd_half string, gappy string, empty string, "
              "hexv string, txt string, date string, num string")
    return spark.createDataFrame(rows, schema).coalesce(1)


def test_one_pass_decides_as_sampled_gate(spark):
    # At row_hint <= 4 x inference_sample_size the gate's head slice is
    # the whole frame, so one aggregate stands in for the gate and the
    # full-column pass; it must decide exactly as the two-phase path.
    cfg = ScanConfig(inference_sample_size=50)
    want = {
        "ymd_iso": "string", "ymd_half": "timestamp", "gappy": "string",
        "empty": "string", "hexv": "double", "txt": "string", "date": "timestamp",
        "num": "double",
    }
    sc = spark.sparkContext
    for n in (200, 201):
        df = _one_pass_frame(spark, n)
        two_phase = infer_types(df, cfg)
        group = f"one-pass-{n}"
        sc.setJobGroup(group, group)
        try:
            hinted = infer_types(df, cfg, row_hint=n)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert hinted.decisions == two_phase.decisions == want
        if n == 200:  # one-pass: one job over the one partition
            assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1


def test_one_pass_header_only_table(spark):
    df = spark.createDataFrame([], "a string, b string")
    for hint in (0, None):
        res = infer_types(df, CFG, row_hint=hint)
        assert res.decisions == {"a": "string", "b": "string"}


def test_wide_frame_decides_as_narrow(spark):
    # Unhinted (two-phase) inference over the one-pass frame's column kinds
    # repeated to 256 columns decides each copy as the 8-column frame
    # does, with the same Spark jobs: both aggregates are one melt whose
    # plan does not grow with the width.
    cfg = ScanConfig(inference_sample_size=50)  # head slice: 200 of 400 rows
    narrow = _one_pass_frame(spark, 400)
    wide = narrow.select(
        [F.col(c).alias(f"{c}_{k}") for k in range(32) for c in narrow.columns]
    )
    got, jobs = {}, {}
    for name, df in (("narrow", narrow), ("wide", wide)):
        def run(name=name, df=df):
            got[name] = infer_types(df, cfg).decisions

        jobs[name] = _jobs_run_by(spark, run, f"infer-width-{name}")
    assert len(got["wide"]) == 256
    assert got["wide"] == {
        f"{c}_{k}": got["narrow"][c] for k in range(32) for c in narrow.columns
    }
    assert got["narrow"]["hexv"] == "double"
    assert got["narrow"]["gappy"] == "string"  # >20% missing quirk
    assert jobs["wide"] == jobs["narrow"]
