"""F1 frequency-table quirk tests (whiteRRabbit.R:329-352)."""

from __future__ import annotations

from whiterrabbit_spark.config import ScanConfig
from whiterrabbit_spark.frequency import value_frequencies


def _freq(spark, values, **kw):
    df = spark.createDataFrame([(v,) for v in values], "v string")
    cfg = ScanConfig(**kw)
    return value_frequencies(df, cfg=cfg).collect()


def test_min_cell_count_filter(spark):
    vals = ["a"] * 10 + ["b"] * 5 + ["c"] * 4 + ["d"] * 1
    rows = _freq(spark, vals, min_cell_count=5)
    got = {r["value"]: r["count"] for r in rows}
    assert got == {"a": 10, "b": 5}


def test_percentage_denominator_is_displayed_rows_only(spark):
    # W:344 quirk: percentage sums to 1.0 over the EMITTED rows, with
    # filtered-out rare values excluded from the denominator.
    vals = ["a"] * 10 + ["b"] * 10 + ["rare"] * 4
    rows = _freq(spark, vals, min_cell_count=5)
    assert abs(sum(r["percentage"] for r in rows) - 1.0) < 1e-12
    for r in rows:
        assert abs(r["percentage"] - 0.5) < 1e-12  # 10/20, not 10/24


def test_truncation_and_tiebreak(spark):
    # counts: a,b tied at 6 ; c,d tied at 5 → order (count desc, value asc)
    vals = ["b"] * 6 + ["a"] * 6 + ["d"] * 5 + ["c"] * 5
    rows = _freq(spark, vals, min_cell_count=5, max_distinct_values=3)
    assert [(r["value"], r["count"]) for r in rows] == [("a", 6), ("b", 6), ("c", 5)]
    assert abs(sum(r["percentage"] for r in rows) - 1.0) < 1e-12


def test_missing_and_empty_excluded(spark):
    vals = ["a"] * 6 + ["", "", None, None]
    rows = _freq(spark, vals)
    assert {r["value"]: r["count"] for r in rows} == {"a": 6}


def test_numeric_columns_included_dates_skipped(spark):
    df = spark.createDataFrame(
        [(1.0, "2023-01-01", z) for z in [0.0, -0.0, 1.0, -0.0] * 3],
        "num double, d string, z double",
    ).selectExpr("num", "to_timestamp(d) AS d", "z")
    rows = value_frequencies(df, cfg=ScanConfig()).collect()
    cols = {r["column_name"] for r in rows}
    assert cols == {"num", "z"}  # date col skipped (W:331), numeric included
    assert rows[0]["value"] == "1.0"
    # -0.0 and 0.0 count as one value, as in the reference's R table()
    z = {r["value"]: r["count"] for r in rows if r["column_name"] == "z"}
    assert z == {"0.0": 9}  # 1.0 occurs 3 times < min_cell_count


def test_rare_only_column_empty_table(spark):
    rows = _freq(spark, ["a", "b", "c", "d"] * 1)
    assert rows == []


def test_wide_table_melt_fallback_matches_branches(spark):
    """>64 columns triggers the melt plan; results must match the
    per-column branch plan exactly, for the frequency table and for the
    profile's distinct counts and quartiles, which read the same
    histogram. A double column holding 0.0 and -0.0 shows one zero row
    in both plans."""
    import whiterrabbit_spark.frequency as freq
    from whiterrabbit_spark.profile import profile_table

    n_cols = 70
    zeros = [0.0, -0.0, 1.0, -0.0]
    rows = []
    for i in range(40):
        rows.append(
            tuple(f"v{(i + j) % 3}" for j in range(n_cols)) + (zeros[i % 4],)
        )
    cols = [f"c{j}" for j in range(n_cols)]
    df = spark.createDataFrame(
        rows, ", ".join(f"{c} string" for c in cols) + ", z double"
    )
    cfg = ScanConfig(min_cell_count=5, max_distinct_values=10)
    wide = value_frequencies(df, cfg=cfg)
    assert len(cols) > freq._MELT_THRESHOLD
    assert sorted(
        (r["value"], r["count"]) for r in wide.where("column_name = 'z'").collect()
    ) == [("0.0", 30), ("1.0", 10)]

    def key(out):
        return sorted(
            (r["column_name"], r["value"], r["count"], round(r["percentage"], 9))
            for r in out.collect()
        )

    def stats(threshold):
        # three of the columns: the profile's branch form costs a stage
        # per column
        freq._MELT_THRESHOLD = threshold
        summary, _ = profile_table(df.select("c0", "c1", "z"), cfg)
        return {
            r["column_name"]: (r["distinct_count"], r["q1_val"], r["median_val"], r["q3_val"])
            for r in summary.collect()
        }

    # force the branch path on the same data for comparison
    old = freq._MELT_THRESHOLD
    freq._MELT_THRESHOLD = 1_000
    try:
        branches = value_frequencies(df, cfg=cfg)
        assert key(wide) == key(branches)
        melt_stats, branch_stats = stats(0), stats(1_000)
    finally:
        freq._MELT_THRESHOLD = old
    assert key(wide), "expected non-empty frequency output"
    # z = 0.0 ×30, 1.0 ×10; the string columns hold v0, v1, v2
    assert melt_stats == branch_stats == {
        "c0": (3, None, None, None),
        "c1": (3, None, None, None),
        "z": (2, 0.0, 0.0, 0.25),
    }


def test_grouped_value_frequencies(spark):
    from pyspark.sql import Row

    from whiterrabbit_spark.frequency import grouped_value_frequencies

    rows = []
    for g, vals in (("a", ["x"] * 10 + ["y"] * 6), ("b", ["y"] * 8 + ["z"] * 5)):
        rows += [Row(grp=g, col1=v) for v in vals]
    df = spark.createDataFrame(rows)
    cfg = ScanConfig(min_cell_count=5, max_distinct_values=1)
    out = grouped_value_frequencies(df, "grp", ["col1"], cfg)
    got = {(r.grp, r.value): (r["count"], r.percentage) for r in out.collect()}
    # top-1 per group independently; y survives in b but is cut in a
    assert got == {("a", "x"): (10, 1.0), ("b", "y"): (8, 1.0)}
    # with k=2 percentages use the displayed denominator per group
    out2 = grouped_value_frequencies(
        df, "grp", ["col1"], ScanConfig(min_cell_count=5, max_distinct_values=2)
    )
    by_grp = {}
    for r in out2.collect():
        by_grp.setdefault(r.grp, 0.0)
        by_grp[r.grp] += r.percentage
    assert all(abs(v - 1.0) < 1e-9 for v in by_grp.values())
    # -0.0 and 0.0 count as one value, as in value_frequencies
    zdf = spark.createDataFrame(
        [("a", z) for z in [0.0, -0.0, 1.0, -0.0] * 3], "grp string, z double"
    )
    out3 = grouped_value_frequencies(zdf, "grp", ["z"], ScanConfig(min_cell_count=1))
    assert sorted((r.value, r["count"]) for r in out3.collect()) == [
        ("0.0", 9), ("1.0", 3)
    ]


def test_mask_profile(spark):
    from pyspark.sql import Row

    from whiterrabbit_spark.frequency import mask_profile

    df = spark.createDataFrame(
        [Row(phone=p, code=c) for p, c in [
            ("25-989-741", "AB12"), ("13-137-222", "XY99"),
            ("5-11-2", "Ab3"), (None, ""), ("", None),
        ]]
    )
    out = mask_profile(df, ["phone", "code"]).collect()
    by_col = {}
    for r in out:
        by_col.setdefault(r.column_name, {})[r.mask] = r
    # two widths of the same shape share a collapsed mask
    assert by_col["phone"]["99-999-999"].mask_collapsed == "9-9-9"
    assert by_col["phone"]["9-99-9"].mask_collapsed == "9-9-9"
    assert by_col["phone"]["99-999-999"]["count"] == 2
    # share over the column's full non-empty count
    assert abs(by_col["phone"]["99-999-999"].share - 2 / 3) < 1e-12
    assert by_col["code"]["AA99"]["count"] == 2
    assert by_col["code"]["Aa9"].mask_collapsed == "Aa9"
    # NULL / empty rows excluded entirely
    assert sum(r["count"] for r in out if r.column_name == "code") == 3


def test_mask_profile_top_k(spark):
    from pyspark.sql import Row

    from whiterrabbit_spark.frequency import mask_profile

    # 30 distinct masks, keep 5: ties broken (count DESC, mask ASC)
    rows = [Row(v="x" * i) for i in range(1, 31) for _ in range(i)]
    out = mask_profile(spark.createDataFrame(rows), ["v"], top_k=5).collect()
    assert [r.mask for r in out] == ["a" * n for n in range(30, 25, -1)]
    # share denominates over ALL non-empty rows, not the displayed 5
    assert abs(sum(r.share for r in out) - (30+29+28+27+26) / 465) < 1e-12
