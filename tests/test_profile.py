"""Summary aggregation parity: stats vs DuckDB on the driver's testdata.

DuckDB ``quantile_cont`` = R type-7 ``quantile`` = Spark exact
``percentile`` (SURVEY §5), so the numeric stats are oracle-checkable.
"""

from __future__ import annotations

import duckdb
import pytest

from tests.conftest import SF_DIR
from whiterrabbit_spark.config import ScanConfig
from whiterrabbit_spark.profile import all_empty_fields, profile_table

CFG = ScanConfig()


@pytest.fixture(scope="module")
def lineitem_summary(spark):
    df = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    summary, raw = profile_table(df, CFG, table_name="lineitem")
    return {r["column_name"]: r.asDict() for r in summary.collect()}, raw


def duck(sql):
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW lineitem AS SELECT * FROM read_parquet('{SF_DIR}/lineitem.parquet')"
    )
    return con.execute(sql).fetchone()


def test_counts(lineitem_summary):
    rows, _ = lineitem_summary
    n, distinct = duck("SELECT count(*), count(DISTINCT l_orderkey) FROM lineitem")
    r = rows["l_orderkey"]
    assert r["total_count"] == n
    assert r["distinct_count"] == distinct
    assert r["missing_count"] == 0
    assert r["non_missing_count"] == n


def test_numeric_stats_match_duckdb(lineitem_summary):
    rows, _ = lineitem_summary
    exp = duck(
        """SELECT min(l_quantity), max(l_quantity), avg(l_quantity),
                  stddev_samp(l_quantity), quantile_cont(l_quantity, 0.5),
                  quantile_cont(l_quantity, 0.25), quantile_cont(l_quantity, 0.75)
           FROM lineitem"""
    )
    r = rows["l_quantity"]
    got = (r["min_val"], r["max_val"], r["mean_val"], r["sd_val"],
           r["median_val"], r["q1_val"], r["q3_val"])
    for g, e in zip(got, exp):
        assert abs(g - e) < 1e-9, (g, e)
    assert abs(r["iqr_val"] - (exp[6] - exp[5])) < 1e-9


def test_date_stats_match_duckdb(lineitem_summary):
    rows, _ = lineitem_summary
    earliest, latest = duck(
        "SELECT strftime(min(l_shipdate), '%Y-%m-%d %H:%M:%S'), "
        "strftime(max(l_shipdate), '%Y-%m-%d %H:%M:%S') FROM lineitem"
    )
    r = rows["l_shipdate"]
    assert r["earliest_val"] == earliest
    assert r["latest_val"] == latest
    assert r["median_date_val"] is not None
    # numeric stat slots are NULL for date columns (reference W:355-376)
    assert r["min_val"] is None and r["mean_val"] is None


def test_string_columns_have_no_numeric_stats(lineitem_summary):
    rows, _ = lineitem_summary
    r = rows["l_returnflag"]
    assert r["min_val"] is None and r["median_date_val"] is None
    assert r["distinct_count"] == duck(
        "SELECT count(DISTINCT l_returnflag) FROM lineitem WHERE l_returnflag IS NOT NULL AND l_returnflag <> ''"
    )[0]


def test_empty_vs_missing_and_all_empty(spark):
    df = spark.createDataFrame(
        [("", None, "x", 0.0), ("", None, "", -0.0), ("", None, None, 1.0)],
        "all_empty string, all_na string, mixed string, zeros double",
    )
    summary, raw = profile_table(df, CFG, table_name="t")
    rows = {r["column_name"]: r.asDict() for r in summary.collect()}
    assert rows["all_empty"]["empty_count"] == 3
    assert rows["all_empty"]["missing_count"] == 0
    assert rows["all_empty"]["distinct_count"] == 0
    assert rows["all_na"]["missing_count"] == 3
    assert rows["mixed"]["non_missing_count"] == 1
    assert rows["mixed"]["distinct_count"] == 1
    assert set(all_empty_fields(raw)) == {"all_empty", "all_na"}
    # one zero, as the reference's R unique() counts it
    assert rows["zeros"]["distinct_count"] == 2


def test_stddev_n1_is_null(spark):
    # W:370 — sd of a single value is NA; Spark stddev_samp → NULL
    df = spark.createDataFrame([(1.0,)], "v double")
    summary, _ = profile_table(df, CFG)
    r = summary.collect()[0]
    assert r["sd_val"] is None
    assert r["min_val"] == 1.0


def test_approx_mode_within_tolerance(spark):
    """The 100 TB switch: ScanConfig(approx=True) folds distinct+percentiles
    into the single wide agg as sketches; results must track exact mode
    (rsd=1% HLL, percentile_approx accuracy=10k)."""
    from whiterrabbit_spark.io import read_parquet_table
    from tests.conftest import SF_DIR

    df = read_parquet_table(spark, SF_DIR, "lineitem")
    exact, _ = profile_table(df, ScanConfig(max_rows=-1), table_name="t")
    approx, _ = profile_table(df, ScanConfig(max_rows=-1, approx=True), table_name="t")
    e = {r.column_name: r for r in exact.collect()}
    a = {r.column_name: r for r in approx.collect()}
    assert set(e) == set(a)
    for c in e:
        er, ar = e[c], a[c]
        # counts are exact in both modes
        assert (er.total_count, er.missing_count, er.empty_count) == (
            ar.total_count, ar.missing_count, ar.empty_count
        )
        if er.distinct_count:
            rel = abs(ar.distinct_count - er.distinct_count) / er.distinct_count
            # HLL++ rsd default is 0.05 ⇒ 3σ bound
            assert rel < 0.15, f"{c}: distinct off by {rel:.3f}"
        for fld in ("median_val", "q1_val", "q3_val"):
            ev, av = getattr(er, fld), getattr(ar, fld)
            if ev is not None and av is not None and er.max_val != er.min_val:
                span = er.max_val - er.min_val
                # percentile_approx returns an order statistic (no type-7
                # interpolation): on discrete domains the two can differ by
                # one domain step, so scale tolerance with 1/distinct.
                tol = max(0.02, 1.5 / max(er.distinct_count, 1))
                assert abs(av - ev) / span < tol, f"{c}.{fld}: {ev} vs {av}"


def test_approx_chunk_split_is_result_invariant(spark):
    """The r8 merge-overlap chunking splits the approx agg's COLUMNS
    across concurrent jobs (never one column's partials), so any chunk
    width must produce byte-identical summaries: one-column-per-job
    (max_agg_exprs_per_job=9) == the widest single job (10_000)."""
    from whiterrabbit_spark.io import read_parquet_table
    from tests.conftest import SF_DIR

    df = read_parquet_table(spark, SF_DIR, "lineitem")
    wide, _ = profile_table(
        df,
        ScanConfig(max_rows=-1, approx=True, max_agg_exprs_per_job=10_000),
        table_name="t",
    )
    narrow, _ = profile_table(
        df,
        ScanConfig(max_rows=-1, approx=True, max_agg_exprs_per_job=9),
        table_name="t",
    )
    assert sorted(map(tuple, wide.collect())) == sorted(
        map(tuple, narrow.collect())
    )


def test_profile_table_grouped_shapes_and_approx(spark):
    """Grouped profile: long format (groups × value cols), stats match a
    hand computation; approx mode returns the same shape with
    near-identical percentiles."""
    import math

    from whiterrabbit_spark.config import ScanConfig
    from whiterrabbit_spark.profile import profile_table_grouped

    df = spark.createDataFrame(
        [("a", 1.0, None), ("a", 2.0, 10.0), ("a", 3.0, 20.0),
         ("b", 10.0, 5.0)],
        "g string, x double, y double",
    )
    out = profile_table_grouped(df, "g", ["x", "y"])
    rows = {(r["g"], r["column_name"]): r for r in out.collect()}
    assert set(rows) == {("a", "x"), ("a", "y"), ("b", "x"), ("b", "y")}
    ax = rows[("a", "x")]
    assert ax["total_count"] == 3 and ax["non_missing_count"] == 3
    assert ax["mean_val"] == 2.0 and ax["median_val"] == 2.0
    assert math.isclose(ax["sd_val"], 1.0)
    ay = rows[("a", "y")]
    assert ay["missing_count"] == 1 and ay["q1_val"] == 12.5  # type-7 over (10,20)
    bx = rows[("b", "x")]
    assert bx["sd_val"] is None  # n=1 sample sd is NULL (N4 parity)

    approx = profile_table_grouped(df, "g", ["x"], ScanConfig(approx=True))
    arow = {r["g"]: r for r in approx.collect()}
    assert abs(arow["a"]["median_val"] - 2.0) <= 1.0


def test_equi_width_histogram_edges(spark):
    """Max value lands in the last bin; constant column -> one bin; all-null
    column -> empty frame with declared schema."""
    from whiterrabbit_spark.profile import equi_width_histogram

    df = spark.createDataFrame([(float(i),) for i in range(101)], "v double")
    h = {r["bucket"]: r for r in equi_width_histogram(df, "v", bins=10).collect()}
    assert len(h) == 10
    assert sum(r["n_rows"] for r in h.values()) == 101
    assert h[9]["n_rows"] == 11          # 90..100 inclusive of the max
    assert h[0]["bucket_lo"] == 0.0 and h[9]["bucket_hi"] == 100.0

    const = spark.createDataFrame([(5.0,), (5.0,)], "v double")
    hc = equi_width_histogram(const, "v", bins=10).collect()
    assert len(hc) == 1 and hc[0]["n_rows"] == 2

    nulls = spark.createDataFrame([(None,), (None,)], "v double")
    hn = equi_width_histogram(nulls, "v")
    assert hn.count() == 0
    assert "bucket_lo" in hn.columns


def test_corr_matrix_values(spark):
    import math

    from whiterrabbit_spark.profile import corr_matrix

    df = spark.createDataFrame(
        [(1.0, 2.0, -1.0), (2.0, 4.0, -2.0), (3.0, 6.0, -3.0), (4.0, 8.0, 1.0)],
        "a double, b double, c double",
    )
    got = {(r["col_a"], r["col_b"]): r["corr"] for r in corr_matrix(
        df, ["a", "b", "c"]
    ).collect()}
    assert math.isclose(got[("a", "b")], 1.0)
    assert -1.0 <= got[("a", "c")] <= 1.0
    assert set(got) == {("a", "b"), ("a", "c"), ("b", "c")}


def test_iqr_outliers_and_drift(spark):
    from whiterrabbit_spark.profile import iqr_outlier_counts, profile_drift

    df = spark.createDataFrame(
        [(float(v),) for v in [10, 11, 12, 13, 14, 1000]] + [(None,)],
        "v double",
    )
    out = iqr_outlier_counts(df, ["v"]).collect()[0]
    assert out["n_above"] == 1 and out["n_below"] == 0
    assert out["n_rows"] == 6

    a = spark.createDataFrame([(1.0,), (2.0,), (None,)], "v double")
    b = spark.createDataFrame([(3.0,), (5.0,)], "v double")
    d = profile_drift(a, b, ["v"]).collect()[0]
    assert d["mean_a"] == 1.5 and d["mean_b"] == 4.0 and d["mean_delta"] == 2.5
    assert abs(d["missing_rate_a"] - 1 / 3) < 1e-12
    assert d["missing_rate_b"] == 0.0


def test_mergeable_profile_sketches(spark):
    """Profiling two halves separately and merging == profiling the whole:
    counts/sums/min/max/mean exact, HLL distinct within the sketch's
    relative error."""
    from pyspark.sql import functions as F

    from whiterrabbit_spark.io import read_parquet_table
    from whiterrabbit_spark.profile import merge_profile_sketches, profile_sketch

    df = read_parquet_table(spark, "/root/testdata/sf0.01", "orders")
    cols = ["o_totalprice", "o_custkey"]
    split = df.agg((F.max("o_orderkey") / 2)).collect()[0][0]
    a = profile_sketch(df.where(F.col("o_orderkey") < split), cols)
    b = profile_sketch(df.where(F.col("o_orderkey") >= split), cols)
    merged = {r["column_name"]: r for r in merge_profile_sketches(a, b).collect()}

    whole = df.agg(
        F.count(F.lit(1)).alias("total"),
        F.count("o_totalprice").alias("n"),
        F.avg(F.col("o_totalprice").cast("double")).alias("mean"),
        F.min(F.col("o_totalprice").cast("double")).alias("mn"),
        F.max(F.col("o_totalprice").cast("double")).alias("mx"),
        F.count_distinct("o_custkey").alias("cd"),
    ).collect()[0]
    m = merged["o_totalprice"]
    assert m["total_count"] == whole["total"]
    assert m["non_missing_count"] == whole["n"]
    assert m["min_val"] == whole["mn"] and m["max_val"] == whole["mx"]
    assert abs(m["mean_val"] - whole["mean"]) < 1e-6
    est = merged["o_custkey"]["approx_distinct"]
    assert abs(est - whole["cd"]) / whole["cd"] < 0.05  # HLL default rsd ~1.6%


def test_psi_drift_zero_for_identical_and_large_for_shift(spark):
    """PSI ≈ 0 when ref == cur; a planted location shift scores far above
    the 0.25 'shifted' rule of thumb; out-of-range current values clamp
    into the edge bin instead of vanishing."""
    from pyspark.sql import functions as F

    from whiterrabbit_spark.profile import psi_drift

    ref = spark.range(0, 2000).select(
        (F.col("id") % 100).cast("double").alias("x"),
        F.col("id").cast("double").alias("y"),
    )
    same = {r["column_name"]: r["psi"] for r in
            psi_drift(ref, ref, ["x", "y"]).collect()}
    assert abs(same["x"]) < 1e-9 and abs(same["y"]) < 1e-9

    shifted = ref.select((F.col("x") + 80.0).alias("x"), "y")
    drift = {r["column_name"]: r["psi"] for r in
             psi_drift(ref, shifted, ["x", "y"]).collect()}
    assert drift["x"] > 0.25      # mass moved across bins
    assert abs(drift["y"]) < 1e-9  # untouched column stays stable

    # everything out of range on the current side → all mass clamps into
    # the top edge bin; PSI is finite (eps guard), not NaN/inf
    far = ref.select((F.col("x") + 1e6).alias("x"), "y")
    d2 = {r["column_name"]: r["psi"] for r in
          psi_drift(ref, far, ["x"]).collect()}
    import math
    assert math.isfinite(d2["x"]) and d2["x"] > 1.0


def test_value_entropy_edges(spark):
    """Uniform column → H = ln(k), norm 1; constant column → H = 0 with
    undefined (null) norm; skew lowers entropy; empties excluded."""
    import math

    from pyspark.sql import functions as F

    from whiterrabbit_spark.profile import value_entropy

    df = spark.range(0, 900).select(
        (F.col("id") % 3).cast("string").alias("uniform"),
        F.lit("only").alias("constant"),
        F.when(F.col("id") % 10 < 9, "hot").otherwise("cold").alias("skewed"),
        F.when(F.col("id") % 3 == 0, "").otherwise("x").alias("with_empty"),
    )
    got = {r.column_name: r for r in value_entropy(
        df, ["uniform", "constant", "skewed", "with_empty"]).collect()}
    assert abs(got["uniform"].entropy - math.log(3)) < 1e-12
    assert abs(got["uniform"].entropy_norm - 1.0) < 1e-12
    assert got["constant"].entropy == 0.0
    assert got["constant"].entropy_norm is None
    expect = -(0.9 * math.log(0.9) + 0.1 * math.log(0.1))
    assert abs(got["skewed"].entropy - expect) < 1e-12
    # "" excluded: with_empty has one retained value → zero entropy
    assert got["with_empty"].distinct_count == 1
    assert got["with_empty"].entropy == 0.0


def test_cramers_v_edges(spark):
    """Perfect association → V = 1; independence → V ≈ 0; a constant
    column → NULL (min(r−1,k−1)=0)."""
    from pyspark.sql import functions as F

    from whiterrabbit_spark.profile import cramers_v

    df = spark.range(0, 4000).select(
        (F.col("id") % 4).cast("string").alias("a"),
        ((F.col("id") % 4) * 10).cast("string").alias("a_copy"),
        (F.col("id") % 5).cast("string").alias("indep"),
        F.lit("c").alias("const"),
    )
    got = {(r.col_a, r.col_b): r for r in cramers_v(
        df, [("a", "a_copy"), ("a", "indep"), ("a", "const")]).collect()}
    assert abs(got[("a", "a_copy")].cramers_v - 1.0) < 1e-12
    assert abs(got[("a", "indep")].cramers_v) < 1e-9  # exact independence
    assert got[("a", "const")].cramers_v is None


def test_winsorize_and_normalize(spark):
    """Winsorize clamps to the exact type-7 quantiles; zscore/minmax match
    hand math; degenerate (constant) columns map to 0.0 not NaN; NULLs
    pass through."""
    import math

    from whiterrabbit_spark.profile import normalize_columns, winsorize

    df = spark.createDataFrame(
        [(float(i), 5.0, None if i == 3 else float(i)) for i in range(1, 11)],
        "x double, const double, withnull double",
    )
    w = winsorize(df, ["x"], lo=0.25, hi=0.75)
    xs = sorted(r.x for r in w.collect())
    # type-7 quartiles of 1..10 are 3.25 / 7.75
    assert xs[0] == 3.25 and xs[-1] == 7.75

    z = {r.x: r for r in normalize_columns(df, ["x", "const"]).collect()}
    mu, sd = 5.5, math.sqrt(sum((i - 5.5) ** 2 for i in range(1, 11)) / 9)
    # zscore rewrites columns in place; key by the untouched withnull col
    zrows = normalize_columns(df, ["x", "const"]).collect()
    for r in zrows:
        assert r.const == 0.0
    got = sorted(r.x for r in zrows)
    expect = sorted((i - mu) / sd for i in range(1, 11))
    assert all(abs(a - b) < 1e-12 for a, b in zip(got, expect))

    mm = normalize_columns(df, ["x"], method="minmax").collect()
    vals = sorted(r.x for r in mm)
    assert vals[0] == 0.0 and vals[-1] == 1.0
    nn = normalize_columns(df, ["withnull"]).collect()
    assert sum(1 for r in nn if r.withnull is None) == 1


def test_winsorize_null_and_degenerate_edges(spark):
    """NULLs survive winsorization untouched (Spark least/greatest skip
    nulls — the when-chain must not fabricate the lower quantile);
    all-NULL columns pass through; a single-value column z-scores to 0.0,
    not NaN (stddev_samp returns NaN, not NULL, for n=1)."""
    import math

    from whiterrabbit_spark.profile import normalize_columns, winsorize

    df = spark.createDataFrame(
        [(None, None), (1.0, None), (2.0, None), (100.0, None)],
        "x double, allnull double",
    )
    w = winsorize(df, ["x", "allnull"], lo=0.25, hi=0.75)
    xs = [r.x for r in w.collect()]
    assert xs.count(None) == 1, "NULL must stay NULL, not become the quantile"
    assert all(r.allnull is None for r in w.collect())

    one = spark.createDataFrame([(5.0,)], "y double")
    z = normalize_columns(one, ["y"]).collect()[0].y
    assert z == 0.0 and not math.isnan(z)


def test_fk_coverage_orphans_and_nulls(spark):
    """FK coverage with planted violations: a NULL FK and an unknown key
    both count as orphans; unreferenced parents counted; duplicate child
    keys counted per-row."""
    from whiterrabbit_spark.profile import fk_coverage

    child = spark.createDataFrame(
        [(1, 10), (2, 10), (3, 20), (4, 99), (5, None)],
        "id long, fk long",
    )
    parent = spark.createDataFrame(
        [(10,), (20,), (30,)], "pk long"
    )
    row = fk_coverage(child, parent, "fk", "pk").collect()[0]
    assert row.n_child == 5
    assert row.n_parent == 3
    assert row.n_child_orphans == 2          # fk=99 and fk=NULL
    assert row.n_parent_unreferenced == 1    # pk=30
    assert abs(row.orphan_frac - 0.4) < 1e-12
    assert abs(row.referenced_frac - 2 / 3) < 1e-12


def test_functional_dependency_detection(spark):
    """FD holds exactly when every lhs maps to one rhs; NULL rhs is a
    distinct value; NULL lhs is its own group."""
    from whiterrabbit_spark.profile import functional_dependency

    df = spark.createDataFrame(
        [(1, "a"), (1, "a"), (2, "b"), (2, "c"), (None, "d"), (3, None)],
        "l int, r string",
    )
    row = functional_dependency(df, "l", "r").collect()[0]
    assert row.n_groups == 4
    assert row.n_violating_groups == 1      # l=2 -> {b, c}
    assert row.max_rhs_per_lhs == 2
    assert not row.fd_holds
    ok = functional_dependency(df.where("l is null or l <> 2"), "l", "r")
    assert ok.collect()[0].fd_holds


def test_mad_outlier_counts_hand_math(spark):
    """MAD verified by hand: values 1..9 plus a planted 1000 — median 5.5,
    MAD 2.5, and only the planted point crosses 3·1.4826·MAD."""
    from whiterrabbit_spark.profile import mad_outlier_counts

    vals = [float(i) for i in range(1, 10)] + [1000.0]
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    row = mad_outlier_counts(df, ["x"]).collect()[0]
    assert row.median_val == 5.5
    assert row.mad == 2.5
    assert row.n_outliers == 1
    allnull = spark.createDataFrame([(None,), (None,)], "y double")
    r2 = mad_outlier_counts(allnull, ["y"]).collect()[0]
    assert r2.median_val is None and r2.n_outliers == 0


def test_fk_coverage_duplicate_parent_keys(spark):
    """Parent metrics are ROW-based: a duplicated dimension key whose key
    is referenced counts both parent rows as referenced; an unreferenced
    duplicate counts both rows unreferenced."""
    from whiterrabbit_spark.profile import fk_coverage

    child = spark.createDataFrame([(1, 10)], "id long, fk long")
    parent = spark.createDataFrame(
        [(10,), (10,), (30,), (30,)], "pk long"
    )
    row = fk_coverage(child, parent, "fk", "pk").collect()[0]
    assert row.n_parent == 4
    assert row.n_parent_unreferenced == 2      # both pk=30 rows
    assert abs(row.referenced_frac - 0.5) < 1e-12
    assert row.n_child_orphans == 0


def test_check_constraints_verdicts(spark):
    """Each constraint kind flags exactly its planted violation; passing
    constraints report observed metrics; NULLs are not in_set/matches
    violations."""
    from whiterrabbit_spark.profile import check_constraints

    df = spark.createDataFrame(
        [
            (1, 10, -5.0, "A", "ok-1"),
            (2, None, 3.0, "B", "bad"),
            (2, 30, 7.0, "C", None),
        ],
        "k long, fk long, amt double, status string, code string",
    )
    out = {
        r.name: r
        for r in check_constraints(
            df,
            [
                {"kind": "unique", "column": "k"},
                {"kind": "not_null", "column": "fk"},
                {"kind": "min_ge", "column": "amt", "value": 0.0},
                {"kind": "max_le", "column": "amt", "value": 100.0},
                {"kind": "in_set", "column": "status", "values": ["A", "B"]},
                {"kind": "matches", "column": "code",
                 "pattern": "^ok-[0-9]+$"},
            ],
        ).collect()
    }
    assert not out["unique(k)"].passed and out["unique(k)"].observed == 1.0
    assert not out["not_null(fk)"].passed
    assert not out["min_ge(amt)"].passed and out["min_ge(amt)"].observed == -5.0
    assert out["max_le(amt)"].passed
    assert not out["in_set(status)"].passed and out["in_set(status)"].observed == 1.0
    assert not out["matches(code)"].passed and out["matches(code)"].observed == 1.0


def test_check_constraints_edges(spark):
    """Empty suite returns an empty verdict frame; empty input passes
    bounds vacuously; None in an in_set list is rejected loudly."""
    import pytest as pt

    from whiterrabbit_spark.profile import check_constraints

    df = spark.createDataFrame([(1.0,)], "x double").where("x < 0")  # empty
    empty_suite = check_constraints(df, [])
    assert empty_suite.count() == 0
    assert empty_suite.columns == ["name", "column", "kind", "observed", "passed"]
    vac = check_constraints(
        df, [{"kind": "min_ge", "column": "x", "value": 0.0}]
    ).collect()[0]
    assert vac.passed and vac.observed is None
    with pt.raises(ValueError, match="None-free"):
        check_constraints(
            spark.createDataFrame([("A",)], "s string"),
            [{"kind": "in_set", "column": "s", "values": ["A", None]}],
        )


def test_auto_approx_flips_above_row_threshold(spark):
    """The tri-state approx default: exact at or below the row threshold
    (oracle parity), sample+sketch above it (the 100 TB default-plan
    guard). Pinned by forcing a tiny threshold and checking the winsorize
    clamp literals come from the sketch path yet stay within 2% of exact
    quantiles; profile_table's resolver flips cfg.approx the same way."""
    import dataclasses

    from pyspark.sql import functions as F

    from whiterrabbit_spark.config import ScanConfig
    from whiterrabbit_spark.profile import (
        _resolve_approx, mad_outlier_counts, winsorize,
    )

    df = spark.range(10_000).select(
        (F.col("id") % 1000).cast("double").alias("v")
    )

    # resolver: auto → exact below, sketch above
    cfg = ScanConfig()
    assert _resolve_approx(df, cfg, row_hint=10_000).approx is False
    small = dataclasses.replace(cfg, auto_approx_rows=1_000)
    assert _resolve_approx(df, small, row_hint=10_000).approx is True
    # explicit modes pass through untouched
    assert _resolve_approx(df, dataclasses.replace(cfg, approx=True)).approx is True
    assert _resolve_approx(df, dataclasses.replace(cfg, approx=False)).approx is False

    exact = winsorize(df, ["v"], lo=0.1, hi=0.9)
    sketch = winsorize(df, ["v"], lo=0.1, hi=0.9, auto_approx_rows=1_000)
    lo_e, hi_e = exact.agg(F.min("v"), F.max("v")).first()
    lo_s, hi_s = sketch.agg(F.min("v"), F.max("v")).first()
    assert abs(lo_s - lo_e) <= 0.02 * 1000 and abs(hi_s - hi_e) <= 0.02 * 1000

    m = mad_outlier_counts(df, ["v"], auto_approx_rows=1_000).collect()[0]
    assert abs(m.median_val - 499.5) <= 20


def test_equi_depth_histogram(spark):
    from pyspark.sql import Row

    from whiterrabbit_spark.profile import equi_depth_histogram

    df = spark.createDataFrame([Row(v=float(i)) for i in range(1, 101)] + [Row(v=None)])
    h = {r.bucket: r for r in equi_depth_histogram(df, "v", bins=4).collect()}
    assert sum(r.n_rows for r in h.values()) == 100
    # quartile cuts of 1..100 are 25.75/50.5/75.25 -> 25/25/25/25 split
    assert [h[b].n_rows for b in sorted(h)] == [25, 25, 25, 25]
    assert h[0].bucket_lo == 1.0 and h[3].bucket_hi == 100.0
    # empty / constant columns
    empty = spark.createDataFrame([], "v double")
    assert equi_depth_histogram(empty, "v", bins=4).count() == 0
    const = spark.createDataFrame([Row(v=7.0)] * 10)
    ch = equi_depth_histogram(const, "v", bins=4).collect()
    assert len(ch) == 1 and ch[0].n_rows == 10


def test_ecdf_lookup(spark):
    from pyspark.sql import Row

    from whiterrabbit_spark.profile import ecdf_lookup

    df = spark.createDataFrame(
        [Row(v=1.0), Row(v=1.0), Row(v=2.0), Row(v=5.0), Row(v=None)]
    )
    rows = sorted(ecdf_lookup(df, "v").collect(), key=lambda r: r.v)
    assert [(r.v, round(r.cume_dist, 6)) for r in rows] == [
        (1.0, 0.5), (2.0, 0.75), (5.0, 1.0),
    ]
    # the forced-distributed (bucketed prefix-sum) plan emits identical
    # values to the adaptive histogram-window plan
    dist = sorted(
        ecdf_lookup(df, "v", max_single_reducer=0).collect(),
        key=lambda r: r.v,
    )
    assert [(r.v, round(r.cume_dist, 6)) for r in dist] == [
        (1.0, 0.5), (2.0, 0.75), (5.0, 1.0),
    ]


def test_ecdf_lookup_paths_agree_on_real_data(spark):
    from whiterrabbit_spark.io import read_parquet_table
    from whiterrabbit_spark.profile import ecdf_lookup

    orders = read_parquet_table(spark, "/root/testdata/sf0.001", "orders")
    simple = {
        r.v: round(r.cume_dist, 9)
        for r in ecdf_lookup(orders, "o_totalprice").collect()
    }
    dist = {
        r.v: round(r.cume_dist, 9)
        for r in ecdf_lookup(
            orders, "o_totalprice", max_single_reducer=0
        ).collect()
    }
    assert simple == dist and len(simple) > 100


def test_missingness_patterns(spark):
    """Correlated nulls collapse into one pattern row; independent nulls
    split into distinct patterns; shares sum to 1."""
    from pyspark.sql import Row

    from whiterrabbit_spark.profile import missingness_patterns

    rows = (
        [Row(a=1, b="x", c=1.0)] * 5
        + [Row(a=None, b=None, c=2.0)] * 3      # a,b missing together
        + [Row(a=2, b="y", c=None)] * 2          # only c missing
    )
    out = {
        r.pattern: (r.n_rows, round(r.share, 6))
        for r in missingness_patterns(
            spark.createDataFrame(rows), ["a", "b", "c"]
        ).collect()
    }
    assert out == {
        "a=0,b=0,c=0": (5, 0.5),
        "a=1,b=1,c=0": (3, 0.3),
        "a=0,b=0,c=1": (2, 0.2),
    }


def test_grouped_quantiles(spark):
    """Per-group exact type-7 quartiles; NULL values excluded; a
    single-value group has q25=q50=q75."""
    from pyspark.sql import Row

    from whiterrabbit_spark.profile import grouped_quantiles

    rows = (
        [Row(g="a", v=float(x)) for x in (1, 2, 3, 4)]
        + [Row(g="b", v=10.0), Row(g="b", v=None)]
    )
    out = {
        r.group_key: (r.q_0_25, r.q_0_5, r.q_0_75)
        for r in grouped_quantiles(
            spark.createDataFrame(rows), "g", "v"
        ).collect()
    }
    assert out["a"] == (1.75, 2.5, 3.25)  # R type-7 over 1..4
    assert out["b"] == (10.0, 10.0, 10.0)


def test_seasonality_profile(spark):
    """iso_dow is 1=Monday..7=Sunday; counts and value means land in the
    right (dow, hour) cell."""
    import datetime

    from pyspark.sql import Row

    from whiterrabbit_spark.profile import seasonality_profile

    # 2024-01-01 is a Monday
    rows = [
        Row(ts=datetime.datetime(2024, 1, 1, 9, 5), value=10.0),
        Row(ts=datetime.datetime(2024, 1, 1, 9, 55), value=20.0),
        Row(ts=datetime.datetime(2024, 1, 7, 23, 1), value=7.0),  # Sunday
    ]
    out = {
        (r.iso_dow, r.hour): (r.n_events, r.avg_value)
        for r in seasonality_profile(
            spark.createDataFrame(rows), "ts", "value"
        ).collect()
    }
    assert out == {(1, 9): (2, 15.0), (7, 23): (1, 7.0)}


def test_key_skew_report(spark):
    from pyspark.sql import Row

    from whiterrabbit_spark.profile import key_skew_report

    rows = [Row(k=1) for _ in range(70)] + [Row(k=2) for _ in range(20)] + \
           [Row(k=3) for _ in range(5)] + [Row(k=None) for _ in range(5)]
    df = spark.createDataFrame(rows)
    m = {r.metric: r.value for r in key_skew_report(df, "k", top_k=2).collect()}
    assert m["n_rows"] == 100.0
    assert m["n_keys"] == 3.0
    assert m["null_share"] == 0.05
    assert m["max_count"] == 70.0
    assert m["top1_share"] == 0.7
    assert m["top2_share"] == 0.9
    assert m["cv_count"] > 0.5  # heavily skewed


def test_key_skew_report_empty(spark):
    from whiterrabbit_spark.profile import key_skew_report

    df = spark.createDataFrame([], "k long")
    m = {r.metric: r.value for r in key_skew_report(df, "k").collect()}
    assert m["n_rows"] == 0.0 and m["n_keys"] == 0.0
    assert m["top1_share"] is None


def test_ks_drift(spark):
    from pyspark.sql import Row

    from whiterrabbit_spark.profile import ks_drift

    same = spark.createDataFrame([Row(v=float(i)) for i in range(100)])
    r = ks_drift(same, same, "v").collect()[0]
    assert r.ks_stat == 0.0 and r.n_old == r.n_new == 100
    # shifted distribution: ECDFs separate; D for a +50 shift of 0..99
    # uniform is 0.5 (half the mass has no counterpart below)
    shifted = spark.createDataFrame([Row(v=float(i + 50)) for i in range(100)])
    r2 = ks_drift(same, shifted, "v").collect()[0]
    assert abs(r2.ks_stat - 0.5) < 0.02
    # disjoint supports -> D = 1
    far = spark.createDataFrame([Row(v=float(i + 1000)) for i in range(100)])
    assert ks_drift(same, far, "v").collect()[0].ks_stat == 1.0


def test_spearman_corr(spark):
    from pyspark.sql import Row

    from whiterrabbit_spark.profile import spearman_corr

    # perfect monotone but non-linear relation: Spearman 1, Pearson < 1
    df = spark.createDataFrame([Row(a=float(i), b=float(i) ** 3) for i in range(1, 50)])
    r = spearman_corr(df, "a", "b").collect()[0]
    assert abs(r.spearman - 1.0) < 1e-9 and r.n == 49
    pearson = df.selectExpr("corr(a, b)").collect()[0][0]
    assert pearson < 0.95
    # perfect inverse monotone
    inv = spark.createDataFrame([Row(a=float(i), b=-float(i) ** 3) for i in range(1, 50)])
    assert abs(spearman_corr(inv, "a", "b").collect()[0].spearman + 1.0) < 1e-9
    # nulls excluded
    withnull = spark.createDataFrame(
        [Row(a=1.0, b=1.0), Row(a=2.0, b=8.0), Row(a=None, b=3.0), Row(a=4.0, b=None)]
    )
    assert spearman_corr(withnull, "a", "b").collect()[0].n == 2


def test_spearman_matrix_matches_pairwise(spark):
    """The one-scan melted form agrees with per-pair spearman_corr
    (same max-rank tie semantics), keeps pair order, excludes NULLs
    per pair independently, and emits (NULL, 0) for an empty pair."""
    import random

    from pyspark.sql import Row

    from whiterrabbit_spark.profile import spearman_corr, spearman_matrix

    rng = random.Random(7)
    rows = [
        Row(
            a=float(rng.randint(1, 20)),
            b=float(rng.randint(1, 20)) ** 2,
            c=rng.gauss(0.0, 1.0),
            d=None,
        )
        for _ in range(500)
    ]
    df = spark.createDataFrame(
        rows, "a double, b double, c double, d double"
    )
    pairs = [("a", "b"), ("a", "c"), ("b", "c"), ("a", "d")]
    out = spearman_matrix(df, pairs).collect()
    assert [(r.col_a, r.col_b) for r in out] == pairs
    for r in out[:3]:
        ref = spearman_corr(df, r.col_a, r.col_b).collect()[0]
        assert abs(r.spearman - ref.spearman) < 1e-9
        assert r.n == ref.n == 500
    assert out[3].spearman is None and out[3].n == 0


def test_grouped_ols(spark):
    from pyspark.sql import Row

    from whiterrabbit_spark.profile import grouped_ols

    df = spark.createDataFrame(
        [Row(g=g, x=float(x), y=(2.0 * x + (3.0 if g == "a" else -1.0)))
         for g in ("a", "b") for x in range(1, 6)]
    )
    rows = {r.group_key: r for r in grouped_ols(df, "g", "x", "y").collect()}
    assert abs(rows["a"].slope - 2.0) < 1e-9 and abs(rows["a"].intercept - 3.0) < 1e-9
    assert abs(rows["b"].intercept + 1.0) < 1e-9 and rows["b"].n == 5
    assert abs(rows["a"].r2 - 1.0) < 1e-9
    # NULL on either side excluded (REGR_* semantics)
    withnull = spark.createDataFrame(
        [Row(g="a", x=1.0, y=1.0), Row(g="a", x=2.0, y=2.0),
         Row(g="a", x=None, y=9.0), Row(g="a", x=4.0, y=None)]
    )
    assert grouped_ols(withnull, "g", "x", "y").collect()[0].n == 2


def test_mutual_information(spark):
    import math

    from pyspark.sql import Row

    from whiterrabbit_spark.profile import mutual_information

    # independent uniform pair: MI = 0
    indep = spark.createDataFrame(
        [Row(a=a, b=b) for a in "xy" for b in "pq" for _ in range(10)]
    )
    r = mutual_information(indep, [("a", "b")]).collect()[0]
    assert abs(r.mi) < 1e-12 and abs(r.mi_norm) < 1e-12 and r.n_rows == 40
    # deterministic bijection: MI = H(A) = ln(2), normalized 1
    dep = spark.createDataFrame(
        [Row(a=a, b="p" if a == "x" else "q") for a in "xy" for _ in range(10)]
    )
    r2 = mutual_information(dep, [("a", "b")]).collect()[0]
    assert abs(r2.mi - math.log(2)) < 1e-12 and abs(r2.mi_norm - 1.0) < 1e-12
    # constant column: mi_norm undefined -> NULL; nulls excluded
    const = spark.createDataFrame(
        [Row(a="x", b="p"), Row(a="x", b="q"), Row(a=None, b="p")]
    )
    r3 = mutual_information(const, [("a", "b")]).collect()[0]
    assert r3.mi_norm is None and r3.n_rows == 2


def test_benford_profile(spark):
    from pyspark.sql import Row

    from whiterrabbit_spark.profile import benford_profile

    df = spark.createDataFrame(
        [Row(v=x) for x in (123.0, 0.19, -1.5e7, 2.0, 0.0, None, 900.0)]
    )
    rows = {r.digit: r for r in benford_profile(df, ["v"]).collect()}
    # zero and NULL carry no significant digit; 123->1, 0.19->1, -1.5e7->1
    assert rows[1].n == 3 and rows[2].n == 1 and rows[9].n == 1
    assert abs(sum(r.share for r in rows.values()) - 1.0) < 1e-12
    assert abs(rows[1].benford_share - 0.301029995) < 1e-6


def test_sequence_gaps(spark):
    from pyspark.sql import Row

    from whiterrabbit_spark.profile import sequence_gaps

    df = spark.createDataFrame(
        [Row(k=k) for k in (1, 2, 3, 5, 6, 10, 11, 20, 20, None)], "k: bigint"
    )
    r = sequence_gaps(df, "k", n_buckets=3).collect()[0]
    assert (r.min_key, r.max_key, r.n_keys) == (1, 20, 8)
    assert (r.n_missing, r.n_gaps, r.max_gap) == (12, 3, 8)
    # dense sequence: no gaps regardless of bucketing
    dense = spark.createDataFrame([Row(k=k) for k in range(7, 1000)], "k: bigint")
    r2 = sequence_gaps(dense, "k", n_buckets=7).collect()[0]
    assert (r2.n_missing, r2.n_gaps, r2.max_gap) == (0, 0, 0)
    # empty input
    empty = spark.createDataFrame([], "k bigint")
    assert sequence_gaps(empty, "k").count() == 0


def test_equi_depth_histogram_approx(spark):
    from pyspark.sql import Row

    from whiterrabbit_spark.profile import equi_depth_histogram

    df = spark.createDataFrame([Row(v=float(i)) for i in range(1, 10001)])
    exact = {r.bucket: r for r in
             equi_depth_histogram(df, "v", bins=4, approx=False).collect()}
    approx = {r.bucket: r for r in
              equi_depth_histogram(df, "v", bins=4, approx=True).collect()}
    assert sum(r.n_rows for r in approx.values()) == 10000
    # sketch cuts land within accuracy of the exact quartiles -> bucket
    # populations near 2500 each
    for b in range(4):
        assert abs(approx[b].n_rows - exact[b].n_rows) <= 50
    # auto mode at small n = exact plan (same cut points)
    auto = {r.bucket: r for r in
            equi_depth_histogram(df, "v", bins=4).collect()}
    assert {b: r.n_rows for b, r in auto.items()} == \
           {b: r.n_rows for b, r in exact.items()}
    # empty input, approx path
    empty = spark.createDataFrame([], "v double")
    assert equi_depth_histogram(empty, "v", approx=True).count() == 0


def test_hist2d(spark):
    from pyspark.sql import Row

    from whiterrabbit_spark.profile import hist2d

    df = spark.createDataFrame(
        [Row(x=float(i % 10), y=float(i // 10)) for i in range(100)]
        + [Row(x=None, y=1.0), Row(x=1.0, y=None)]
    )
    out = hist2d(df, "x", "y", bins_x=2, bins_y=2).collect()
    assert sum(r.n_rows for r in out) == 100  # null-on-either-axis excluded
    cells = {(r.bucket_x, r.bucket_y): r.n_rows for r in out}
    # uniform 10x10 grid, 2x2 buckets: max values clamp into last bin
    assert cells == {(0, 0): 25, (0, 1): 25, (1, 0): 25, (1, 1): 25}
    r00 = next(r for r in out if (r.bucket_x, r.bucket_y) == (0, 0))
    assert r00.x_lo == 0.0 and r00.y_lo == 0.0
    # empty input
    assert hist2d(spark.createDataFrame([], "x double, y double"), "x", "y").count() == 0


def test_join_cardinality(spark):
    from pyspark.sql import Row

    from whiterrabbit_spark.profile import join_cardinality

    left = spark.createDataFrame(
        [Row(k=1), Row(k=1), Row(k=2), Row(k=9), Row(k=None)]
    )
    right = spark.createDataFrame([Row(k=1), Row(k=2), Row(k=2), Row(k=7)])
    r = join_cardinality(left, right, "k", "k").collect()[0]
    assert (r.left_rows, r.right_rows) == (4, 4)  # nulls not in histograms
    assert (r.left_keys, r.right_keys) == (3, 3)
    assert (r.max_left_fanout, r.max_right_fanout) == (2, 2)
    assert (r.left_orphan_rows, r.right_orphan_rows) == (1, 1)
    assert (r.left_null_rows, r.right_null_rows) == (1, 0)
    assert r.relationship == "M:N"  # k=1 multi-left matched, k=2 multi-right
    # clean FK: many orders -> one customer = N:1
    many = spark.createDataFrame([Row(k=1), Row(k=1), Row(k=2)])
    one = spark.createDataFrame([Row(k=1), Row(k=2)])
    assert join_cardinality(many, one, "k", "k").collect()[0].relationship == "N:1"
    assert join_cardinality(one, many, "k", "k").collect()[0].relationship == "1:N"
    assert join_cardinality(one, one, "k", "k").collect()[0].relationship == "1:1"


def test_chi2_drift(spark):
    from pyspark.sql import Row

    from whiterrabbit_spark.profile import chi2_drift

    # identical level mixes: chi2 == 0
    same = spark.createDataFrame(
        [Row(c=lv) for lv in ("a", "a", "b") for _ in range(10)]
    )
    r = chi2_drift(same, same, ["c"]).collect()[0]
    assert abs(r.chi2) < 1e-9 and r.dof == 1 and r.n_ref == r.n_cur == 30
    # a level present only on one side still contributes
    ref = spark.createDataFrame([Row(c="a")] * 20)
    cur = spark.createDataFrame([Row(c="a")] * 10 + [Row(c="z")] * 10)
    r2 = chi2_drift(ref, cur, ["c"]).collect()[0]
    assert r2.chi2 > 5 and r2.dof == 1
    # nulls and empties excluded
    with_null = spark.createDataFrame(
        [Row(c="a"), Row(c=None), Row(c="")] * 5
    )
    assert chi2_drift(with_null, with_null, ["c"]).collect()[0].n_ref == 5


def test_sequence_gaps_extreme_range(spark):
    """Key ranges past 2^51 must not overflow the bucket arithmetic
    (multiply-first bucketing silently wrapped int64)."""
    from pyspark.sql import Row

    from whiterrabbit_spark.profile import sequence_gaps

    base = 1 << 62
    ks = [base, base + 1, base + 5, base + 6, -(1 << 61)]
    df = spark.createDataFrame([Row(k=k) for k in ks], "k: bigint")
    r = sequence_gaps(df, "k", n_buckets=4).collect()[0]
    assert r.n_keys == 5 and r.min_key == -(1 << 61) and r.max_key == base + 6
    # missing = full span minus 5 present keys
    assert r.n_missing == (base + 6) - (-(1 << 61)) + 1 - 5
    # two gap runs: the huge one below `base`, and base+1 -> base+5
    assert r.n_gaps == 2 and r.max_gap == base - (-(1 << 61)) - 1


def test_binned_mi_detects_nonmonotonic_dependence(spark):
    """V-shaped y=|x| has ~zero Pearson correlation but strong binned
    MI; independent noise has near-zero MI. Constant column -> bin 0
    everywhere, mi 0, mi_norm NULL."""
    import math
    import random

    from whiterrabbit_spark.profile import binned_mutual_information

    rng = random.Random(7)
    xs = [rng.uniform(-1, 1) for _ in range(4000)]
    v = spark.createDataFrame(
        [(x, abs(x)) for x in xs], "x double, y double"
    )
    noise = spark.createDataFrame(
        [(x, rng.uniform(-1, 1)) for x in xs], "x double, y double"
    )
    mi_v = binned_mutual_information(v, "x", "y").collect()[0]
    mi_n = binned_mutual_information(noise, "x", "y").collect()[0]
    assert mi_v["mi"] > 1.0  # deterministic relation, ~ln(bins) nats
    assert mi_n["mi"] < 0.15
    assert mi_v["mi_norm"] > 5 * (mi_n["mi_norm"] or 0)
    # Pearson misses the V entirely
    corr = v.corr("x", "y")
    assert abs(corr) < 0.1 and mi_v["mi"] > 10 * abs(corr)

    const = spark.createDataFrame(
        [(float(i), 1.0) for i in range(50)], "x double, y double"
    )
    r = binned_mutual_information(const, "x", "y").collect()[0]
    assert r["mi"] == 0.0 and r["mi_norm"] is None


def test_type7_cuts_distributed_matches_percentile(spark):
    """The distributed cut finder must equal the buffered
    percentile(v, probs, cnt) aggregate exactly (same type-7 math),
    including ties, skew, and a single-value histogram."""
    import random

    import pyspark.sql.functions as F

    from whiterrabbit_spark.cache import pin
    from whiterrabbit_spark.profile import type7_cuts_distributed

    rng = random.Random(3)
    vals = (
        [round(rng.uniform(0, 100), 2) for _ in range(5000)]
        + [42.0] * 500       # heavy tie
        + [-7.5] * 3
    )
    df = spark.createDataFrame([(v,) for v in vals], "v double")
    hist = pin(df.groupBy("v").agg(F.count(F.lit(1)).alias("cnt")))
    probs = [0.1, 0.25, 0.5, 0.75, 0.9, 0.99]
    want = hist.agg(
        F.percentile(F.col("v"), F.lit(probs), F.col("cnt"))
    ).collect()[0][0]
    got = type7_cuts_distributed(hist, probs, len(vals))
    assert got == [float(x) for x in want]

    one = spark.createDataFrame([(5.0,)], "v double").groupBy("v").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    assert type7_cuts_distributed(one, [0.5], 1) == [5.0]


def test_grouped_trimmed_mean_robust_to_outliers(spark):
    from whiterrabbit_spark.profile import grouped_trimmed_mean

    rows = [("g", float(v)) for v in range(1, 101)] + [("g", 1e9)]
    df = spark.createDataFrame(rows, "k string, v double")
    r = grouped_trimmed_mean(df, "k", "v", lo=0.1, hi=0.9).collect()[0]
    assert r["n_rows"] == 101
    assert r["mean_raw"] > 1e6            # wrecked by the outlier
    assert 40 < r["mean_trimmed"] < 60    # trimmed band ignores it
    assert r["n_used"] < r["n_rows"]


def test_lifetime_survival_shape(spark):
    import pyspark.sql.functions as F

    from whiterrabbit_spark.profile import lifetime_survival

    rows = [
        # user 1: 0-day span; user 2: 2-day; user 3: 2-day; user 4: 5-day
        (1, "2024-01-01 00:00:00"), (1, "2024-01-01 03:00:00"),
        (2, "2024-01-01 00:00:00"), (2, "2024-01-03 00:00:00"),
        (3, "2024-01-02 00:00:00"), (3, "2024-01-04 00:00:00"),
        (4, "2024-01-01 00:00:00"), (4, "2024-01-06 00:00:00"),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts string").withColumn(
        "ts", F.to_timestamp("ts")
    )
    out = {r["t"]: r for r in lifetime_survival(df, "user_id", "ts").collect()}
    assert out[0]["n_entities_at_least_t"] == 4 and out[0]["survival"] == 1.0
    assert out[2]["n_entities_at_least_t"] == 3
    assert out[5]["n_entities_at_least_t"] == 1
    assert abs(out[5]["survival"] - 0.25) < 1e-12
    # survival is non-increasing in t
    ts = sorted(out)
    s = [out[t]["survival"] for t in ts]
    assert all(a >= b for a, b in zip(s, s[1:]))


def test_gini_coefficient_known_values(spark):
    from whiterrabbit_spark.profile import gini_coefficient

    rows = (
        [("uniform", 5.0)] * 8                      # all equal -> 0
        + [("concentrated", 0.0)] * 9
        + [("concentrated", 100.0)]                 # one holder -> 0.9
        + [("pair", 1.0), ("pair", 3.0)]            # G = 0.25
    )
    df = spark.createDataFrame(rows, "g string, v double")
    out = {}
    for g in ("uniform", "concentrated", "pair"):
        r = gini_coefficient(df.where(df.g == g), ["v"]).collect()[0]
        out[g] = r["gini"]
    assert abs(out["uniform"]) < 1e-12
    assert abs(out["concentrated"] - 0.9) < 1e-12
    assert abs(out["pair"] - 0.25) < 1e-12


def test_poisson_bootstrap_statistical_sanity(spark):
    """The percentile CI brackets the true mean of an iid sample, the
    point estimate is the plain mean, se > 0, and the draw is a pure
    function of (id, salt) — rerunning yields identical output."""
    import random

    from whiterrabbit_spark.profile import poisson_bootstrap

    rng = random.Random(11)
    rows = [(i, rng.gauss(100.0, 10.0)) for i in range(4000)]
    df = spark.createDataFrame(rows, "id long, v double")
    r1 = poisson_bootstrap(df, "v", "id").collect()[0]
    assert r1["n_rows"] == 4000
    assert abs(r1["mean"] - 100.0) < 1.0
    assert r1["ci_lo"] < r1["mean"] < r1["ci_hi"]
    assert r1["ci_lo"] < 100.0 < r1["ci_hi"]       # true mean covered
    # CI width ~ 4*se/sqrt-free (percentile interval); sane magnitude
    assert 0 < r1["boot_se"] < 2.0
    assert (r1["ci_hi"] - r1["ci_lo"]) < 8 * r1["boot_se"]
    r2 = poisson_bootstrap(df, "v", "id").collect()[0]
    assert r1 == r2                                 # deterministic
    # a different salt draws a different resample
    r3 = poisson_bootstrap(df, "v", "id", salt="other").collect()[0]
    assert r3["ci_lo"] != r1["ci_lo"]


def test_ab_test_bootstrap_detects_planted_effect(spark):
    import random

    from whiterrabbit_spark.profile import ab_test_bootstrap

    rng = random.Random(5)
    rows = [(i, "t", rng.gauss(105.0, 10.0)) for i in range(2000)] + [
        (i + 10_000, "c", rng.gauss(100.0, 10.0)) for i in range(2000)
    ]
    df = spark.createDataFrame(rows, "id long, g string, v double")
    r = ab_test_bootstrap(df, "v", "g", "t", "c", "id").collect()[0]
    assert r["n_a"] == r["n_b"] == 2000
    assert 3.0 < r["diff"] < 7.0
    assert r["ci_lo"] < r["diff"] < r["ci_hi"]
    assert r["significant"] is True

    null_rows = [(i, "t" if i % 2 else "c", rng.gauss(50.0, 5.0))
                 for i in range(3000)]
    df0 = spark.createDataFrame(null_rows, "id long, g string, v double")
    r0 = ab_test_bootstrap(df0, "v", "g", "t", "c", "id").collect()[0]
    assert r0["significant"] is False  # no real effect -> CI covers 0
    assert r0["ci_lo"] < 0 < r0["ci_hi"]


def test_acf_detects_planted_periodicity(spark):
    import math

    import pyspark.sql.functions as F

    from whiterrabbit_spark.profile import acf_daily

    rows = []
    for d in range(1, 29):
        v = 100.0 + 50.0 * math.sin(2 * math.pi * d / 7.0)  # weekly cycle
        for h in range(3):
            rows.append((f"2024-03-{d:02d} 0{h}:00:00", v))
    df = spark.createDataFrame(rows, "ts string, value double").withColumn(
        "ts", F.to_timestamp("ts")
    )
    out = {r["lag"]: r["acf"] for r in acf_daily(df, "ts", "value").collect()}
    assert out[7] > 0.95          # period echoes at lag 7
    assert out[3] < 0 or out[4] < 0  # anti-phase mid-cycle


def test_pareto_concentration_hand_case(spark):
    """4 keys with totals 40, 30, 20, 10 (exact cents): top-25% = top-1
    key = 0.4 share; top-50% = 0.7; ties at the boundary use the weight
    multiset so any tied key is interchangeable."""
    from whiterrabbit_spark.profile import pareto_concentration

    rows = [("a", 40.0), ("b", 30.0), ("c", 20.0), ("d", 10.0)]
    df = spark.createDataFrame(rows, "k string, w double")
    out = {
        r["pct_keys"]: (r["n_top_keys"], r["weight_share"])
        for r in pareto_concentration(
            df, "k", "w", pcts=[25.0, 50.0, 100.0]
        ).collect()
    }
    assert out[25.0] == (1, 0.4)
    assert out[50.0] == (2, 0.7)
    assert out[100.0] == (4, 1.0)


def test_pareto_concentration_tie_boundary(spark):
    """All keys tied: every slice's share equals its key fraction
    exactly — the integer fixed-point path has no float boundary."""
    from whiterrabbit_spark.profile import pareto_concentration

    rows = [(f"k{i}", 7.77) for i in range(10)]
    df = spark.createDataFrame(rows, "k string, w double")
    out = {
        r["pct_keys"]: r["weight_share"]
        for r in pareto_concentration(df, "k", "w", pcts=[10.0, 50.0]).collect()
    }
    assert out[10.0] == 0.1
    assert out[50.0] == 0.5


def test_rolling_distinct_daily_hand_case(spark):
    """3-day window over 4 days: day N counts users seen in [N-2, N];
    only observed days are emitted."""
    import pyspark.sql.functions as F

    from whiterrabbit_spark.profile import rolling_distinct_daily

    rows = [
        ("2024-01-01", 1), ("2024-01-01", 2),
        ("2024-01-02", 2),
        ("2024-01-04", 3),
    ]
    df = spark.createDataFrame(rows, "ts string, u long").withColumn(
        "ts", F.to_timestamp("ts")
    )
    out = {
        r["day"]: r["rolling_distinct"]
        for r in rolling_distinct_daily(df, "ts", "u", window_days=3).collect()
    }
    # Jan 3 absent from the data -> not emitted; Jan 4's window
    # [Jan 2..4] still sees user 2 from Jan 2
    assert out == {"2024-01-01": 2, "2024-01-02": 2, "2024-01-04": 2}


def test_ewma_daily_matches_pandas(spark):
    """EWMA matches pandas ewm(adjust=True).mean() on the daily series."""
    import pandas as pd
    import pyspark.sql.functions as F

    from whiterrabbit_spark.profile import ewma_daily

    vals = [3.0, 1.0, 4.0, 1.0, 5.0, 9.0, 2.0, 6.0]
    rows = [(f"2024-02-{i+1:02d}", v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "ts string, value double").withColumn(
        "ts", F.to_timestamp("ts")
    )
    out = (
        ewma_daily(df, "ts", "value", alpha=0.3)
        .orderBy("day")
        .toPandas()
    )
    expected = pd.Series(vals).ewm(alpha=0.3, adjust=True).mean()
    assert list(out["daily_mean"]) == vals
    for got, exp in zip(out["ewma"], expected):
        assert abs(got - exp) < 1e-6


def test_segment_overlap_sketch_accuracy(spark):
    """HLL estimates land within 5% of the exact sizes/overlaps on two
    planted segments sharing half their users."""
    from whiterrabbit_spark.profile import segment_overlap_sketch

    rows = [("A", i) for i in range(2000)] + [
        ("B", i) for i in range(1000, 3000)
    ]
    df = spark.createDataFrame(rows, "seg string, u long")
    r = segment_overlap_sketch(df, "seg", "u").collect()[0]
    assert r["segment_1"] == "A" and r["segment_2"] == "B"
    assert abs(r["n_1"] - 2000) / 2000 < 0.05
    assert abs(r["n_2"] - 2000) / 2000 < 0.05
    assert abs(r["union_est"] - 3000) / 3000 < 0.05
    assert abs(r["jaccard_est"] - 1 / 3) < 0.05


def test_table_checksum_order_insensitive(spark):
    """Same content in different row order -> identical checksums;
    a one-value change flips both xor and sum for that column only."""
    from whiterrabbit_spark.profile import table_checksum

    a = spark.createDataFrame(
        [(1, "x"), (2, "y"), (3, None)], "id long, s string"
    )
    b = spark.createDataFrame(
        [(3, None), (1, "x"), (2, "y")], "id long, s string"
    ).repartition(3)
    rows_a = {r["column_name"]: r for r in table_checksum(a).collect()}
    rows_b = {r["column_name"]: r for r in table_checksum(b).collect()}
    for c in ("id", "s"):
        assert rows_a[c]["checksum_xor"] == rows_b[c]["checksum_xor"]
        assert rows_a[c]["checksum_sum"] == rows_b[c]["checksum_sum"]
    assert rows_a["s"]["n_nonnull"] == 2 and rows_a["s"]["n_rows"] == 3

    c_df = spark.createDataFrame(
        [(1, "x"), (2, "Y"), (3, None)], "id long, s string"
    )
    rows_c = {r["column_name"]: r for r in table_checksum(c_df).collect()}
    assert rows_c["id"]["checksum_xor"] == rows_a["id"]["checksum_xor"]
    assert rows_c["s"]["checksum_xor"] != rows_a["s"]["checksum_xor"]
    assert rows_c["s"]["checksum_sum"] != rows_a["s"]["checksum_sum"]


def test_theil_sen_robust_to_outlier(spark):
    """A clean slope-2 daily series with one wild day: Theil-Sen stays
    ~2, OLS is dragged away — the operator's reason to exist."""
    import pyspark.sql.functions as F

    from whiterrabbit_spark.profile import theil_sen_daily

    rows = []
    for d in range(1, 21):
        # the wild day sits at the series END — maximum OLS leverage
        v = 2.0 * d if d != 20 else 500.0
        rows.append((f"2024-03-{d:02d}", v))
    df = spark.createDataFrame(rows, "ts string, value double").withColumn(
        "ts", F.to_timestamp("ts")
    )
    r = theil_sen_daily(df, "ts", "value").collect()[0]
    assert r["n_days"] == 20 and r["n_pairs"] == 190
    assert abs(r["slope_per_day"] - 2.0) < 0.15
    assert abs(r["ols_slope"] - 2.0) > 1.0


def test_grouped_theil_sen_per_segment(spark):
    """Two segments with different true slopes, each with one wild day:
    the per-group pairwise-slope median recovers each segment's slope
    independently (a shared global fit would blend them)."""
    import pyspark.sql.functions as F

    from whiterrabbit_spark.profile import grouped_theil_sen

    rows = []
    for d in range(1, 16):
        rows.append(("a", f"2024-03-{d:02d}", 2.0 * d if d != 15 else 900.0))
        rows.append(("b", f"2024-03-{d:02d}", -3.0 * d if d != 8 else 400.0))
    df = spark.createDataFrame(
        rows, "event_type string, ts string, value double"
    ).withColumn("ts", F.to_timestamp("ts"))
    out = {
        r["group"]: r
        for r in grouped_theil_sen(df, "event_type", "ts", "value").collect()
    }
    assert set(out) == {"a", "b"}
    for g in ("a", "b"):
        assert out[g]["n_days"] == 15 and out[g]["n_pairs"] == 105
    assert abs(out["a"]["slope_per_day"] - 2.0) < 0.3
    assert abs(out["b"]["slope_per_day"] + 3.0) < 0.3


def test_layout_prune_report_hand_case(spark):
    """100 rows, values 0..99, chunks of 10, probe [90, 99]: clustered
    by value scans exactly 1 chunk; clustered by an independent key
    (reversed id) spreads the matches everywhere -> all 10 chunks."""
    from whiterrabbit_spark.profile import layout_prune_report

    rows = [(i, float(i % 100)) for i in range(100)]
    df = spark.createDataFrame(rows, "id long, v double")
    # key layout: order by (id * 37) % 100 — decorrelates v from position
    df = df.withColumn("scrambled", (df.id * 37) % 100)
    out = {
        r["layout"]: r
        for r in layout_prune_report(
            df, "v", {"by_key": "scrambled", "by_value": "v"},
            chunk_rows=10, probe_lo=90.0, probe_hi=99.0,
        ).collect()
    }
    assert out["by_value"]["n_chunks"] == 10
    assert out["by_value"]["n_chunks_scanned"] == 1
    assert out["by_value"]["rows_matched"] == 10
    # decorrelated layout leaves (almost) every chunk overlapping the
    # probe range — the contrast the advisor exists to surface
    assert out["by_key"]["n_chunks_scanned"] >= 8


def test_layout_prune_tie_spans_are_worst_case(spark):
    """A tie block straddling a chunk boundary attributes its span to
    both chunks (deterministic worst case)."""
    from whiterrabbit_spark.profile import layout_prune_report

    # 6 rows, all sort-key ties; values 0..5; chunks of 3
    rows = [(1, float(i)) for i in range(6)]
    df = spark.createDataFrame(rows, "k long, v double")
    r = layout_prune_report(
        df, "v", {"by_k": "k"}, chunk_rows=3, probe_lo=0.0, probe_hi=0.5
    ).collect()[0]
    assert r["n_chunks"] == 2
    # both chunks carry the full 0..5 span -> both scanned
    assert r["n_chunks_scanned"] == 2


def test_zorder_key_interleaves_bits(spark):
    """Morton hand-check at 2 bits/col: buckets (qty, price) = (3, 1)
    -> bits qty=11, price=01 interleaved (qty at even positions) =
    0b0111 = 7; clamping keeps out-of-range values in edge buckets."""
    from whiterrabbit_spark.profile import zorder_key_expr

    df = spark.createDataFrame(
        [(3.999, 1.999), (0.0, 0.0), (99.0, -5.0)], "a double, b double"
    )
    # domain [0,4) both, 2 bits -> bucket = floor(v), values 0..3
    key = zorder_key_expr(["a", "b"], [0.0, 0.0], [4.0, 4.0], bits_per_col=2)
    got = [r["z"] for r in df.select(key.alias("z")).collect()]
    # (3,1): a bits (1,1) at pos 0,2; b bits (0,1)? b=1 -> bits (1,0):
    # bit0 of b at pos 1, bit1 (0) at pos 3 -> 0b0111 = 7
    assert got[0] == 7
    assert got[1] == 0
    # a clamps to bucket 3, b clamps to 0 -> bits a=11 at pos 0,2 -> 5
    assert got[2] == 5


def test_zorder_layout_prunes_both_probes(spark):
    """On a grid where x and y are independent, sorting by x leaves a
    y-probe unpruned, while the z-order key prunes both probes below
    half the chunks."""
    from whiterrabbit_spark.profile import (
        layout_prune_report,
        zorder_key_expr,
    )

    rows = [(float(x), float(y)) for x in range(64) for y in range(64)]
    df = spark.createDataFrame(rows, "x double, y double")
    z = zorder_key_expr(["x", "y"], [0.0, 0.0], [64.0, 64.0], 6)
    for probe in ("x", "y"):
        out = {
            r["layout"]: r
            for r in layout_prune_report(
                df, probe, {"by_x": "x", "by_z": z},
                chunk_rows=256, probe_lo=0.0, probe_hi=7.9,
            ).collect()
        }
        if probe == "x":
            assert out["by_x"]["scan_fraction"] <= 0.2
        else:
            assert out["by_x"]["scan_fraction"] == 1.0
        assert out["by_z"]["scan_fraction"] <= 0.5


def test_layout_prune_multi_matches_per_probe_calls(spark):
    """The fused multi-probe report (one melt, shared grouped prefix)
    returns EXACTLY the rows of one layout_prune_report call per probe
    — including when the probes' NULL sets differ, the case where the
    per-probe histogram counts diverge (r8 optimization)."""
    from whiterrabbit_spark.profile import (
        layout_prune_report,
        layout_prune_report_multi,
    )

    rows = []
    for i in range(200):
        a = float(i % 50) if i % 7 else None      # a NULL every 7th row
        b = float((i * 37) % 100) if i % 3 else None  # b NULL every 3rd
        rows.append((i, a, b))
    df = spark.createDataFrame(rows, "id long, a double, b double")
    probes = [("a", 10.0, 19.0), ("b", 40.0, 59.0)]
    layouts = {"by_a": "a", "by_b": "b", "by_id": "id"}
    fused = layout_prune_report_multi(
        df, probes, layouts, chunk_rows=16
    ).collect()
    assert len(fused) == 6
    separate = []
    for vc, lo, hi in probes:
        for r in layout_prune_report(
            df, vc, layouts, chunk_rows=16, probe_lo=lo, probe_hi=hi
        ).collect():
            separate.append((vc,) + tuple(r))
    assert sorted(tuple(r) for r in fused) == sorted(separate)


def test_woe_encoding_hand_case(spark):
    """Perfectly predictive level gets large |WOE| and dominant IV;
    a 50/50 level sits near WOE 0."""
    import math

    import pyspark.sql.functions as F

    from whiterrabbit_spark.profile import woe_encoding

    rows = [("hot", 1)] * 40 + [("hot", 0)] * 2 + [("flat", 1)] * 20 + [
        ("flat", 0)
    ] * 20
    df = spark.createDataFrame(rows, "cat string, y int")
    out = {
        r["level"]: r
        for r in woe_encoding(df, "cat", F.col("y") == 1).collect()
    }
    assert out["hot"]["n_pos"] == 40 and out["hot"]["n_neg"] == 2
    # hand: p = 40.5/61, q = 2.5/23
    exp_hot = math.log((40.5 / 61.0) / (2.5 / 23.0))
    assert abs(out["hot"]["woe"] - exp_hot) < 1e-6
    # WOE compares a level's SHARE of positives vs its share of
    # negatives: "flat" holds 1/3 of positives but 9/10 of negatives,
    # so it's strongly negative — not near zero
    exp_flat = math.log((20.5 / 61.0) / (20.5 / 23.0))
    assert abs(out["flat"]["woe"] - exp_flat) < 1e-6
    assert out["hot"]["iv_contrib"] > 0 and out["flat"]["iv_contrib"] > 0


def test_target_encode_loo_hand_case(spark):
    """Each row's encode is its level mean WITHOUT itself; singleton
    levels get NULL."""
    from whiterrabbit_spark.profile import target_encode_loo

    df = spark.createDataFrame(
        [(1, "a", 10.0), (2, "a", 20.0), (3, "a", 30.0), (4, "b", 7.0)],
        "id long, cat string, y double",
    )
    out = {r["id"]: r["te_loo"] for r in
           target_encode_loo(df, "cat", "y").collect()}
    assert out[1] == 25.0 and out[2] == 20.0 and out[3] == 15.0
    assert out[4] is None


def test_km_survival_hand_case(spark):
    """Classic KM hand computation: durations (t, churned) =
    (1,T),(2,F),(3,T),(4,T),(5,F):
    S(1) = 4/5; S(3) = 4/5 * (1 - 1/3) = 8/15; S(4) = 8/15 * 1/2."""
    from whiterrabbit_spark.profile import km_survival

    rows = [(1, True), (2, False), (3, True), (4, True), (5, False)]
    df = spark.createDataFrame(rows, "d long, ev boolean")
    out = {r["t"]: r for r in km_survival(df, "d", "ev").collect()}
    assert set(out) == {1, 3, 4}  # event times only
    assert out[1]["n_at_risk"] == 5
    assert abs(out[1]["survival"] - 0.8) < 1e-6
    assert out[3]["n_at_risk"] == 3
    assert abs(out[3]["survival"] - 8 / 15) < 1e-6
    assert out[4]["n_at_risk"] == 2
    assert abs(out[4]["survival"] - 4 / 15) < 1e-6


def test_impute_nulls_grouped_median_and_flags(spark):
    from whiterrabbit_spark.profile import impute_nulls

    df = spark.createDataFrame(
        [("a", 1.0), ("a", 3.0), ("a", None), ("b", 10.0), ("b", None)],
        "g string, v double",
    )
    out = impute_nulls(df, ["v"], "median", group_col="g").collect()
    filled = {(r["g"], r["v"], r["v_imputed"]) for r in out}
    assert ("a", 2.0, True) in filled     # median of (1,3)
    assert ("b", 10.0, True) in filled    # median of (10)
    assert ("a", 1.0, False) in filled
    with __import__("pytest").raises(ValueError):
        impute_nulls(df, ["v"], "mode")


def test_rolling_distinct_hll_tracks_exact(spark):
    """The sketch twin stays within 3% of the exact fan-out form on a
    2k-user synthetic month."""
    import pyspark.sql.functions as F

    from whiterrabbit_spark.profile import (
        rolling_distinct_daily,
        rolling_distinct_hll_daily,
    )

    rows = [
        (f"2024-05-{1 + (i // 700) % 28:02d}", (i * 13) % 2000)
        for i in range(20_000)
    ]
    df = spark.createDataFrame(rows, "ts string, u long").withColumn(
        "ts", F.to_timestamp("ts")
    )
    exact = {
        r["day"]: r["rolling_distinct"]
        for r in rolling_distinct_daily(df, "ts", "u", 7).collect()
    }
    est = {
        r["day"]: r["rolling_distinct_est"]
        for r in rolling_distinct_hll_daily(df, "ts", "u", 7).collect()
    }
    assert set(exact) == set(est)
    for d in exact:
        assert abs(est[d] - exact[d]) / exact[d] < 0.03, (d, exact[d], est[d])


def test_wilson_ci_hand_case(spark):
    """8/10 successes: Wilson 95% interval ≈ (0.49, 0.94) — narrower
    and shifted vs the naive ±1.96·se interval; bounds clamp to [0,1]
    at the extremes (10/10 -> high == 1 is impossible; Wilson gives
    < 1 but the 0/10 low clamps at 0)."""
    import pyspark.sql.functions as F

    from whiterrabbit_spark.profile import wilson_ci

    rows = [("a", i < 8) for i in range(10)] + [("b", False) for _ in range(10)]
    df = spark.createDataFrame(rows, "g string, ok boolean")
    out = {r["group"]: r for r in wilson_ci(df, "g", "ok").collect()}
    a = out["a"]
    assert a["n_trials"] == 10 and a["n_success"] == 8
    assert 0.48 < a["ci_low"] < 0.50
    assert 0.93 < a["ci_high"] < 0.95
    b = out["b"]
    assert b["rate"] == 0.0 and b["ci_low"] == 0.0
    assert b["ci_high"] > 0.2  # Wilson never collapses to a point at p=0


def test_rank_movers_hand_case(spark):
    """Key 'x' dominates period a, 'y' dominates period b; rank_change
    reflects the swap; a key absent from a period ranks NULL."""
    import pyspark.sql.functions as F

    from whiterrabbit_spark.profile import rank_movers

    rows = (
        [("x", "a")] * 5 + [("y", "a")] * 2 + [("z", "a")] * 1
        + [("y", "b")] * 5 + [("x", "b")] * 1
    )
    df = spark.createDataFrame(rows, "k string, p string")
    out = {r["key"]: r for r in rank_movers(df, "k", "p", "a", "b").collect()}
    assert out["x"]["rank_a"] == 1 and out["x"]["rank_b"] == 2
    assert out["x"]["rank_change"] == -1
    assert out["y"]["rank_a"] == 2 and out["y"]["rank_b"] == 1
    assert out["z"]["rank_b"] is None and out["z"]["rank_change"] is None


def test_apdex_hand_case(spark):
    """6 satisfied + 2 tolerating + 2 frustrated of 10 -> 0.7."""
    from whiterrabbit_spark.profile import apdex_score

    vals = [10, 20, 30, 35, 39, 40, 50, 100, 200, 500]
    df = spark.createDataFrame([("svc", float(v)) for v in vals], "g string, v double")
    r = apdex_score(df, "g", "v", 40.0, 120.0).collect()[0]
    assert r["n_satisfied"] == 6 and r["n_tolerating"] == 2
    assert r["apdex"] == 0.7


def test_forecast_eval_seasonal_series(spark):
    """On a clean period-7 series, seasonal-naive is exact (MASE 0)
    while naive pays the day-over-day jump; EWMA sits between."""
    import pyspark.sql.functions as F

    from whiterrabbit_spark.profile import forecast_eval_daily

    rows = []
    for d in range(1, 29):
        v = [10.0, 50.0, 30.0, 70.0, 20.0, 90.0, 40.0][(d - 1) % 7]
        rows.append((f"2024-03-{d:02d}", v))
    df = spark.createDataFrame(rows, "ts string, value double").withColumn(
        "ts", F.to_timestamp("ts")
    )
    out = {r["method"]: r for r in forecast_eval_daily(df, "ts", "value").collect()}
    assert out["snaive"]["mae"] == 0.0 and out["snaive"]["mase"] == 0.0
    assert out["naive"]["mase"] == 1.0
    assert 0.0 < out["ewma"]["mase"] <= 1.5
    assert out["naive"]["n_evals"] == 21


def test_dow_adjusted_outliers_ignores_weekly_shape(spark):
    """A strong weekly cycle alone produces no outliers; a planted
    one-day spike on top of it is the only flag."""
    import pyspark.sql.functions as F

    from whiterrabbit_spark.profile import dow_adjusted_outliers

    rows = []
    for d in range(1, 29):
        v = [10.0, 50.0, 30.0, 70.0, 20.0, 90.0, 40.0][(d - 1) % 7]
        if d == 17:
            v += 500.0
        rows.append((f"2024-03-{d:02d}", v))
    df = spark.createDataFrame(rows, "ts string, value double").withColumn(
        "ts", F.to_timestamp("ts")
    )
    out = {r["day"]: r for r in
           dow_adjusted_outliers(df, "ts", "value").collect()}
    flagged = [d for d, r in out.items() if r["is_outlier"]]
    assert flagged == ["2024-03-17"]


def test_jsd_drift_bounds_and_zero(spark):
    """Identical snapshots -> JSD=0, Hellinger=0; disjoint supports ->
    JSD=ln 2, Hellinger=1 exactly (where PSI saturates on its eps
    floor) — the bounded-divergence reason this operator exists."""
    import math

    from whiterrabbit_spark.profile import jsd_drift

    same = spark.createDataFrame([(float(i % 10),) for i in range(100)], "v double")
    r = jsd_drift(same, same, ["v"], bins=10).collect()[0]
    assert abs(r["jsd"]) < 1e-12 and abs(r["hellinger"]) < 1e-12

    # ref mass only in the edge bins (0 and 9), cur mass only in the
    # middle bin 5 -> fully disjoint histograms (the edge bins always
    # carry ref mass by construction, so disjointness must come from
    # an interior-only current side)
    ref = spark.createDataFrame(
        [(0.05,)] * 50 + [(9.95,)] * 50, "v double"
    )
    cur = spark.createDataFrame([(5.05,)] * 100, "v double")
    r = jsd_drift(ref, cur, ["v"], bins=10).collect()[0]
    assert abs(r["jsd"] - math.log(2)) < 1e-9
    assert abs(r["hellinger"] - 1.0) < 1e-9


def test_cuped_reduces_variance_on_correlated_pre(spark):
    """Units whose pre-period value strongly predicts the post value:
    theta ~ slope, the variance reduction ~ 100·rho², and a spurious
    raw difference (arms got uneven heavy users) shrinks toward the
    planted true effect of ZERO after adjustment."""
    import pyspark.sql.functions as F

    from whiterrabbit_spark.profile import cuped_ab

    rows = []
    for u in range(400):
        base = 100 + (u % 37) * 10  # user-level heaviness
        rows.append((u, base, "pre"))
        rows.append((u, base + (u % 7), "post"))  # post ≈ pre (rho ~ 1)
    df = spark.createDataFrame(rows, "u long, v long, period string")
    out = cuped_ab(
        df, "u", "v",
        F.col("period") == "pre", F.col("period") == "post",
    ).collect()[0]
    assert out["n_a"] + out["n_b"] == 400
    assert 0.9 < out["theta"] < 1.1
    assert out["var_reduction_pct"] > 95.0
    assert abs(out["adj_diff"]) < abs(out["raw_diff"]) + 1e-9
    assert abs(out["adj_diff"]) < 3.0  # true effect is ~0


def test_calibration_report_perfect_and_skewed(spark):
    """A perfectly calibrated score (pos rate == bin score) yields
    ~zero ECE; an always-wrong score concentrates the gap."""
    import pyspark.sql.functions as F  # noqa: F401

    from whiterrabbit_spark.profile import calibration_report

    rows = []
    for b in range(10):
        score = b / 10.0 + 0.05
        for i in range(100):
            rows.append((score, i < int(round(score * 100))))
    df = spark.createDataFrame(rows, "score double, label boolean")
    out = calibration_report(df, "score", "label", bins=10).collect()
    assert len(out) == 10
    ece = sum(r["ece_term"] for r in out)
    assert ece < 1e-9

    bad = spark.createDataFrame(
        [(0.95, False)] * 50 + [(0.05, True)] * 50, "score double, label boolean"
    )
    out = calibration_report(bad, "score", "label", bins=10).collect()
    ece = sum(r["ece_term"] for r in out)
    assert ece > 0.85


def test_cms_estimate_one_sided_and_tight_when_wide(spark):
    """CMS guarantees est >= exact always; with width >> distinct the
    probability of any collision is tiny, so the top keys read back
    exactly. A deliberately narrow sketch must show collisions
    (total overestimate > 0) while staying one-sided."""
    from whiterrabbit_spark.profile import cms_estimate_report

    rows = [(f"k{i % 50}",) for i in range(5000)]
    df = spark.createDataFrame(rows, "v string")
    wide = cms_estimate_report(df, "v", depth=4, width=4096, top_k=10).collect()
    assert len(wide) == 10
    assert all(r["overestimate"] == 0 for r in wide)
    assert all(r["exact_n"] == 100 for r in wide)

    narrow = cms_estimate_report(df, "v", depth=2, width=8, top_k=50).collect()
    assert all(r["overestimate"] >= 0 for r in narrow)  # one-sided, always
    assert sum(r["overestimate"] for r in narrow) > 0  # collisions happened


def test_kruskal_wallis_hand_case(spark):
    """A=[1,2,3], B=[4,5,6]: ranks 1..6, R_A=6, R_B=15 ->
    H = 12/42·(12+75) − 21 = 27/7; no ties so h_adj == h."""
    from whiterrabbit_spark.profile import kruskal_wallis

    df = spark.createDataFrame(
        [(1.0, "a"), (2.0, "a"), (3.0, "a"),
         (4.0, "b"), (5.0, "b"), (6.0, "b")],
        "v double, g string",
    )
    r = kruskal_wallis(df, "v", "g").collect()[0]
    # max_single_reducer=0 forces the bucketed distributed prefix sum
    assert kruskal_wallis(df, "v", "g", max_single_reducer=0).collect() == [r]
    assert r["n"] == 6 and r["k"] == 2
    assert abs(r["h"] - 27.0 / 7.0) < 1e-6  # output rounds at 6dp
    assert abs(r["h_adj"] - r["h"]) < 1e-6
    assert abs(r["epsilon_sq"] - (27.0 / 7.0 - 1.0) / 4.0) < 1e-6


def test_kruskal_wallis_null_under_identical_groups(spark):
    """Interleaved identical distributions: H ~ 0 (ranks split evenly)."""
    from whiterrabbit_spark.profile import kruskal_wallis

    rows = [(float(i), "a" if i % 2 == 0 else "b") for i in range(200)]
    df = spark.createDataFrame(rows, "v double, g string")
    r = kruskal_wallis(df, "v", "g").collect()[0]
    assert abs(r["h"]) < 0.2


def test_levene_hand_case_and_null(spark):
    """A=[1,2,3] vs B=[10,20,30]: medians 2/20, centered |z| gives
    SSB=54, SSW=67.333 -> F = 54/(67.333/4) ~ 3.20792; equal-spread
    groups give F ~ 0."""
    from whiterrabbit_spark.profile import levene_test

    df = spark.createDataFrame(
        [(1.0, "a"), (2.0, "a"), (3.0, "a"),
         (10.0, "b"), (20.0, "b"), (30.0, "b")],
        "v double, g string",
    )
    r = levene_test(df, "v", "g").collect()[0]
    assert r["n"] == 6 and r["k"] == 2
    assert r["df_between"] == 1 and r["df_within"] == 4
    assert abs(r["f_stat"] - 54.0 / (67.0 + 1.0 / 3.0) * 4.0) < 1e-4

    same = spark.createDataFrame(
        [(float(i % 10), "a") for i in range(100)]
        + [(float(i % 10) + 100.0, "b") for i in range(100)],  # shifted, same spread
        "v double, g string",
    )
    r = levene_test(same, "v", "g").collect()[0]
    assert abs(r["f_stat"]) < 1e-9  # location shift is invisible to spread


def test_interarrival_profile_hand_case(spark):
    """One user, one type, events at 0/10/40s -> gaps {10, 30}:
    mean 20, median 20 (type-7 midpoint), lambda 0.05. A second type
    with a single event contributes no gap."""
    import pyspark.sql.functions as F

    from whiterrabbit_spark.profile import interarrival_profile

    rows = [
        (1, 7, "click", "2024-01-01 00:00:00"),
        (2, 7, "click", "2024-01-01 00:00:10"),
        (3, 7, "click", "2024-01-01 00:00:40"),
        (4, 7, "view", "2024-01-01 00:00:05"),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, ts string"
    ).withColumn("ts", F.to_timestamp("ts"))
    out = {r["event_type"]: r for r in interarrival_profile(
        df, "user_id", "event_type", "ts", "event_id").collect()}
    assert set(out) == {"click"}
    c = out["click"]
    assert c["n_gaps"] == 2 and abs(c["mean_s"] - 20.0) < 1e-9
    assert abs(c["median_s"] - 20.0) < 1e-9
    assert abs(c["lambda_hz"] - 0.05) < 1e-9


def test_bot_score_flags_monotone_fast_user(spark):
    """A user firing one event type at 1 Hz tops the rate ranking with
    zero entropy; a slow mixed-type user scores high entropy."""
    import math

    import pyspark.sql.functions as F

    from whiterrabbit_spark.profile import bot_score_report

    rows = [(1, "click",
             f"2024-01-01 00:{i // 60:02d}:{i % 60:02d}") for i in range(100)]
    for i in range(4):  # human: 4 events over a day, mixed types
        rows.append((2, ["view", "click", "purchase", "error"][i],
                     f"2024-01-01 {6 * i:02d}:30:00"))
    df = spark.createDataFrame(
        rows, "user_id long, event_type string, ts string"
    ).withColumn("ts", F.to_timestamp("ts"))
    out = bot_score_report(df, "user_id", "event_type", "ts", top_k=5).collect()
    assert out[0]["user_id"] == 1
    assert out[0]["events_per_hour"] > 3000
    assert out[0]["type_entropy"] == 0.0 and out[0]["n_types"] == 1
    human = [r for r in out if r["user_id"] == 2][0]
    assert abs(human["type_entropy"] - math.log(4)) < 1e-6


def test_simpson_detects_planted_paradox(spark):
    """Classic planted paradox: treatment helps inside BOTH segments
    but the treated arm concentrates in the hard segment, so the
    pooled gap flips negative — every segment must carry
    sign_flipped=True."""
    import pyspark.sql.functions as F

    from whiterrabbit_spark.profile import simpson_check

    rows = []
    # easy segment: control-heavy; treated 90/100 vs control 800/1000
    rows += [("easy", 1, 1)] * 90 + [("easy", 1, 0)] * 10
    rows += [("easy", 0, 1)] * 800 + [("easy", 0, 0)] * 200
    # hard segment: treated-heavy; treated 300/1000 vs control 10/100
    rows += [("hard", 1, 1)] * 300 + [("hard", 1, 0)] * 700
    rows += [("hard", 0, 1)] * 10 + [("hard", 0, 0)] * 90
    df = spark.createDataFrame(rows, "seg string, x int, y int")
    out = simpson_check(
        df, F.col("x") == 1, F.col("y") == 1, "seg"
    ).collect()
    by = {r["segment"]: r for r in out}
    assert by["easy"]["diff"] > 0 and by["hard"]["diff"] > 0
    assert by["easy"]["pooled_diff"] < 0  # the paradox
    assert all(r["sign_flipped"] for r in out)


def test_jsd_drift_by_group_isolates_the_moving_segment(spark):
    """Segment 'a' keeps its distribution; segment 'b' shifts wholesale:
    attribution must put ~ln 2 on b and ~0 on a, ranked b first."""
    import math

    from whiterrabbit_spark.profile import jsd_drift_by_group

    ref = spark.createDataFrame(
        [(float(i % 10), "a") for i in range(200)]
        + [(float(i % 10), "b") for i in range(200)],
        "v double, g string",
    )
    cur = spark.createDataFrame(
        [(float(i % 10), "a") for i in range(200)]
        + [(200.0 + i % 3, "b") for i in range(200)],  # b jumps out of range
        "v double, g string",
    )
    out = jsd_drift_by_group(ref, cur, "v", "g", bins=10).collect()
    assert out[0]["segment"] == "b"
    by = {r["segment"]: r for r in out}
    assert abs(by["a"]["jsd"]) < 1e-9
    # b's mass clamps into bin 9, which held 1/10 of its ref mass ->
    # large but sub-ln2 JSD; the ordering and near-zero 'a' are the point
    assert by["b"]["jsd"] > 0.4
    assert by["b"]["hellinger"] > 0.5
    assert abs(by["b"]["jsd"]) <= math.log(2) + 1e-9


def test_conformal_coverage_on_planted_noise(spark):
    """Grouped-mean signal + bounded noise: the conformal interval must
    achieve >= ~target coverage on the eval split (finite-sample
    wiggle allowed) and q_hat must sit within the noise bound."""
    import pyspark.sql.functions as F  # noqa: F401

    from whiterrabbit_spark.profile import conformal_intervals

    rows = []
    for i in range(4000):
        g = i % 5
        noise = ((i * 2654435761) % 1000) / 1000.0 - 0.5  # [-0.5, 0.5)
        rows.append((i, float(g), 100.0 * g + noise * 10.0))
    df = spark.createDataFrame(rows, "id long, x double, y double")
    out = conformal_intervals(df, "x", "y", "id", alpha=0.1).collect()[0]
    # max_single_reducer=0 forces the bucketed distributed prefix sum
    forced = conformal_intervals(
        df, "x", "y", "id", alpha=0.1, max_single_reducer=0
    ).collect()
    assert forced == [out]
    assert out.n_train > 1500 and out.n_cal > 700 and out.n_eval > 700
    assert out.n_unpredicted == 0
    assert out.coverage_pct >= 85.0  # guarantee is >=90 in expectation
    assert 0.0 < out.q_hat <= 5.5  # noise half-width is 5, + rounding


def test_qte_detects_tail_only_effect(spark):
    """Planted: arm differences only in the upper tail. The lower
    deciles' QTE ~ 0 while the top decile's is large — the signature a
    mean diff smears and QTE isolates. Arms are forced via a unit id
    pre-picked to the md5 coin."""
    import pyspark.sql.functions as F

    from whiterrabbit_spark.extensions.splits import hash_bucket_expr
    from whiterrabbit_spark.profile import quantile_treatment_effects

    # discover ids for each arm deterministically
    ids = spark.range(3000).select(
        F.col("id"), hash_bucket_expr(F.col("id"), ":cuped", 2).alias("arm")
    ).collect()
    a_ids = [r.id for r in ids if r.arm == 0][:500]
    b_ids = [r.id for r in ids if r.arm == 1][:500]
    rows = []
    for rank, u in enumerate(sorted(a_ids)):
        base = 100 + (rank % 100)
        boost = 500 if rank >= 450 else 0  # top ~10% of arm A only
        rows.append((u, float(base + boost)))
    for rank, u in enumerate(sorted(b_ids)):
        rows.append((u, float(100 + (rank % 100))))
    df = spark.createDataFrame(rows, "u long, v double")
    out = quantile_treatment_effects(
        df, "u", F.col("v"), F.lit(True)
    ).collect()
    by_q = {round(r.q, 1): r for r in out}
    for q in (0.1, 0.2, 0.3, 0.4, 0.5):
        assert abs(by_q[q]["qte"]) < 1e-9  # lower deciles untouched
    assert by_q[0.9]["qte"] > 30  # the planted top-decile effect
    assert by_q[0.9]["qte"] > 5 * max(abs(by_q[0.6]["qte"]), 1.0)


def test_mde_shrinks_with_more_data(spark):
    """MDE must scale ~1/sqrt(n): quadrupling units roughly halves the
    detectable effect."""
    import pyspark.sql.functions as F

    from whiterrabbit_spark.profile import mde_report

    def build(n):
        rows = [(i, float(100 + (i * 37) % 50)) for i in range(n)]
        return spark.createDataFrame(rows, "u long, v double")

    small = mde_report(build(1000), "u", F.col("v"), F.lit(True)).collect()[0]
    big = mde_report(build(4000), "u", F.col("v"), F.lit(True)).collect()[0]
    assert small.mde_abs > 0 and big.mde_abs > 0
    ratio = small.mde_abs / big.mde_abs
    assert 1.6 < ratio < 2.4  # ~2 expected


def test_eb_shrinkage_pulls_small_segments_in(spark):
    """A 2/2 segment must NOT outrank a 90/100 segment after
    shrinkage, and shrunk rates sit strictly between the raw rate and
    the prior mean for off-prior segments."""
    import pyspark.sql.functions as F

    rows = []
    rows += [("tiny", 1)] * 2                       # raw 1.0, n=2
    rows += [("big", 1)] * 90 + [("big", 0)] * 10   # raw 0.9, n=100
    for s in range(40):  # background segments around rate 0.5
        ones = 5 + (s % 3)
        rows += [(f"bg{s}", 1)] * ones + [(f"bg{s}", 0)] * (12 - ones)
    df = spark.createDataFrame(rows, "seg string, y int")
    from whiterrabbit_spark.profile import eb_shrunk_rates

    out = eb_shrunk_rates(df, F.col("y") == 1, "seg", top_k=50).collect()
    by = {r.segment: r for r in out}
    assert by["tiny"]["kappa"] > 0
    assert by["big"]["shrunk_rate"] > by["tiny"]["shrunk_rate"]
    assert by["tiny"]["shrunk_rate"] < by["tiny"]["raw_rate"]  # pulled down
    assert by["big"]["shrunk_rate"] < by["big"]["raw_rate"]
    assert by["big"]["shrunk_rate"] > 0.8  # barely moved (n=100)


def test_seasonality_strength_separates_signal_from_noise(spark):
    """A value that IS its hour profile scores ~1; adding dominant
    iid noise drives the strength toward 0."""
    import pyspark.sql.functions as F

    from whiterrabbit_spark.profile import seasonality_strength

    rows_pure, rows_noise = [], []
    for day in range(1, 15):
        for hr in range(24):
            for rep in range(3):
                ts = f"2024-01-{day:02d} {hr:02d}:{rep * 7 + 1:02d}:00"
                seasonal = 100.0 + 10.0 * hr
                noise = ((day * 24 * 3 + hr * 3 + rep) * 2654435761 % 1000) - 500.0
                rows_pure.append((ts, seasonal))
                rows_noise.append((ts, seasonal + noise))
    pure = spark.createDataFrame(rows_pure, "ts string, value double").withColumn(
        "ts", F.to_timestamp("ts")
    )
    noisy = spark.createDataFrame(rows_noise, "ts string, value double").withColumn(
        "ts", F.to_timestamp("ts")
    )
    sp = seasonality_strength(pure, "ts", "value").collect()[0]
    sn = seasonality_strength(noisy, "ts", "value").collect()[0]
    assert sp["strength"] > 0.99
    assert sn["strength"] < 0.35
    assert sp["n_cells"] <= 168


def test_approx_quantile_gate_duplicates_and_violation_detect(spark):
    """Heavy-duplicate column: the returned sketch element's rank is an
    INTERVAL — the gate must pass via interval intersection where a
    point check on max-rank would false-alarm. All flags 1 on clean
    data; exact median by hand."""
    from whiterrabbit_spark.profile import approx_quantile_gate

    rows = [(5.0,)] * 900 + [(1.0,)] * 50 + [(9.0,)] * 50
    df = spark.createDataFrame(rows, "x double")
    out = {r.q: r for r in approx_quantile_gate(df, "x", (0.5,), 100).collect()}
    assert out[0.5].within_bound == 1
    assert abs(out[0.5].exact_value - 5.0) < 1e-12
    assert out[0.5].n_rows == 1000


def test_grouped_weighted_median_hand_case(spark):
    """Group g: values 1(w=1), 2(w=1), 10(w=8) — half of 10 total is 5,
    first value reaching it is 10. Unweighted median would be 2."""
    from whiterrabbit_spark.profile import grouped_weighted_median

    rows = [("g", 1.0, 1.0), ("g", 2.0, 1.0), ("g", 10.0, 8.0),
            ("h", 5.0, 2.0), ("h", 7.0, 2.0)]
    df = spark.createDataFrame(rows, "g string, v double, w double")
    out = {r.g: r for r in grouped_weighted_median(df, "g", "v", "w").collect()}
    assert out["g"].weighted_median == 10.0 and out["g"].total_weight == 10.0
    # h: cum at 5 is exactly half (2 >= 2) -> lower median 5
    assert out["h"].weighted_median == 5.0


def test_theil_decomposition_identity_and_equal_case(spark):
    """Perfectly equal values give T = 0 everywhere; an unequal corpus
    satisfies T_total = T_between + Σ s_g·T_g to rounding."""
    from whiterrabbit_spark.profile import theil_decomposition

    eq = spark.createDataFrame(
        [("a", 5.0)] * 4 + [("b", 5.0)] * 6, "g string, x double"
    )
    rows = theil_decomposition(eq, "g", "x").collect()
    assert all(
        r.theil_total == 0.0 and r.theil_within == 0.0
        and r.theil_between == 0.0 for r in rows
    )

    uneq = spark.createDataFrame(
        [("a", 1.0), ("a", 9.0), ("b", 4.0), ("b", 4.0), ("b", 32.0)],
        "g string, x double",
    )
    r0 = theil_decomposition(uneq, "g", "x").collect()[0]
    assert abs(r0.theil_total - (r0.theil_between + r0.within_total)) < 2e-6
    assert r0.theil_total > 0


def test_hurst_random_vs_trending_series(spark):
    """Seeded iid arrivals give H near 0.5; a strongly trending
    (integrated) series gives H near 1 — the R/S slope must separate
    them. Uses synthetic per-hour frames fed through the same operator
    by pre-bucketed timestamps."""
    import random

    from pyspark.sql import functions as F

    from whiterrabbit_spark.profile import hurst_rescaled_range

    rng = random.Random(7)
    base = 1_700_000_000
    rows_iid = []
    for h in range(512):
        # k events in hour h, k iid in [1, 100]
        rows_iid += [(base + h * 3600 + j,) for j in range(rng.randint(1, 100))]
    df_iid = spark.createDataFrame(rows_iid, "sec long").select(
        F.timestamp_seconds("sec").alias("ts")
    )
    h_iid = hurst_rescaled_range(df_iid).collect()[0].hurst

    rows_tr = []
    for h in range(512):
        # monotone-trending count series: h + small jitter
        k = 1 + h + rng.randint(0, 3)
        rows_tr += [(base + h * 3600 + j,) for j in range(k)]
    df_tr = spark.createDataFrame(rows_tr, "sec long").select(
        F.timestamp_seconds("sec").alias("ts")
    )
    h_tr = hurst_rescaled_range(df_tr).collect()[0].hurst

    assert 0.3 < h_iid < 0.72, h_iid
    assert h_tr > 0.85, h_tr
    assert h_tr > h_iid + 0.2


def test_peak_detection_planted_spike(spark):
    """Flat series of 10/hour with one 40-event hour: exactly that hour
    is a peak, lift = 4; a plateau pair (two equal elevated hours) must
    NOT fire (strict maxima)."""
    from pyspark.sql import functions as F

    from whiterrabbit_spark.profile import peak_detection

    base = 1_700_000_000
    rows = []
    for h in range(60):
        k = 10
        if h == 30:
            k = 40
        if h in (45, 46):     # plateau: equal neighbors, suppressed
            k = 35
        rows += [(base + h * 3600 + j,) for j in range(k)]
    df = spark.createDataFrame(rows, "sec long").select(
        F.timestamp_seconds("sec").alias("ts")
    )
    out = peak_detection(df, baseline_window=12, lift=2.0).collect()
    assert len(out) == 1
    assert out[0].n_events == 40 and abs(out[0].lift_ratio - 4.0) < 1e-9


def test_skyline_2d_dominance_exact(spark):
    """Brute-force dominance check on a hand corpus: output must be
    exactly the non-dominated set (min x, max y; one strict)."""
    from whiterrabbit_spark.profile import skyline_2d

    pts = [(1.0, 3.0), (1.0, 5.0), (2.0, 5.0), (2.0, 7.0), (3.0, 6.0),
           (4.0, 7.0), (5.0, 9.0), (5.0, 2.0)]
    df = spark.createDataFrame(
        [("g", x, y) for x, y in pts], "g string, x double, y double"
    )
    got = {(r.x, r.y) for r in skyline_2d(df, "g", "x", "y").collect()}
    want = {
        (x, y) for x, y in pts
        if not any(
            (a <= x and b >= y and (a < x or b > y)) for a, b in pts
        )
    }
    assert got == want
    assert got == {(1.0, 5.0), (2.0, 7.0), (5.0, 9.0)}


def test_generalization_advisor_ladder_monotone(spark):
    """Coarser buckets can only merge classes: n_classes decreases and
    min_class_size increases monotonically up the ladder; the planted
    corpus meets k only at the coarsest numeric level."""
    from whiterrabbit_spark.extensions.discovery import (
        generalization_advisor,
    )

    rows = [(i % 3, float(i)) for i in range(300)]
    df = spark.createDataFrame(rows, "id long, x double")
    out = generalization_advisor(df, "id", "x", (1, 10, 100), k=5).collect()
    levels = {r.level: r for r in out}
    assert [levels[i].width for i in range(4)] == [1, 10, 100, -1]
    ncls = [levels[i].n_classes for i in range(4)]
    assert ncls == sorted(ncls, reverse=True)
    mns = [levels[i].min_class_size for i in range(4)]
    assert mns == sorted(mns)
    # width-1 buckets hold exactly 1 row each -> fails k=5
    assert levels[0].meets_k == 0 and levels[3].meets_k == 1


def test_var_es_hand_case(spark):
    """20 values 1..20: type-7 P95 = 1 + 0.95·19 = 19.05; the only
    value at or beyond it is 20, so ES = 20 and the tail has 1 row."""
    from whiterrabbit_spark.queries import _var_es
    import os
    import tempfile

    d = tempfile.mkdtemp()
    rows = [(i, float(i), "P") for i in range(1, 21)]
    df = spark.createDataFrame(
        rows, "o_orderkey long, o_totalprice double, o_orderpriority string"
    )
    df.write.mode("overwrite").parquet(os.path.join(d, "orders.parquet"))
    out = _var_es(spark, d).collect()[0]
    assert abs(out.var_95 - 19.05) < 1e-9     # 1 + 0.95*19 = 19.05
    assert abs(out.es_95 - 20.0) < 1e-9
    assert out.n_tail == 1 and out.n_orders == 20


def test_row_dups_and_extremes_queries(spark):
    """row_dups: a doubled row is 1 redundant row / 1 dup group;
    extremes: sentinel spike (-1 x 50) shows as bottom rank 1 with its
    multiplicity."""
    import os
    import tempfile

    from whiterrabbit_spark.queries import _extremes, _row_dups

    d = tempfile.mkdtemp()
    rows = [(1, 10, "O", 5.0, "1995-01-01", "1-URGENT")] * 2 + [
        (2, 11, "F", 7.0, "1995-01-02", "2-HIGH")
    ]
    spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate string, o_orderpriority string",
    ).write.mode("overwrite").parquet(os.path.join(d, "orders.parquet"))
    out = _row_dups(spark, d).collect()[0]
    assert out.n_rows == 3 and out.n_distinct_rows == 2
    assert out.n_redundant_rows == 1 and out.n_dup_groups == 1
    assert out.max_multiplicity == 2

    li = [(float(v), 1.0, 0.05, 0.02) for v in range(100)] + [
        (-1.0, 1.0, 0.05, 0.02)
    ] * 50
    spark.createDataFrame(
        li, "l_quantity double, l_extendedprice double, "
            "l_discount double, l_tax double"
    ).write.mode("overwrite").parquet(os.path.join(d, "lineitem.parquet"))
    ext = _extremes(spark, d).collect()
    q_bottom1 = [
        r for r in ext
        if r.column_name == "l_quantity" and r.side == "bottom"
        and r.rank == 1
    ][0]
    assert q_bottom1.value == -1.0 and q_bottom1.n == 50


def test_nzv_screen_hand_computed(spark):
    """caret nearZeroVar semantics on a hand-built frame: a degenerate
    column (199:1 top ratio, 2 distinct) flags; a balanced binary
    column does not (ratio 1); a near-unique id column does not
    (pct_unique ~1); a constant column reports NULL freq_ratio and
    flags via pct_unique alone; an all-NULL column yields (0, 0) and
    flags as degenerate."""
    from pyspark.sql import functions as F

    from whiterrabbit_spark.profile import nzv_screen

    n = 200
    df = spark.range(n).select(
        F.when(F.col("id") < n - 1, "a").otherwise("b").alias("degen"),
        F.when(F.col("id") % 2 == 0, "x").otherwise("y").alias("bal"),
        F.col("id").cast("string").alias("uid"),
        F.lit("c").alias("const"),
        F.lit(None).cast("string").alias("allnull"),
    )
    out = {
        r["column_name"]: r
        for r in nzv_screen(
            df, ["degen", "bal", "uid", "const", "allnull"]
        ).collect()
    }
    d = out["degen"]
    assert d["near_zero_var"] == 1
    assert d["top_value"] == "a" and d["top_count"] == n - 1
    assert abs(d["freq_ratio"] - (n - 1)) < 1e-9
    assert out["bal"]["near_zero_var"] == 0
    assert abs(out["bal"]["freq_ratio"] - 1.0) < 1e-9
    assert out["uid"]["near_zero_var"] == 0
    assert abs(out["uid"]["pct_unique"] - 1.0) < 1e-9
    c = out["const"]
    assert c["freq_ratio"] is None and c["near_zero_var"] == 1
    a = out["allnull"]
    assert a["n_rows"] == 0 and a["n_distinct"] == 0
    assert a["near_zero_var"] == 1
