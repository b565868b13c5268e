"""Type inference: string columns → double / timestamp, as Spark aggregations.

Re-expresses the reference's two parser gates (whiteRRabbit.R):

* T1 ``robust_parse_numeric`` (W:139-161): sample ≤1000 non-empty values,
  require ≥0.8 parse success, then parse the full column and REVERT if even
  one new NA appears on a non-empty value (strict full pass).

  The final outcome is provably equivalent to: **typed double iff the column
  has ≥1 non-empty value and zero non-empty values fail the cast** —
  if any non-empty value fails, either the 0.8 sample gate fails (→ string)
  or the strict full pass reverts (→ string); if none fail, the sample rate
  is 1.0 and the strict pass keeps the cast. We therefore evaluate the exact
  rule with one full-column aggregate, and use the sampled gate only as a
  scale optimization to skip hopeless columns early.

* T2 ``robust_parse_date`` (W:164-204): same sampled gate, then a
  full-column success-rate check — computed over ALL rows *including*
  original NA/empty (W:199) — so a column with >20 % missing can never be
  typed as date. Quirk preserved. lubridate's ``parse_date_time`` always
  returns POSIXct, so every inferred date column is a TIMESTAMP (the
  reference's Date branch at W:397 is unreachable).

* Order quirk (W:275-279): numeric is attempted first — a ``"20230101"``
  column types as double and never reaches the date parser.

Divergences (documented, SURVEY §1.3): the reference samples unseeded →
borderline columns type nondeterministically; we seed. R ``as.numeric``
accepts hex literals ("0x10"); Spark's double cast does not (pathological,
accepted gap).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from whiterrabbit_spark.cache import ThreadPool, cache_scope, pin
from whiterrabbit_spark.config import ScanConfig

# columns per inference-gate job: each column carries a
# len(DATE_PATTERNS)-branch coalesce, so ~16 columns keeps the generated
# aggregate inside codegen method limits (empirical knee on wide tables)
_GATE_COLS_PER_JOB = 16

# lubridate orders (whiteRRabbit.R:174-178), expanded to explicit Spark
# datetime patterns. lubridate orders are separator-agnostic; we enumerate
# '-', '/', '.' and (for Ymd) compact digit-only variants. Single-letter
# pattern fields accept 1-2 digit months/days/hours like lubridate.
# Order matters: first match wins, preserving the reference's preference
# (e.g. mdY before dmy ⇒ "03/04/2021" = March 4).
DATE_PATTERNS: tuple[str, ...] = (
    # Within a family, every pattern requires exact separators and full
    # consumption, so at most ONE can match any given string — intra-family
    # order is therefore free, and we put the (most common, cheapest)
    # date-only patterns first so typical values succeed on attempt 1-4
    # instead of after 7+ failed datetime parses (measured 2-3× on
    # date-heavy wide tables). CROSS-family precedence (Ymd → mdY → dmy)
    # is semantic (reference W:174-178: "03/04/2021" = March 4) and kept.
    # Ymd family: date-only, compact, T-separator, HMS, HM
    "y-M-d", "y/M/d", "y.M.d", "yyyyMMdd",
    "y-M-d'T'H:m:s", "y/M/d'T'H:m:s",
    "y-M-d H:m:s", "y/M/d H:m:s", "y.M.d H:m:s", "yyyyMMddHHmmss",
    "y-M-d H:m", "y/M/d H:m", "y.M.d H:m",
    # mdY family
    "M-d-y", "M/d/y",
    "M-d-y H:m:s", "M/d/y H:m:s",
    "M-d-y H:m", "M/d/y H:m",
    # dmy family
    "d-M-y", "d/M/y",
    "d-M-y H:m:s", "d/M/y H:m:s",
    "d-M-y H:m", "d/M/y H:m",
)


def nonempty(c: Column) -> Column:
    """Non-missing AND non-empty-string (reference W:143, W:168)."""
    return c.isNotNull() & (c != "")


_HEX_RE = r"^[+-]?0[xX]0*[0-9a-fA-F]{1,15}$"


def numeric_cast_expr(c: Column) -> Column:
    """NULL-on-failure double parse (R as.numeric analog, W:149/W:154).

    R ``as.numeric`` (strtod) additionally accepts hex integers
    (``"0x10"`` → 16) which ``CAST AS DOUBLE`` rejects — the SURVEY §1.3
    parity gap. A regexp-gated ``conv`` branch closes it: the ``when``
    short-circuits so plain values pay one rlike, and all expressions are
    codegen JVM built-ins. (C99 hex FLOATS like ``0x1.8p3`` already
    parse: Java's parseDouble accepts them — it was only p-exponent-less
    hex integers that failed.) Deliberately bounded at 15 hex digits
    (conv's exact range; R keeps parsing toward Inf) — pinned as the
    remaining divergence in tests/test_infer.py."""
    t = F.trim(c)
    mag = F.conv(F.regexp_extract(t, r"0[xX]0*([0-9a-fA-F]+)", 1), 16, 10)
    signed_hex = F.when(
        t.startswith("-"), -mag.try_cast("double")
    ).otherwise(mag.try_cast("double"))
    return F.when(t.rlike(_HEX_RE), signed_hex).otherwise(t.try_cast("double"))


def date_parse_expr(c: Column) -> Column:
    """First-match-wins timestamp parse across the lubridate order list.

    A cheap digit-prefix prefilter guards the 24-parse coalesce: every
    pattern starts with a 1-4 digit numeric field followed by a separator
    (-/.) or another digit (compact yyyyMMdd), so a trimmed value that
    fails ``^\\d{1,4}[-/.\\d]`` cannot match ANY pattern — the when()
    short-circuits and non-date-ish values (free text, words, signed
    numbers) skip all 24 DateTimeFormatter attempts. Measured 2× on
    gate scans over mixed wide tables; values that do look date-ish pay
    one extra rlike (~ns)."""
    trimmed = F.trim(c)
    parsed = F.coalesce(
        *[F.try_to_timestamp(trimmed, F.lit(p)) for p in DATE_PATTERNS]
    )
    return F.when(trimmed.rlike(r"^\d{1,4}[-/.\d]"), parsed)


@dataclass
class InferenceResult:
    """Decision per column: 'string' | 'double' | 'timestamp'."""

    decisions: dict[str, str]

    def typed_columns(self, kind: str) -> list[str]:
        return [c for c, k in self.decisions.items() if k == kind]


def _chunk(seq: list, size: int) -> list[list]:
    return [seq[i : i + size] for i in range(0, len(seq), size)]


def _posmelt(df: DataFrame, cols: list[str]) -> DataFrame:
    """Long-form ``(__pos, __val)`` view: ``posexplode(array(cols))``.

    Position-keyed rather than name-keyed (frequency's explode-struct
    idiom): the expression tree is one array of bare column refs instead
    of one struct per column, which halves Catalyst analysis+codegen time
    at 1000 columns (measured 12.2 s → 7.7 s for the numeric gate job).
    Callers map ``__pos`` back to ``cols[pos]`` driver-side after the
    aggregate. NULL values survive the explode (the array has no null
    elements removed), so per-position ``count(*)`` equals the row count."""
    return df.select(
        F.posexplode(F.array(*[F.col(c) for c in cols])).alias("__pos", "__val")
    )


def _sample_gate(df: DataFrame, cols: list[str], cfg: ScanConfig) -> dict[str, dict]:
    """Phase A: sampled success rates to shortlist candidate columns.

    Reference W:146-151 / W:170-189 samples ≤1000 non-empty values per
    column. We take one bounded head slice shared by all columns (one cheap
    job instead of k, no full scan just to size a random fraction) and
    compute per-column rates among its non-empty values. The gate is only a
    shortlist: Phase B re-evaluates the exact rule on the full column, so
    the head bias can only skip a column whose head is unrepresentative —
    analogous to the reference's own nondeterministic borderline gate
    (unseeded sample, W:148/W:173), but deterministic here.
    """
    # Oversample so mostly-empty columns still see enough non-empty values.
    # limit() collapses to ONE partition — repartition so the (expensive,
    # 24-pattern date) gate expressions evaluate with full parallelism
    # instead of on a single core.
    par = df.sparkSession.sparkContext.defaultParallelism
    sample_df = df.select(cols).limit(cfg.inference_sample_size * 4).repartition(par)

    # Round 1 (cheap): non-empty + numeric-cast rates for every column.
    # Round 2 (expensive, len(DATE_PATTERNS)-branch coalesce per column):
    # ONLY for columns the numeric gate did not capture — numeric-first
    # precedence (W:275-279) means a numeric winner never consults the
    # date parser, so skipping it is semantics-free and removes the date
    # expressions for numeric-heavy tables entirely. Both rounds chunk
    # small (a single agg over hundreds of coalesce trees exceeds codegen
    # method limits and evaluates interpreted) and run thread-parallel —
    # measured 3.5× on a 300-column table.
    def num_chunk(chunk: list[str]) -> dict[str, dict]:
        exprs = []
        for c in chunk:
            col = F.col(c)
            exprs.append(F.count(F.when(nonempty(col), 1)).alias(f"{c}__ne"))
            exprs.append(
                F.count(
                    F.when(nonempty(col) & numeric_cast_expr(col).isNotNull(), 1)
                ).alias(f"{c}__num_ok")
            )
        row = sample_df.select(chunk).agg(*exprs).collect()[0].asDict()
        return {
            c: {"ne": row[f"{c}__ne"], "num_ok": row[f"{c}__num_ok"], "date_ok": 0}
            for c in chunk
        }

    def date_chunk(chunk: list[str]) -> dict[str, int]:
        exprs = [
            F.count(
                F.when(nonempty(F.col(c)) & date_parse_expr(F.col(c)).isNotNull(), 1)
            ).alias(f"{c}__date_ok")
            for c in chunk
        ]
        row = sample_df.select(chunk).agg(*exprs).collect()[0].asDict()
        return {c: row[f"{c}__date_ok"] for c in chunk}

    out: dict[str, dict] = {}
    with cache_scope():
        sample_df = pin(sample_df)
        if len(cols) > cfg.wide_infer_cols:
            # Extreme-width path: two melt jobs with O(1)-in-width plans
            # replace ~cols/16 chunked agg jobs whose Catalyst
            # analysis+codegen dominates wall time (150 s → sub-minute at
            # 1000 cols, BASELINE.md wide-table smoke).
            v = F.col("__val")
            for r in (
                _posmelt(sample_df, cols)
                .groupBy("__pos")
                .agg(
                    F.count(F.when(nonempty(v), 1)).alias("ne"),
                    F.count(
                        F.when(nonempty(v) & numeric_cast_expr(v).isNotNull(), 1)
                    ).alias("num_ok"),
                )
                .collect()
            ):
                out[cols[r["__pos"]]] = {
                    "ne": r["ne"], "num_ok": r["num_ok"], "date_ok": 0
                }
            for c in cols:  # empty table melts to zero groups
                out.setdefault(c, {"ne": 0, "num_ok": 0, "date_ok": 0})
            thr = cfg.success_threshold
            date_cols = [
                c for c in cols
                if not (out[c]["ne"] > 0 and out[c]["num_ok"] / out[c]["ne"] >= thr)
            ]
            if date_cols:
                for r in (
                    _posmelt(sample_df, date_cols)
                    .groupBy("__pos")
                    .agg(
                        F.count(
                            F.when(
                                nonempty(v) & date_parse_expr(v).isNotNull(), 1
                            )
                        ).alias("date_ok")
                    )
                    .collect()
                ):
                    out[date_cols[r["__pos"]]]["date_ok"] = r["date_ok"]
            return out
        with ThreadPool(max_workers=8) as pool:
            for d in pool.map(num_chunk, _chunk(cols, _GATE_COLS_PER_JOB * 8)):
                out.update(d)
            thr = cfg.success_threshold
            date_cols = [
                c for c in cols
                if not (out[c]["ne"] > 0 and out[c]["num_ok"] / out[c]["ne"] >= thr)
            ]
            for d in pool.map(date_chunk, _chunk(date_cols, _GATE_COLS_PER_JOB)):
                for c, v in d.items():
                    out[c]["date_ok"] = v
    return out


def infer_types(df: DataFrame, cfg: ScanConfig | None = None) -> InferenceResult:
    """Decide 'double' / 'timestamp' / 'string' for every string column.

    Two-phase: a seeded sample gate shortlists candidates (scale
    optimization, reference's sample gate W:146-151/W:170-189), then ONE
    full-column aggregation job evaluates the exact rules:

    * double  iff non-empty values exist and none fail ``try_cast(double)``
      (equivalent to the reference's gate+strict-revert, see module doc)
    * else timestamp iff parse-success over ALL rows (missing counted as
      failures, quirk W:199) ≥ ``success_threshold``
    """
    cfg = cfg or ScanConfig()
    string_cols = [f.name for f in df.schema.fields if f.dataType.simpleString() == "string"]
    decisions: dict[str, str] = {c: "string" for c in string_cols}
    if not string_cols:
        return InferenceResult(decisions)

    gate = _sample_gate(df, string_cols, cfg)
    thr = cfg.success_threshold
    num_candidates = [
        c for c in string_cols
        if gate[c]["ne"] > 0 and gate[c]["num_ok"] / gate[c]["ne"] >= thr
    ]
    date_candidates = [
        c for c in string_cols
        if gate[c]["ne"] > 0 and gate[c]["date_ok"] / gate[c]["ne"] >= thr
    ]
    if not num_candidates and not date_candidates:
        return InferenceResult(decisions)

    # Phase B: full-column pass for all surviving candidates as ONE
    # melted job — the r8 50M×100-col CSV smoke caught the old chunked
    # form (≤16 date candidates per job for codegen limits, chunks
    # thread-parallel) issuing ceil(candidates/chunk) FULL file scans:
    # a row-oriented source re-reads every byte per job no matter how
    # few columns the job projects, so inference cost 3 extra 36 GB
    # passes and the "sample + one full pass" scan contract read 6.3×
    # the file. The melt (posexplode of only the candidate columns,
    # partial-aggregated on __pos map-side) is O(1)-in-width, scans the
    # file ONCE, and pays the 24-pattern date parse only on
    # date-candidate positions (codegen And short-circuits, so the
    # __pos guard skips the parse for numeric-only positions).
    full: dict[str, dict] = {}
    date_probe = sorted(date_candidates)
    num_only = sorted(set(num_candidates) - set(date_candidates))
    cand = date_probe + num_only
    n_date = len(date_probe)
    v = F.col("__val")
    pos = F.col("__pos")
    for r in (
        _posmelt(df, cand)
        .groupBy("__pos")
        .agg(
            F.count(F.lit(1)).alias("total"),
            F.count(F.when(nonempty(v), 1)).alias("ne"),
            F.count(
                F.when(nonempty(v) & numeric_cast_expr(v).isNull(), 1)
            ).alias("num_fail"),
            F.count(
                F.when(
                    (pos < n_date) & date_parse_expr(v).isNotNull(), 1
                )
            ).alias("date_ok"),
        )
        .collect()
    ):
        d = r.asDict()
        c = cand[d.pop("__pos")]
        # candidacy masks preserve the pre-r8 per-chunk shape exactly:
        # counts a column's candidacy never asked for stay None
        if c not in num_candidates:
            d["ne"] = None
            d["num_fail"] = None
        if c not in date_candidates:
            d["date_ok"] = None
        full[c] = d
    # an all-empty table melts to zero rows → no entry; keep the
    # {"total": 0} sentinel so the decision loop skips it
    for c in cand:
        full.setdefault(
            c, {"total": 0, "num_fail": None, "ne": None, "date_ok": None}
        )
    return _decide(string_cols, decisions, full, num_candidates, date_candidates, thr)


def _decide(
    string_cols: list[str],
    decisions: dict[str, str],
    full: dict[str, dict],
    num_candidates: list[str],
    date_candidates: list[str],
    thr: float,
) -> InferenceResult:
    for c in string_cols:
        f_ = full.get(c)
        if f_ is None or f_["total"] == 0:
            continue
        # numeric first (order quirk W:275-279)
        if (
            c in num_candidates
            and (f_["ne"] or 0) > 0
            and f_["num_fail"] == 0
        ):
            decisions[c] = "double"
            continue
        if c in date_candidates and (f_["date_ok"] or 0) / f_["total"] >= thr:
            decisions[c] = "timestamp"
    return InferenceResult(decisions)


def apply_types(df: DataFrame, result: InferenceResult) -> DataFrame:
    """Cast decided columns in one projection (single scan downstream).

    In a typed column, original "" values fold into NULL during the cast —
    matching the reference, where as.numeric("") → NA and EmptyCount becomes
    0 for typed columns (W:315-319).
    """
    cols = []
    for f in df.schema.fields:
        kind = result.decisions.get(f.name)
        if kind == "double":
            cols.append(numeric_cast_expr(F.col(f.name)).alias(f.name))
        elif kind == "timestamp":
            cols.append(date_parse_expr(F.col(f.name)).alias(f.name))
        else:
            cols.append(F.col(f.name))
    return df.select(*cols)


def infer_and_cast(df: DataFrame, cfg: ScanConfig | None = None) -> tuple[DataFrame, InferenceResult]:
    res = infer_types(df, cfg)
    return apply_types(df, res), res
