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

Execution shape: two passes of one counting aggregate
(``_column_counts``, a melt of the string columns grouped by position).
The first runs over the gate's head slice of
``_SLICE_FACTOR × inference_sample_size`` rows and gives every string
column its gate rates (numeric successes are the non-empty values minus
the cast failures); the second runs over the whole frame, for the
surviving candidates only, and counts the exact rules. When the caller
bounds the frame's rows (``row_hint``) at or below the slice, the slice
would be the whole frame, so the first pass already holds the full
counts and the second is skipped (one job over a one-partition frame,
as a scan's sample or small file arrives). The date count parses only
values that fail the double cast or are 8 or 14 digits: a value both
parses accept can only match a separator-free pattern (yyyyMMdd,
yyyyMMddHHmmss) at its exact width, so numeric columns skip the
24-pattern parse and the count stays exact; a numeric-gated column's
date count is never read (numeric-first precedence, W:275-279).

Divergences (documented, SURVEY §1.3): the reference samples unseeded →
borderline columns type nondeterministically; we seed. R ``as.numeric``
accepts hex literals ("0x10"); Spark's double cast does not (pathological,
accepted gap).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from whiterrabbit_spark.config import ScanConfig

# the gate's head slice is this many times ``inference_sample_size`` rows:
# oversampled so mostly-empty columns still see enough non-empty values
_SLICE_FACTOR = 4

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
# the only shapes of a value that both the double cast and the date parse
# accept: the separator-free patterns' exact widths (yyyyMMdd and
# yyyyMMddHHmmss; the year of a strict parse is 4 digits unless signed,
# and ``date_parse_expr`` wants a leading digit)
_COMPACT_RE = r"^(\d{8}|\d{14})$"


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


def infer_types(
    df: DataFrame, cfg: ScanConfig | None = None, row_hint: int | None = None
) -> InferenceResult:
    """Decide 'double' / 'timestamp' / 'string' for every string column.

    The exact rules (see the module doc):

    * double  iff non-empty values exist and none fail ``try_cast(double)``
      (equivalent to the reference's gate+strict-revert, see module doc)
    * else timestamp iff parse-success over ALL rows (missing counted as
      failures, quirk W:199) ≥ ``success_threshold``

    Each is tried only on a column whose gate rate (its share of
    non-empty values that parse, W:146-151/W:170-189) reaches the
    threshold, and the date rule only on a column the numeric gate did
    not pass (W:275-279). The gate reads one head slice of
    ``_SLICE_FACTOR × inference_sample_size`` rows shared by all columns,
    where the reference samples ≤1000 non-empty values per column
    (unseeded, W:148/W:173): deterministic here, and only a shortlist,
    since the full pass re-checks the exact rule. Both are one
    ``_column_counts`` aggregate: over the slice for every string column,
    then over ``df`` for the candidates. ``row_hint`` is an upper bound on
    ``df``'s rows, when the caller has one; at or below the slice the
    slice is ``df`` itself, so the first aggregate's counts are the full
    counts and the second is skipped.
    """
    cfg = cfg or ScanConfig()
    string_cols = [f.name for f in df.schema.fields if f.dataType.simpleString() == "string"]
    decisions: dict[str, str] = {c: "string" for c in string_cols}
    if not string_cols:
        return InferenceResult(decisions)

    slice_rows = _SLICE_FACTOR * cfg.inference_sample_size
    if row_hint is not None and row_hint <= slice_rows:
        head = df
    else:
        # limit() collapses to ONE partition: repartition so the 24-pattern
        # date parse runs on every core instead of one
        par = df.sparkSession.sparkContext.defaultParallelism
        head = df.select(string_cols).limit(slice_rows).repartition(par)
    gate = _column_counts(head, string_cols, n_date=len(string_cols))
    thr = cfg.success_threshold

    num_candidates: list[str] = []
    date_candidates: list[str] = []
    for c, g in gate.items():
        if g["ne"] > 0 and (g["ne"] - g["num_fail"]) / g["ne"] >= thr:
            num_candidates.append(c)
        # numeric-first precedence: a numeric-gated column's date count is unread
        elif g["ne"] > 0 and g["date_ok"] / g["ne"] >= thr:
            date_candidates.append(c)
    full = gate
    if head is not df:
        if not num_candidates and not date_candidates:
            return InferenceResult(decisions)
        date_probe = sorted(date_candidates)
        full = _column_counts(
            df, date_probe + sorted(num_candidates), n_date=len(date_probe)
        )
    return _decide(decisions, full, num_candidates, date_candidates, thr)


def _column_counts(
    df: DataFrame, cols: list[str], n_date: int
) -> dict[str, dict]:
    """The rules' counts per column, as ONE melted aggregate: ``total`` rows,
    ``ne`` non-empty values, ``num_fail`` non-empty values the double cast
    rejects and ``date_ok`` values the date parse accepts — the last for
    the first ``n_date`` of ``cols`` only (0 for the rest), parsing only
    the values the cast rejects or that have ``_COMPACT_RE``'s shape
    (exact, see the module doc: on a one-partition 4000-row frame of 40
    integer columns, probing every value took 13 s, this 0.6 s).

    The r8 50M×100-col CSV smoke caught the old chunked form (≤16 date
    columns per job for codegen limits, chunks thread-parallel) issuing
    ceil(columns/chunk) FULL file scans: a row-oriented source re-reads
    every byte per job no matter how few columns the job projects. The
    melt (posexplode of only ``cols``, partial-aggregated on __pos
    map-side) is O(1)-in-width, scans the file ONCE, and pays the
    24-pattern date parse only on the probed positions (codegen And
    short-circuits, so the __pos guard skips the parse for the rest).
    A zero-row frame melts to no groups: its columns read all zero.
    """
    v = F.col("__val")
    pos = F.col("__pos")
    out = {c: {"total": 0, "ne": 0, "num_fail": 0, "date_ok": 0} for c in cols}
    for r in (
        _posmelt(df, cols)
        .groupBy("__pos")
        .agg(
            F.count(F.lit(1)).alias("total"),
            F.count(F.when(nonempty(v), 1)).alias("ne"),
            F.count(
                F.when(nonempty(v) & numeric_cast_expr(v).isNull(), 1)
            ).alias("num_fail"),
            F.count(
                F.when(
                    (pos < n_date)
                    & (numeric_cast_expr(v).isNull() | F.trim(v).rlike(_COMPACT_RE))
                    & date_parse_expr(v).isNotNull(),
                    1,
                )
            ).alias("date_ok"),
        )
        .collect()
    ):
        d = r.asDict()
        out[cols[d.pop("__pos")]] = d
    return out


def _decide(
    decisions: dict[str, str],
    full: dict[str, dict],
    num_candidates: list[str],
    date_candidates: list[str],
    thr: float,
) -> InferenceResult:
    for c, f_ in full.items():
        if f_["total"] == 0:
            continue
        # numeric first (order quirk W:275-279)
        if c in num_candidates and f_["ne"] > 0 and f_["num_fail"] == 0:
            decisions[c] = "double"
        elif c in date_candidates and f_["date_ok"] / f_["total"] >= thr:
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


def infer_and_cast(
    df: DataFrame, cfg: ScanConfig | None = None, row_hint: int | None = None
) -> tuple[DataFrame, InferenceResult]:
    res = infer_types(df, cfg, row_hint=row_hint)
    return apply_types(df, res), res
