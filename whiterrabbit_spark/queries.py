"""Query registry: every implemented operator as (Spark callable, DuckDB
oracle SQL) pairs for the driver contract (__spark_entry__.py).

Column names and rounding are kept identical on both sides — the driver's
compare sorts columns by name and value-hashes, so every computed column is
aliased the same in the Spark plan and the SQL text. Double-valued stats are
rounded to 6 dp on both sides to absorb engine-order float noise.

Reference-surface queries cite whiteRRabbit.R; extension queries implement
SURVEY §7 / BASELINE.json north-star operators.
"""

from __future__ import annotations

import functools

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from whiterrabbit_spark.cache import pin
from whiterrabbit_spark.config import ScanConfig
from whiterrabbit_spark.extensions import dedup as X
from whiterrabbit_spark.extensions import similarity as sim
from whiterrabbit_spark.extensions import textstats as ts
from whiterrabbit_spark.frequency import value_frequencies
from whiterrabbit_spark.infer import infer_types
from whiterrabbit_spark.io import read_parquet_table
from whiterrabbit_spark.profile import profile_table

CFG = ScanConfig(max_rows=-1)
R = 6  # rounding digits for double stats

# Testdata schemas (TESTDATA.md / FIXTURES.md §A) — used to enumerate
# per-column oracle SQL and the overview field counts.
TABLE_COLUMNS: dict[str, list[str]] = {
    "region": ["r_regionkey", "r_name"],
    "nation": ["n_nationkey", "n_name", "n_regionkey"],
    "customer": ["c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"],
    "supplier": ["s_suppkey", "s_name", "s_nationkey", "s_acctbal"],
    "part": ["p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice"],
    "orders": ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate", "o_orderpriority"],
    "lineitem": [
        "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
        "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus", "l_shipdate",
    ],
    "events": ["event_id", "ts", "user_id", "event_type", "value", "props"],
    "documents": ["doc_id", "text", "lang", "source", "n_chars"],
    "embeddings": ["vec_id", "embedding", "label"],
}

NUMERIC_COLS: dict[str, list[str]] = {
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
                 "l_quantity", "l_extendedprice", "l_discount", "l_tax"],
    "orders": ["o_orderkey", "o_custkey", "o_totalprice"],
    "part": ["p_partkey", "p_size", "p_retailprice"],
    "supplier": ["s_suppkey", "s_nationkey", "s_acctbal"],
    "events": ["event_id", "user_id", "value"],
    "customer": ["c_custkey", "c_nationkey", "c_acctbal"],
    "nation": ["n_nationkey", "n_regionkey"],
    "documents": ["doc_id", "n_chars"],
}

STRING_COLS: dict[str, list[str]] = {
    "customer": ["c_name", "c_mktsegment"],
    "documents": ["text", "lang", "source"],
    "orders": ["o_orderstatus", "o_orderpriority"],
    "part": ["p_name", "p_brand", "p_type"],
    "events": ["event_type", "props"],
    "region": ["r_name"],
}

DATE_COLS: dict[str, str] = {
    "lineitem": "l_shipdate",
    "orders": "o_orderdate",
    "events": "ts",
}

FREQ_TARGETS: list[tuple[str, str]] = [
    ("customer", "c_mktsegment"),
    ("orders", "o_orderpriority"),
    ("orders", "o_orderstatus"),
    ("lineitem", "l_returnflag"),
    ("lineitem", "l_linestatus"),
    ("events", "event_type"),
    ("part", "p_brand"),
    ("part", "p_type"),
    ("documents", "lang"),
    # tiny-table edge: every count < min_cell_count=5 ⇒ empty frequency
    # table on both engines (FIXTURES.md §A nation/region note)
    ("region", "r_name"),
]


# --------------------------------------------------------------------------
# Reference-surface queries (SURVEY §2)
# --------------------------------------------------------------------------

def _summary_stats(table: str) -> Callable:
    cols = NUMERIC_COLS[table]

    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        df = read_parquet_table(spark, sf_dir, table).select(*cols)
        summary, _ = profile_table(df, CFG, table_name=table)
        return summary.select(
            "column_name",
            "total_count", "non_missing_count", "missing_count", "distinct_count",
            F.round("min_val", R).alias("min_val"),
            F.round("max_val", R).alias("max_val"),
            F.round("mean_val", R).alias("mean_val"),
            F.round("sd_val", R).alias("sd_val"),
            F.round("median_val", R).alias("median_val"),
            F.round("q1_val", R).alias("q1_val"),
            F.round("q3_val", R).alias("q3_val"),
            F.round("iqr_val", R).alias("iqr_val"),
        )

    return run


def _summary_stats_sql(table: str) -> str:
    parts = []
    for c in NUMERIC_COLS[table]:
        parts.append(f"""
SELECT '{c}' AS column_name,
       count(*) AS total_count,
       count({c}) AS non_missing_count,
       count(*) - count({c}) AS missing_count,
       count(DISTINCT {c}) AS distinct_count,
       (round(min({c})::DOUBLE, {R}) + 0.0) AS min_val,
       (round(max({c})::DOUBLE, {R}) + 0.0) AS max_val,
       (round(avg({c}::DOUBLE), {R}) + 0.0) AS mean_val,
       (round(stddev_samp({c}::DOUBLE), {R}) + 0.0) AS sd_val,
       (round(quantile_cont({c}::DOUBLE, 0.5), {R}) + 0.0) AS median_val,
       (round(quantile_cont({c}::DOUBLE, 0.25), {R}) + 0.0) AS q1_val,
       (round(quantile_cont({c}::DOUBLE, 0.75), {R}) + 0.0) AS q3_val,
       (round(quantile_cont({c}::DOUBLE, 0.75) - quantile_cont({c}::DOUBLE, 0.25), {R}) + 0.0) AS iqr_val
FROM {table}""")
    return "\nUNION ALL\n".join(parts)


def _counts(table: str) -> Callable:
    cols = STRING_COLS[table]

    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        df = read_parquet_table(spark, sf_dir, table).select(*cols)
        summary, _ = profile_table(df, CFG, table_name=table)
        return summary.select(
            "column_name", "total_count", "non_missing_count",
            "missing_count", "empty_count", "distinct_count",
        )

    return run


def _counts_sql(table: str) -> str:
    parts = []
    for c in STRING_COLS[table]:
        parts.append(f"""
SELECT '{c}' AS column_name,
       count(*) AS total_count,
       count(CASE WHEN {c} IS NOT NULL AND {c} <> '' THEN 1 END) AS non_missing_count,
       count(*) - count({c}) AS missing_count,
       count(CASE WHEN {c} = '' THEN 1 END) AS empty_count,
       count(DISTINCT CASE WHEN {c} <> '' THEN {c} END) AS distinct_count
FROM {table}""")
    return "\nUNION ALL\n".join(parts)


def _freq(table: str, column: str) -> Callable:
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        df = read_parquet_table(spark, sf_dir, table).select(column)
        out = value_frequencies(df, cfg=CFG)
        return out.select(
            "column_name", "value", "count",
            F.round("percentage", R).alias("percentage"),
        )

    return run


def _freq_sql(table: str, column: str) -> str:
    return f"""
WITH f AS (
  SELECT {column}::VARCHAR AS value, count(*) AS cnt
  FROM {table}
  WHERE {column} IS NOT NULL AND {column}::VARCHAR <> ''
  GROUP BY 1
  HAVING count(*) >= {CFG.min_cell_count}
), t AS (
  SELECT value, cnt,
         row_number() OVER (ORDER BY cnt DESC, value ASC) AS rn
  FROM f
), kept AS (
  SELECT value, cnt FROM t WHERE rn <= {CFG.max_distinct_values}
)
SELECT '{column}' AS column_name, value, cnt AS count,
       (round(cnt / sum(cnt) OVER (), {R}) + 0.0) AS percentage
FROM kept"""


def _date_stats(table: str) -> Callable:
    column = DATE_COLS[table]

    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        df = read_parquet_table(spark, sf_dir, table)
        tsc = F.col(column).cast("timestamp")
        return df.agg(
            F.count(tsc).alias("n_dates"),
            F.date_format(F.min(tsc), "yyyy-MM-dd HH:mm:ss").alias("earliest_val"),
            F.date_format(F.max(tsc), "yyyy-MM-dd HH:mm:ss").alias("latest_val"),
            F.round(F.percentile(tsc.cast("double"), F.lit(0.5)), R).alias("median_epoch"),
        ).select(F.lit(column).alias("column_name"), "*")

    return run


def _date_stats_sql(table: str) -> str:
    c = DATE_COLS[table]
    return f"""
SELECT '{c}' AS column_name,
       count({c}) AS n_dates,
       strftime(min({c}), '%Y-%m-%d %H:%M:%S') AS earliest_val,
       strftime(max({c}), '%Y-%m-%d %H:%M:%S') AS latest_val,
       (round(quantile_cont(epoch({c}), 0.5), {R}) + 0.0) AS median_epoch
FROM {table}"""


def _overview(spark: SparkSession, sf_dir: str) -> DataFrame:
    rows = []
    for t in sorted(TABLE_COLUMNS):
        df = read_parquet_table(spark, sf_dir, t)
        rows.append((t, df.count(), len(df.columns)))
    return spark.createDataFrame(
        rows, "table_name string, n_rows long, n_fields long"
    )


def _overview_sql() -> str:
    parts = [
        f"SELECT '{t}' AS table_name, count(*) AS n_rows, "
        f"{len(cols)}::BIGINT AS n_fields FROM {t}"
        for t, cols in sorted(TABLE_COLUMNS.items())
    ]
    return "\nUNION ALL\n".join(parts)


def _infer(table: str) -> Callable:
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        df = read_parquet_table(spark, sf_dir, table)
        stringified = df.select(
            *[F.col(c).cast("string").alias(c) for c in df.columns]
        )
        res = infer_types(stringified, CFG)
        return spark.createDataFrame(
            sorted(res.decisions.items()),
            "column_name string, inferred_type string",
        )

    return run


# Oracle date chain: the stringified testdata only ever produces
# 'yyyy-MM-dd HH:mm:ss' timestamps, so two formats decide identically to
# the full Spark pattern list on these values.
_ORACLE_DATE = "coalesce(try_strptime({v}, '%Y-%m-%d %H:%M:%S'), try_strptime({v}, '%Y-%m-%d'))"


def _infer_sql(table: str) -> str:
    parts = []
    for c in TABLE_COLUMNS[table]:
        v = f"{c}::VARCHAR"
        date_ok = _ORACLE_DATE.format(v=v)
        parts.append(f"""
SELECT '{c}' AS column_name,
  CASE
    WHEN count(CASE WHEN {v} IS NOT NULL AND {v} <> '' THEN 1 END) > 0
         AND count(CASE WHEN {v} IS NOT NULL AND {v} <> ''
                         AND try_cast(trim({v}) AS DOUBLE) IS NULL
                         AND NOT regexp_matches(trim({v}), '^[+-]?0[xX]0*[0-9a-fA-F]{{1,15}}$')
                    THEN 1 END) = 0
      THEN 'double'
    WHEN count(*) > 0
         AND count(CASE WHEN {date_ok} IS NOT NULL THEN 1 END)::DOUBLE / count(*) >= {CFG.success_threshold}
      THEN 'timestamp'
    ELSE 'string'
  END AS inferred_type
FROM {table}""")
    return "\nUNION ALL\n".join(parts)


# --------------------------------------------------------------------------
# Extension queries (SURVEY §7 / BASELINE.json north star)
# --------------------------------------------------------------------------

def _dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = read_parquet_table(spark, sf_dir, "documents")
    return X.exact_duplicates(df, "text", "doc_id")


_DEDUP_EXACT_SQL = """
SELECT md5(text) AS content_hash,
       min(doc_id) AS representative_id,
       count(*) AS dup_count
FROM documents
GROUP BY md5(text)"""


def _dedup_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = read_parquet_table(spark, sf_dir, "documents")
    out = X.ngram_jaccard_pairs(df, "text", "doc_id", k=3, threshold=0.5)
    return out.select("id1", "id2", F.round("jaccard", R).alias("jaccard"))


_NGRAM_SQL = """
WITH toks AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS w FROM documents
), sh AS (
  SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS shingle
  FROM toks, unnest(generate_series(1, greatest(len(w)-2, 1))) AS t(i)
), sizes AS (
  SELECT doc_id, count(*) AS n FROM sh GROUP BY 1
), rare AS (
  SELECT shingle FROM sh GROUP BY 1 HAVING count(*) <= 100
), cands AS (
  SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
  FROM sh a
  JOIN rare r ON a.shingle = r.shingle
  JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
), pairs AS (
  SELECT c.id1, c.id2, count(*) AS inter
  FROM cands c
  JOIN sh a ON a.doc_id = c.id1
  JOIN sh b ON b.doc_id = c.id2 AND b.shingle = a.shingle
  GROUP BY 1, 2
)
SELECT id1, id2,
       (round(inter * 1.0 / (s1.n + s2.n - inter), 6) + 0.0) AS jaccard
FROM pairs
JOIN sizes s1 ON id1 = s1.doc_id
JOIN sizes s2 ON id2 = s2.doc_id
WHERE inter * 1.0 / (s1.n + s2.n - inter) >= 0.5"""


def _containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric near-containment pairs (dedup.containment_pairs):
    the excerpt/truncation detector — C = inter/min sizes over the same
    inverted shingle index as the Jaccard pass. Threshold 0.6 surfaces
    partial-overlap pairs this corpus actually contains."""
    docs = read_parquet_table(spark, sf_dir, "documents")
    out = X.containment_pairs(docs, "text", "doc_id", k=3, threshold=0.6)
    return out.select(
        "id_small", "id_big", F.round("containment", R).alias("containment")
    )


_CONTAINMENT_SQL = """
WITH toks AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS w FROM documents
), sh AS (
  SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS shingle
  FROM toks, unnest(generate_series(1, greatest(len(w)-2, 1))) AS t(i)
), sizes AS (
  SELECT doc_id, count(*) AS n FROM sh GROUP BY 1
), rare AS (
  SELECT shingle FROM sh GROUP BY 1 HAVING count(*) <= 100
), cands AS (
  SELECT DISTINCT a.doc_id AS ida, b.doc_id AS idb
  FROM sh a
  JOIN rare r ON a.shingle = r.shingle
  JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
), pairs AS (
  SELECT c.ida, c.idb, count(*) AS inter
  FROM cands c
  JOIN sh a ON a.doc_id = c.ida
  JOIN sh b ON b.doc_id = c.idb AND b.shingle = a.shingle
  GROUP BY 1, 2
), scored AS (
  SELECT ida, idb, s1.n AS na, s2.n AS nb,
         inter * 1.0 / least(s1.n, s2.n) AS containment
  FROM pairs
  JOIN sizes s1 ON ida = s1.doc_id
  JOIN sizes s2 ON idb = s2.doc_id
  WHERE inter * 1.0 / least(s1.n, s2.n) >= 0.6
)
SELECT CASE WHEN na <= nb THEN ida ELSE idb END AS id_small,
       CASE WHEN na <= nb THEN idb ELSE ida END AS id_big,
       (round(containment, 6) + 0.0) AS containment
FROM scored"""


def _dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    # max_bucket_size: SCALE_r7's 20k-member hot cluster made the
    # unguarded band self-join emit C(20k,2)x16 pair rows (spill OOM);
    # the cap is inert at every oracle SF (no band bucket nears 2000)
    # and such clusters belong to the linear fingerprint pass anyway.
    df = read_parquet_table(spark, sf_dir, "documents")
    out = X.minhash_dedup_pairs(df, "text", "doc_id", k=3, num_hashes=32,
                                rows_per_band=2, threshold=0.5, seed=CFG.seed,
                                max_bucket_size=2_000)
    return out.select("id1", "id2", F.round("jaccard", R).alias("jaccard"))


def _minhash_sql() -> str:
    params = X._minhash_params(32, CFG.seed)
    p = X.MERSENNE_P
    mins = ",\n    ".join(
        f"min(({a} * h + {b}) % {p}) AS m{i}" for i, (a, b) in enumerate(params)
    )
    band_union = "\nUNION ALL\n".join(
        f"SELECT doc_id, {j} AS band, concat_ws(',', m{2 * j}, m{2 * j + 1}) AS key FROM sigs"
        for j in range(16)
    )
    return f"""
WITH toks AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS w FROM documents
), sh AS (
  SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS shingle
  FROM toks, unnest(generate_series(1, greatest(len(w)-2, 1))) AS t(i)
), hashed AS (
  SELECT doc_id, ('0x' || substr(md5(shingle), 1, 15))::BIGINT % {p} AS h FROM sh
), sigs AS (
  SELECT doc_id, {mins} FROM hashed GROUP BY doc_id
), bands AS (
{band_union}
), cands AS (
  SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
), sizes AS (
  SELECT doc_id, count(*) AS n FROM sh GROUP BY 1
), inter AS (
  SELECT c.id1, c.id2, count(*) AS inter
  FROM cands c
  JOIN sh a ON a.doc_id = c.id1
  JOIN sh b ON b.doc_id = c.id2 AND b.shingle = a.shingle
  GROUP BY 1, 2
)
SELECT i.id1, i.id2,
       (round(i.inter * 1.0 / (s1.n + s2.n - i.inter), 6) + 0.0) AS jaccard
FROM inter i
JOIN sizes s1 ON i.id1 = s1.doc_id
JOIN sizes s2 ON i.id2 = s2.doc_id
WHERE i.inter * 1.0 / (s1.n + s2.n - i.inter) >= 0.5"""


def _dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    # max_bucket_size: same hot-cluster guard as _dedup_minhash —
    # SCALE_r7 measured skew_ratio 4.71 on a 20k near-identical cluster
    # whose shared band keys emitted C(n,2)x4 candidates. Inert at
    # every oracle SF (no band bucket of DISTINCT signatures nears
    # 2000), so the strict-hash contract is unchanged.
    df = read_parquet_table(spark, sf_dir, "documents")
    return X.simhash_near_pairs(df, "text", "doc_id", max_hamming=3,
                                max_bucket_size=2_000)


def _simhash_sql() -> str:
    votes = ",\n    ".join(
        f"CASE WHEN sum(CASE WHEN (h >> {t}) & 1 = 1 THEN 1 ELSE -1 END) >= 0 "
        f"THEN {2 ** t}::BIGINT ELSE 0 END AS b{t}"
        for t in range(X.SIMHASH_BITS)
    )
    total = " + ".join(f"b{t}" for t in range(X.SIMHASH_BITS))
    return f"""
WITH tok AS (
  SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS token
  FROM documents
), hashed AS (
  SELECT doc_id, ('0x' || substr(md5(token), 1, 15))::BIGINT AS h FROM tok
), agg AS (
  SELECT doc_id, {votes}
  FROM hashed GROUP BY doc_id
), sigs AS (
  SELECT doc_id, ({total}) AS simhash FROM agg
)
SELECT a.doc_id AS id1, b.doc_id AS id2,
       bit_count(xor(a.simhash, b.simhash))::BIGINT AS hamming
FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 3"""


def _ann_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact brute-force top-k via the blocked-GEMM scan (map-only over
    the corpus; the fold-expression form cosine_topk is the
    parity-reference, tested equal)."""
    df = read_parquet_table(spark, sf_dir, "embeddings")
    q = df.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = sim.cosine_topk_blocked(df, q, k=5)
    return out.select(
        "query_id", "neighbor_id", F.round("cosine", R).alias("cosine"), "rank"
    )


_ANN_SQL = """
WITH q AS (
  SELECT vec_id AS query_id, list_transform(embedding, x -> x::DOUBLE) AS qv
  FROM embeddings WHERE vec_id < 10
), c AS (
  SELECT vec_id AS neighbor_id, list_transform(embedding, x -> x::DOUBLE) AS cv
  FROM embeddings
), s AS (
  SELECT query_id, neighbor_id,
         list_dot_product(qv, cv) /
         (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) AS cosine
  FROM c, q WHERE neighbor_id <> query_id
), r AS (
  SELECT query_id, neighbor_id, cosine,
         row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS "rank"
  FROM s
)
SELECT query_id, neighbor_id, (round(cosine, 6) + 0.0) AS cosine, "rank"
FROM r WHERE "rank" <= 5"""


def _text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = read_parquet_table(spark, sf_dir, "documents")
    out = ts.text_stats(df, "text", "doc_id")
    return out.select(
        "doc_id", "n_chars", "n_tokens", "n_punct", "n_stopwords",
        F.round("punct_ratio", R).alias("punct_ratio"),
        F.round("stopword_ratio", R).alias("stopword_ratio"),
        F.round("mean_token_len", R).alias("mean_token_len"),
    )


def _text_stats_sql() -> str:
    stop = ", ".join(f"'{w}'" for w in ts.STOPWORDS)
    return f"""
WITH base AS (
  SELECT doc_id, text,
         string_split_regex(lower(trim(text)), '\\s+') AS toks,
         length(text) AS n_chars,
         CASE WHEN trim(text) = '' THEN 0
              ELSE len(string_split_regex(lower(trim(text)), '\\s+')) END AS n_tokens,
         len(string_split_regex(text, '{ts.PUNCT_CLASS}')) - 1 AS n_punct
  FROM documents
), w AS (
  SELECT doc_id, n_chars, n_tokens, n_punct,
         len(list_filter(toks, t -> t IN ({stop}))) AS n_stopwords
  FROM base
)
SELECT doc_id, n_chars, n_tokens, n_punct, n_stopwords,
       (round(n_punct / greatest(n_chars, 1), 6) + 0.0) AS punct_ratio,
       (round(n_stopwords / greatest(n_tokens, 1), 6) + 0.0) AS stopword_ratio,
       (round((n_chars - (n_tokens - 1)) / greatest(n_tokens, 1), 6) + 0.0) AS mean_token_len
FROM w"""


def _lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = read_parquet_table(spark, sf_dir, "documents")
    return ts.lang_id(df, "text", "doc_id")


def _lang_id_sql() -> str:
    score_cols = []
    for lang, words in sorted(ts.LANG_MARKERS.items()):
        lst = ", ".join(f"'{w}'" for w in words)
        score_cols.append(f"len(list_filter(toks, t -> t IN ({lst}))) AS s_{lang}")
    langs = sorted(ts.LANG_MARKERS)
    g = "greatest(" + ", ".join(f"s_{la}" for la in langs) + ")"
    whens = "\n         ".join(
        f"WHEN s_{la} = {g} THEN '{la}'" for la in langs
    )
    return f"""
WITH toks AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks FROM documents
), scored AS (
  SELECT doc_id, {", ".join(score_cols)} FROM toks
)
SELECT doc_id,
       CASE WHEN {g} <= 0 THEN 'und'
         {whens}
       END AS detected_lang,
       greatest({g}, 0) AS marker_hits
FROM scored"""


def _fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = read_parquet_table(spark, sf_dir, "documents")
    return ts.fingerprint(df, "text", "doc_id")


_FINGERPRINT_SQL = """
SELECT doc_id,
       md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fingerprint
FROM documents"""


def _events_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = read_parquet_table(spark, sf_dir, "events")
    tsc = F.col("ts").cast("timestamp")
    return (
        df.groupBy(
            F.window(tsc, "1 hour").alias("w"),
            F.col("event_type"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), R).alias("sum_value"),
            F.count_distinct("user_id").alias("n_users"),
        )
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type", "n_events", "sum_value", "n_users",
        )
    )


def _multimodal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing E2E: text → binary payload + metadata struct →
    Arrow-batched mapInPandas stub decode. The oracle recomputes the
    deterministic fake features arithmetically — what's being verified is
    that the binary schema + batch plumbing produces exactly the declared
    values (byte_mean is pytest-covered; SQL can't sum blob bytes)."""
    from whiterrabbit_spark.extensions import multimodal as mm

    docs = read_parquet_table(spark, sf_dir, "documents")
    media = mm.attach_binary_payload(docs, "text", "doc_id")
    feats = mm.decode_stub_features(media)
    return feats.select("media_id", "mime", "n_bytes", "fake_width", "fake_height")


_MULTIMODAL_SQL = """
SELECT doc_id AS media_id,
       'application/fake' AS mime,
       octet_length(encode(text)) AS n_bytes,
       (octet_length(encode(text)) % 64) + 1 AS fake_width,
       (octet_length(encode(text)) % 48) + 1 AS fake_height
FROM documents"""


def _streaming_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL Structured Streaming path: file stream → watermark → windowed
    aggregation → memory sink (availableNow, complete mode), returned as a
    batch frame. Oracle = the equivalent batch SQL."""
    import uuid

    from whiterrabbit_spark.extensions import streaming as st

    src = st.stream_events_from_parquet(spark, sf_dir)
    profiled = st.windowed_profile(src)
    name = f"wrs_stream_{uuid.uuid4().hex[:8]}"
    st.run_stream_to_memory(profiled, name, mode="complete")
    out = spark.table(name)
    return out.select(
        F.date_format("window_start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        "event_type",
        "n_events",
        F.round("sum_value", R).alias("sum_value"),
        # mean derived from the rounded sum: raw avg differs from DuckDB's
        # in summation order, and at sf0.1 one group's mean lands exactly
        # on a 6-dp rounding boundary — deriving from agreed quantities
        # makes the comparison deterministic at every scale
        F.round(F.round(F.col("sum_value"), R) / F.col("n_events"), R).alias("mean_value"),
        F.round("min_value", R).alias("min_value"),
        F.round("max_value", R).alias("max_value"),
    )


_STREAMING_SQL = """
SELECT strftime(time_bucket(INTERVAL '1 hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
       event_type,
       count(*) AS n_events,
       (round(sum(value), 6) + 0.0) AS sum_value,
       (round(round(sum(value), 6) / count(*), 6) + 0.0) AS mean_value,
       (round(min(value), 6) + 0.0) AS min_value,
       (round(max(value), 6) + 0.0) AS max_value
FROM events
GROUP BY 1, 2"""


def _streaming_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming leaderboard: file stream → per-(day window, type)
    running counts (complete mode, bounded rank-free state — a
    row_number over a running agg is not incremental, so ranking is a
    batch finishing pass on the sink, streaming.finish_topk). Oracle =
    the same daily top-3 in batch SQL."""
    import uuid

    from whiterrabbit_spark.extensions import streaming as st

    src = st.stream_events_from_parquet(spark, sf_dir)
    counts = st.windowed_topk_counts(src, window="1 day")
    name = f"wrs_streamtopk_{uuid.uuid4().hex[:8]}"
    st.run_stream_to_memory(counts, name, mode="complete")
    out = st.finish_topk(spark.table(name), "event_type", k=3)
    return out.select(
        F.date_format("window_start", "yyyy-MM-dd").alias("day"),
        "event_type", "count", "rank",
    ).orderBy("day", "rank")


_STREAMING_TOPK_SQL = """
WITH cnt AS (
  SELECT strftime(time_bucket(INTERVAL '1 day', ts), '%Y-%m-%d') AS day,
         event_type, count(*) AS count
  FROM events WHERE event_type IS NOT NULL
  GROUP BY 1, 2
),
r AS (
  SELECT day, event_type, count,
         row_number() OVER (PARTITION BY day
                            ORDER BY count DESC, event_type ASC) AS rank
  FROM cnt
)
SELECT day, event_type, CAST(count AS BIGINT) AS count,
       CAST(rank AS BIGINT) AS rank
FROM r WHERE rank <= 3
ORDER BY day, rank"""


def _streaming_frequencies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second REAL Structured Streaming correctness row: file stream →
    running value counts (complete mode, bounded state: one row per
    distinct value) → memory sink → batch finishing pass applying the
    reference's F1 semantics (threshold → top-K → displayed-set
    percentage denominator, whiteRRabbit.R:329-352). Oracle = the same F1
    pipeline in batch SQL — stream and batch must converge to the
    identical frequency table once the source is exhausted."""
    import uuid

    from whiterrabbit_spark.extensions import streaming as st

    src = st.stream_events_from_parquet(spark, sf_dir)
    counts = st.streaming_frequencies(src, "event_type")
    name = f"wrs_streamfreq_{uuid.uuid4().hex[:8]}"
    st.run_stream_to_memory(counts, name, mode="complete")
    out = st.finish_frequency_table(spark.table(name), min_cell_count=5)
    return out.select(
        "value", "count", F.round("percentage", R).alias("percentage")
    )


_STREAMING_FREQ_SQL = """
WITH cnt AS (
  SELECT event_type AS value, count(*) AS count
  FROM events
  WHERE event_type IS NOT NULL AND event_type <> ''
  GROUP BY 1
), kept AS (
  SELECT value, count,
         row_number() OVER (ORDER BY count DESC, value ASC) AS rn
  FROM cnt WHERE count >= 5
)
SELECT value, count,
       (round(count * 1.0 / sum(count) OVER (), 6) + 0.0) AS percentage
FROM kept WHERE rn <= 1000"""


_EVENTS_ROLLUP_SQL = """
SELECT strftime(time_bucket(INTERVAL '1 hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
       event_type,
       count(*) AS n_events,
       (round(sum(value), 6) + 0.0) AS sum_value,
       count(DISTINCT user_id) AS n_users
FROM events
GROUP BY 1, 2"""


def _events_multi_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical rollup (event_type → day → grand total) in ONE pass:
    Spark's ROLLUP compiles to a single scan + Expand (one input row feeds
    every grouping level's partial aggregate) — the multi-granularity
    summary a time-series store materializes, without re-scanning per
    level. grouping() flags distinguish subtotal rows from data rows."""
    df = read_parquet_table(spark, sf_dir, "events")
    day = F.date_format(F.col("ts").cast("timestamp"), "yyyy-MM-dd")
    out = (
        df.select(F.col("event_type"), day.alias("day"), "value")
        .rollup("event_type", "day")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), R).alias("sum_value"),
            F.grouping("event_type").cast("int").alias("g_type"),
            F.grouping("day").cast("int").alias("g_day"),
        )
    )
    # subtotal rows carry NULL group keys; sentinel them so result
    # comparators (which sort rows) never order NULL against a string —
    # the grouping() flags remain the semantic marker
    return out.select(
        F.coalesce("event_type", F.lit("(all)")).alias("event_type"),
        F.coalesce("day", F.lit("(all)")).alias("day"),
        "n_events", "sum_value", "g_type", "g_day",
    )


_MULTI_ROLLUP_SQL = """
SELECT coalesce(event_type, '(all)') AS event_type,
       coalesce(strftime(ts, '%Y-%m-%d'), '(all)') AS day,
       count(*) AS n_events,
       (round(sum(value), 6) + 0.0) AS sum_value,
       grouping(event_type) AS g_type,
       grouping(strftime(ts, '%Y-%m-%d')) AS g_day
FROM events
GROUP BY ROLLUP (event_type, strftime(ts, '%Y-%m-%d'))"""


def _events_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full cross-dimensional CUBE (event_type x day-of-week): every
    grouping-set combination — including the day-of-week marginals a
    ROLLUP's fixed hierarchy can't produce — in ONE scan + Expand, the
    same single-pass shape as the rollup. grouping() flags mark the
    subtotal axes; NULL keys sentinel for total-order row compares."""
    df = read_parquet_table(spark, sf_dir, "events")
    dow = F.date_format(F.col("ts").cast("timestamp"), "E")
    out = (
        df.select(F.col("event_type"), dow.alias("dow"), "value")
        .cube("event_type", "dow")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), R).alias("sum_value"),
            F.grouping("event_type").cast("int").alias("g_type"),
            F.grouping("dow").cast("int").alias("g_dow"),
        )
    )
    return out.select(
        F.coalesce("event_type", F.lit("(all)")).alias("event_type"),
        F.coalesce("dow", F.lit("(all)")).alias("dow"),
        "n_events", "sum_value", "g_type", "g_dow",
    )


_EVENTS_CUBE_SQL = """
SELECT coalesce(event_type, '(all)') AS event_type,
       coalesce(strftime(ts, '%a'), '(all)') AS dow,
       count(*) AS n_events,
       (round(sum(value), 6) + 0.0) AS sum_value,
       grouping(event_type) AS g_type,
       grouping(strftime(ts, '%a')) AS g_dow
FROM events
GROUP BY CUBE (event_type, strftime(ts, '%a'))"""


MOVING_N = 5  # trailing-window length (rows)


def _moving_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user trailing moving stats over the event stream — bounded-frame
    window functions (rowsBetween −4..0): one shuffle on user_id, O(frame)
    state per row. Row-count frames (not time ranges) keep the frame
    deterministic under duplicate timestamps."""
    df = read_parquet_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").cast("timestamp"), F.col("event_id"))
        .rowsBetween(-(MOVING_N - 1), Window.currentRow)
    )
    return df.select(
        "event_id",
        "user_id",
        F.round(F.avg("value").over(w), R).alias("moving_avg"),
        F.round(F.min("value").over(w), R).alias("moving_min"),
        F.round(F.max("value").over(w), R).alias("moving_max"),
        F.count(F.lit(1)).over(w).alias("frame_rows"),
    )


_MOVING_SQL = f"""
SELECT event_id, user_id,
       (round(avg(value) OVER w, 6) + 0.0) AS moving_avg,
       (round(min(value) OVER w, 6) + 0.0) AS moving_min,
       (round(max(value) OVER w, 6) + 0.0) AS moving_max,
       count(*) OVER w AS frame_rows
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN {MOVING_N - 1} PRECEDING AND CURRENT ROW)"""


RANGE_FRAME_S = 3600


def _range_moving_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user trailing ONE-HOUR stats — a RANGE (event-time interval)
    frame, the time-based complement of `_moving_stats`' ROWS frame: the
    frame is every event in [t−3600 s, t], however many rows that is.
    Same single shuffle on user_id; per-row state is O(frame) with frame
    size set by event density, not a constant. Epochs are floored to whole
    seconds so the integer range arithmetic is engine-identical."""
    df = read_parquet_table(spark, sf_dir, "events")
    ep = F.floor(F.col("ts").cast("timestamp").cast("double")).cast("long")
    w = (
        Window.partitionBy("user_id")
        .orderBy(ep)
        .rangeBetween(-RANGE_FRAME_S, Window.currentRow)
    )
    return df.select(
        "event_id",
        "user_id",
        F.round(F.sum("value").over(w), R).alias("hour_sum"),
        F.max("value").over(w).alias("hour_max"),
        F.count(F.lit(1)).over(w).alias("hour_events"),
    )


_RANGE_MOVING_SQL = f"""
SELECT event_id, user_id,
       (round(sum(value) OVER w, {R}) + 0.0) AS hour_sum,
       max(value) OVER w AS hour_max,
       count(*) OVER w AS hour_events
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
             RANGE BETWEEN {RANGE_FRAME_S} PRECEDING AND CURRENT ROW)"""


def _cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention: users grouped by first-active week, counted
    in each subsequent week, with retention as a fraction of the cohort.

    Plan: ONE shuffle on user_id carrying a per-user week SET (state bounded
    by lifetime weeks, not events), then an aggregation over the tiny
    (cohort, offset) frame. The naive per-user min-week + re-join
    construction the oracle uses would shuffle the event table twice."""
    df = read_parquet_table(spark, sf_dir, "events")
    wk = F.date_trunc("week", F.col("ts")).cast("date")
    per_user = (
        df.select("user_id", wk.alias("wk"))
        .groupBy("user_id")
        .agg(F.sort_array(F.collect_set("wk")).alias("wks"))
    )
    ex = per_user.select(
        F.col("wks")[0].alias("cohort_wk"), F.explode("wks").alias("wk")
    )
    cnt = ex.groupBy(
        "cohort_wk",
        (F.datediff("wk", "cohort_wk") / 7).cast("long").alias("week_offset"),
    ).agg(F.count(F.lit(1)).alias("n_users"))
    cohort_size = F.max(
        F.when(F.col("week_offset") == 0, F.col("n_users"))
    ).over(Window.partitionBy("cohort_wk"))
    return cnt.select(
        F.date_format("cohort_wk", "yyyy-MM-dd").alias("cohort_week"),
        "week_offset",
        "n_users",
        F.round(F.col("n_users") / cohort_size, R).alias("retention"),
    )


_COHORT_SQL = f"""
WITH uw AS (
  SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS wk FROM events
), fw AS (
  SELECT user_id, min(wk) AS cohort_wk FROM uw GROUP BY user_id
), cnt AS (
  SELECT f.cohort_wk, (u.wk - f.cohort_wk) // 7 AS week_offset,
         count(*) AS n_users
  FROM uw u JOIN fw f USING (user_id)
  GROUP BY 1, 2
)
SELECT strftime(cohort_wk, '%Y-%m-%d') AS cohort_week,
       week_offset, n_users,
       (round(n_users * 1.0 /
             max(CASE WHEN week_offset = 0 THEN n_users END)
               OVER (PARTITION BY cohort_wk), {R}) + 0.0) AS retention
FROM cnt"""


def _active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily + trailing-7-day distinct active users (DAU/WAU) per day.

    Exact sliding-window COUNT DISTINCT doesn't decompose over frames, so
    the scale-safe construction is: dedup to user-day pairs (the one big
    shuffle, map-side partial), fan each pair out to the ≤7 window-ends it
    supports (explode on the already-deduped frame, ×7 not ×events), and
    count distinct per window end. Day-level aggregates are tiny; AQE
    broadcasts the final DAU⋈WAU join."""
    df = read_parquet_table(spark, sf_dir, "events")
    ud = df.select("user_id", F.col("ts").cast("date").alias("d")).distinct()
    dau = ud.groupBy("d").agg(F.count(F.lit(1)).alias("dau"))
    expl = (
        ud.select("user_id", "d", F.explode(F.sequence(F.lit(0), F.lit(6))).alias("x"))
        .select("user_id", F.expr("date_add(d, x)").alias("wend"))
    )
    wau = expl.groupBy("wend").agg(F.countDistinct("user_id").alias("wau"))
    return dau.join(wau, dau.d == wau.wend).select(
        F.date_format("d", "yyyy-MM-dd").alias("day"), "dau", "wau"
    )


_ACTIVE_USERS_SQL = """
WITH ud AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
), dau AS (
  SELECT d, count(*) AS dau FROM ud GROUP BY d
), expl AS (
  SELECT user_id, d + t.range::INT AS wend FROM ud CROSS JOIN range(7) t
), wau AS (
  SELECT wend, count(DISTINCT user_id) AS wau FROM expl GROUP BY wend
)
SELECT strftime(dau.d, '%Y-%m-%d') AS day, dau.dau, wau.wau
FROM dau JOIN wau ON wau.wend = dau.d"""


EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def _event_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day × event_type crosstab via `pivot` with an EXPLICIT value list —
    Spark then plans ONE groupBy(day) with conditional counts (no extra
    distinct-values job, no second shuffle), identical in shape to the
    oracle's manual conditional aggregation. At scale an unlisted pivot
    would first run a distinct over 100 TB just to learn the column set."""
    df = read_parquet_table(spark, sf_dir, "events")
    out = (
        df.withColumn("day", F.date_format(F.col("ts").cast("date"), "yyyy-MM-dd"))
        .groupBy("day")
        .pivot("event_type", EVENT_TYPES)
        .count()
    )
    cols = [F.col("day")] + [
        F.coalesce(F.col(t), F.lit(0)).alias(f"n_{t}") for t in EVENT_TYPES
    ]
    return out.select(*cols)


_EVENT_PIVOT_SQL = """
SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
       {conds}
FROM events GROUP BY 1""".format(
    conds=",\n       ".join(
        f"count(CASE WHEN event_type = '{t}' THEN 1 END) AS n_{t}"
        for t in EVENT_TYPES
    )
)


def _event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user event-type transition matrix (Markov bigram counts):
    lag(event_type) over (user, time) then count pairs. One shuffle on
    user_id for the window; the pair frame that feeds the final groupBy is
    |types|² -bounded per user batch, so the second aggregation is cheap.
    Transition probability is row-normalized within each source state."""
    df = read_parquet_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = df.select(
        F.lag("event_type").over(w).alias("prev_type"),
        F.col("event_type").alias("next_type"),
    ).where(F.col("prev_type").isNotNull())
    cnt = pairs.groupBy("prev_type", "next_type").agg(
        F.count(F.lit(1)).alias("n_transitions")
    )
    row_total = F.sum("n_transitions").over(Window.partitionBy("prev_type"))
    return cnt.select(
        "prev_type",
        "next_type",
        "n_transitions",
        F.round(F.col("n_transitions") / row_total, R).alias("p_transition"),
    )


_EVENT_TRANSITIONS_SQL = f"""
WITH pairs AS (
  SELECT lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS prev_type,
         event_type AS next_type
  FROM events
), cnt AS (
  SELECT prev_type, next_type, count(*) AS n_transitions
  FROM pairs WHERE prev_type IS NOT NULL
  GROUP BY 1, 2
)
SELECT prev_type, next_type, n_transitions,
       (round(n_transitions * 1.0 /
             sum(n_transitions) OVER (PARTITION BY prev_type), {R}) + 0.0)
         AS p_transition
FROM cnt"""


NEAR_DUP_COS_THRESHOLD = 0.4  # testdata embeddings cluster at ~0.4-0.51 cosine


def _embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs — EXACT BASELINE, via the
    blocked numpy-GEMM applyInPandas path (27× the per-pair expression
    form; BLAS vs fold differs ~1e-16, absorbed by the 6-dp rounding both
    engines apply). O(n²) block replication by design: use only as the
    correctness yardstick at <=1e5 vectors. The scale path (the entry a
    100 TB user should run) is ``hyperplane_near_pairs_embeddings`` —
    LSH-bucketed candidates, exact scoring, no all-pairs stage."""
    df = read_parquet_table(spark, sf_dir, "embeddings")
    out = sim.cosine_near_pairs_blocked(df, NEAR_DUP_COS_THRESHOLD)
    return out.select("id1", "id2", F.round("cosine", R).alias("cosine"))


_EMB_NEAR_DUP_SQL = f"""
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS e FROM embeddings
), s AS (
  SELECT a.vec_id AS id1, b.vec_id AS id2,
         list_dot_product(a.e, b.e) /
         (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))) AS cosine
  FROM v a JOIN v b ON a.vec_id < b.vec_id
)
SELECT id1, id2, (round(cosine, 6) + 0.0) AS cosine
FROM s WHERE cosine >= {NEAR_DUP_COS_THRESHOLD}"""


ANN_LSH_PLANES = 4
ANN_LSH_TABLES = 8
ANN_LSH_SEED = 42
EMB_DIM = 64


def _ann_hyperplane(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed ANN (the 100 TB path): OR-amplified random-hyperplane
    candidate generation, exact scoring. Oracle-checkable because the seeded
    plane constants are inlined into the SQL — DuckDB recomputes the same
    sign-bit buckets, so candidate sets (and therefore top-k) agree exactly."""
    df = read_parquet_table(spark, sf_dir, "embeddings")
    q = df.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = sim.random_hyperplane_ann(
        df, q, dim=EMB_DIM, k=5,
        n_planes=ANN_LSH_PLANES, n_tables=ANN_LSH_TABLES, seed=ANN_LSH_SEED,
    )
    return out.select(
        "query_id", "neighbor_id", F.round("cosine", R).alias("cosine"), "rank"
    )


def _ann_hyperplane_sql() -> str:
    branches = []
    for t in range(ANN_LSH_TABLES):
        planes = sim.hyperplanes(EMB_DIM, ANN_LSH_PLANES, ANN_LSH_SEED + 1000 * t)
        bits = " + ".join(
            f"(CASE WHEN list_dot_product(e, [{', '.join(repr(x) for x in p)}]) >= 0 "
            f"THEN {2 ** i} ELSE 0 END)"
            for i, p in enumerate(planes)
        )
        branches.append(f"SELECT vec_id, e, {t} AS tbl, ({bits})::BIGINT AS bucket FROM v")
    hashed = "\nUNION ALL\n".join(branches)
    return f"""
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS e FROM embeddings
), h AS (
{hashed}
), q AS (
  SELECT vec_id AS query_id, tbl, bucket FROM h WHERE vec_id < 10
), cand AS (
  SELECT DISTINCT h.vec_id AS neighbor_id, q.query_id
  FROM h JOIN q ON h.tbl = q.tbl AND h.bucket = q.bucket
  WHERE h.vec_id <> q.query_id
), s AS (
  SELECT c.query_id, c.neighbor_id,
         list_dot_product(qv.e, nv.e) /
         (sqrt(list_dot_product(qv.e, qv.e)) * sqrt(list_dot_product(nv.e, nv.e))) AS cosine
  FROM cand c
  JOIN v qv ON qv.vec_id = c.query_id
  JOIN v nv ON nv.vec_id = c.neighbor_id
), r AS (
  SELECT query_id, neighbor_id, cosine,
         row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS "rank"
  FROM s
)
SELECT query_id, neighbor_id, (round(cosine, 6) + 0.0) AS cosine, "rank"
FROM r WHERE "rank" <= 5"""


def _hyperplane_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup, 100 TB scale path: random-hyperplane LSH
    candidate generation (one narrow shuffle on (table, bucket)), exact
    cosine scoring of candidates only — no O(n²) block replication.
    Oracle-checkable because the seeded plane constants are inlined into
    the SQL, so DuckDB reproduces the identical candidate set; every
    emitted pair's cosine is exact on both sides."""
    df = read_parquet_table(spark, sf_dir, "embeddings")
    out = sim.hyperplane_near_pairs(
        df, NEAR_DUP_COS_THRESHOLD, dim=EMB_DIM,
        n_planes=ANN_LSH_PLANES, n_tables=ANN_LSH_TABLES, seed=ANN_LSH_SEED,
    )
    return out.select("id1", "id2", F.round("cosine", R).alias("cosine"))


def _hyperplane_cte() -> str:
    """CTE chain ending in ``s`` = (id1, id2, cosine) — the DuckDB
    mirror of ``sim.hyperplane_near_pairs``'s candidate generation +
    exact scoring, shared by the near-pairs query and
    ``embedding_keep_best`` (which clusters the same pair set)."""
    branches = []
    for t in range(ANN_LSH_TABLES):
        planes = sim.hyperplanes(EMB_DIM, ANN_LSH_PLANES, ANN_LSH_SEED + 1000 * t)
        bits = " + ".join(
            f"(CASE WHEN list_dot_product(e, [{', '.join(repr(x) for x in p)}]) >= 0 "
            f"THEN {2 ** i} ELSE 0 END)"
            for i, p in enumerate(planes)
        )
        branches.append(f"SELECT vec_id, e, {t} AS tbl, ({bits})::BIGINT AS bucket FROM v")
    hashed = "\nUNION ALL\n".join(branches)
    return f"""v AS (
  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS e FROM embeddings
), h AS (
{hashed}
), cand AS (
  SELECT DISTINCT a.vec_id AS id1, b.vec_id AS id2
  FROM h a JOIN h b ON a.tbl = b.tbl AND a.bucket = b.bucket
  WHERE a.vec_id < b.vec_id
), s AS (
  SELECT c.id1, c.id2,
         list_dot_product(av.e, bv.e) /
         (sqrt(list_dot_product(av.e, av.e)) * sqrt(list_dot_product(bv.e, bv.e))) AS cosine
  FROM cand c
  JOIN v av ON av.vec_id = c.id1
  JOIN v bv ON bv.vec_id = c.id2
)"""


def _hyperplane_near_pairs_sql() -> str:
    return f"""
WITH {_hyperplane_cte()}
SELECT id1, id2, (round(cosine, 6) + 0.0) AS cosine
FROM s WHERE cosine >= {NEAR_DUP_COS_THRESHOLD}"""


def _embedding_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-oracle semantic dedup (similarity.embedding_keep_best):
    hyperplane-LSH cosine near-pairs → connected components → keep the
    highest-L2-norm member per cluster. The deterministic sibling of
    rows-only ``semantic_dedup`` — the oracle re-derives the identical
    pair set from the inlined seeded planes, rebuilds reachability with
    a RECURSIVE CTE and applies the same 6-dp argmax, so every vector's
    cluster and kept flag is cross-engine checkable."""
    df = read_parquet_table(spark, sf_dir, "embeddings")
    out = sim.embedding_keep_best(
        df, NEAR_DUP_COS_THRESHOLD, dim=EMB_DIM,
        n_planes=ANN_LSH_PLANES, n_tables=ANN_LSH_TABLES, seed=ANN_LSH_SEED,
    )
    # -1 sentinel for "no cluster" (compare harness sorts row tuples)
    return out.select(
        "vec_id",
        F.coalesce("cluster_id", F.lit(-1)).alias("cluster_id"),
        "score", "kept",
    ).orderBy("vec_id")


def _embedding_keep_best_sql() -> str:
    return f"""
WITH RECURSIVE {_hyperplane_cte()},
pairs AS (
  SELECT id1, id2 FROM s WHERE cosine >= {NEAR_DUP_COS_THRESHOLD}
),
edges AS (
  SELECT id1 AS a, id2 AS b FROM pairs
  UNION ALL
  SELECT id2 AS a, id1 AS b FROM pairs
),
reach(node, lbl) AS (
  SELECT a, a FROM edges
  UNION
  SELECT e.b, r.lbl FROM reach r JOIN edges e ON e.a = r.node
),
cc AS (
  SELECT node, min(lbl) AS cluster_id FROM reach GROUP BY node
),
scored AS (
  SELECT vec_id, (round(sqrt(list_dot_product(e, e)), 6) + 0.0) AS score FROM v
),
j AS (
  SELECT sc.vec_id, sc.score, cc.cluster_id
  FROM scored sc LEFT JOIN cc ON cc.node = sc.vec_id
),
r AS (
  SELECT vec_id, cluster_id, score,
         CASE WHEN cluster_id IS NULL THEN TRUE
              ELSE row_number() OVER (
                     PARTITION BY cluster_id
                     ORDER BY score DESC, vec_id ASC) = 1
         END AS kept
  FROM j
)
SELECT CAST(vec_id AS BIGINT) AS vec_id,
       CAST(coalesce(cluster_id, -1) AS BIGINT) AS cluster_id,
       score, kept
FROM r
ORDER BY vec_id"""


def _quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = read_parquet_table(spark, sf_dir, "documents")
    out = ts.quality_score(df, "text", "doc_id")
    return out.select(
        "doc_id",
        F.round("length_score", R).alias("length_score"),
        F.round("punct_score", R).alias("punct_score"),
        F.round("stop_score", R).alias("stop_score"),
        F.round("quality_score", R).alias("quality_score"),
        "quality_class",
    )


def _quality_core_sql() -> str:
    """CTE chain ending in ``sc`` = (doc_id, *_score, quality_score,
    quality_class), all unrounded — shared by the quality query and the
    curation pipeline (which must aggregate unrounded scores)."""
    stop = ", ".join(f"'{w}'" for w in ts.STOPWORDS)
    return f"""base AS (
  SELECT doc_id,
         length(text)::DOUBLE AS nc,
         (CASE WHEN trim(text) = '' THEN 0
               ELSE len(string_split_regex(lower(trim(text)), '\\s+')) END)::DOUBLE AS tc,
         len(string_split_regex(text, '{ts.PUNCT_CLASS}')) - 1 AS np,
         len(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                         t -> t IN ({stop}))) AS ns
  FROM documents
), s AS (
  SELECT doc_id,
         CASE WHEN nc < 50 THEN nc / 50.0
              WHEN nc > 5000 THEN greatest(0.0, 1 - (nc - 5000) / 5000.0)
              ELSE 1.0 END AS length_score,
         1 - least((np / greatest(nc, 1.0)) / 0.2, 1.0) AS punct_score,
         least((ns / greatest(tc, 1.0)) / 0.1, 1.0) AS stop_score
  FROM base
), sc AS (
  SELECT doc_id, length_score, punct_score, stop_score,
         0.4 * length_score + 0.3 * punct_score + 0.3 * stop_score AS quality_score,
         CASE WHEN 0.4 * length_score + 0.3 * punct_score + 0.3 * stop_score >= 0.7 THEN 'keep'
              WHEN 0.4 * length_score + 0.3 * punct_score + 0.3 * stop_score >= 0.4 THEN 'review'
              ELSE 'drop' END AS quality_class
  FROM s
)"""


def _quality_score_sql() -> str:
    return f"""
WITH {_quality_core_sql()}
SELECT doc_id,
       (round(length_score, 6) + 0.0) AS length_score,
       (round(punct_score, 6) + 0.0) AS punct_score,
       (round(stop_score, 6) + 0.0) AS stop_score,
       (round(quality_score, 6) + 0.0) AS quality_score,
       quality_class
FROM sc"""


def _bpe_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = read_parquet_table(spark, sf_dir, "documents")
    t = F.col("text")
    return df.select(
        "doc_id",
        ts.bpe_token_count(t).alias("n_bpe_tokens"),
        ts.token_count(t).alias("n_ws_tokens"),
    )


_BPE_SQL = f"""
SELECT doc_id,
       len(regexp_extract_all(text, '{ts.BPE_TOKEN_RE.replace("'", "''")}')) AS n_bpe_tokens,
       CASE WHEN trim(text) = '' THEN 0
            ELSE len(string_split_regex(lower(trim(text)), '\\s+')) END AS n_ws_tokens
FROM documents"""


SESSION_GAP_S = 28_800  # 8h — events median inter-event gap is ~7.3h


def _sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (native session_window). The oracle rebuilds
    sessions with the independent lag + cumulative-sum construction, so this
    cross-checks Spark's window-merging against first-principles SQL."""
    from whiterrabbit_spark.extensions import streaming as st

    df = read_parquet_table(spark, sf_dir, "events")
    out = st.sessionize(df, gap=f"{SESSION_GAP_S} seconds")
    return out.select(
        "user_id",
        F.date_format("session_start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
        F.date_format("session_end", "yyyy-MM-dd HH:mm:ss").alias("session_end"),
        "n_events",
        F.round("sum_value", R).alias("sum_value"),
        "n_event_types",
    )


_SESSIONIZE_SQL = f"""
WITH o AS (
  SELECT user_id, ts, value, event_type, event_id,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch(ts) - lag(epoch(ts)) OVER w > {SESSION_GAP_S}
              THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), s AS (
  SELECT user_id, ts, value, event_type,
         sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS UNBOUNDED PRECEDING) AS session_seq
  FROM o
)
SELECT user_id,
       strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
       strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS session_end,
       count(*) AS n_events,
       (round(sum(value), 6) + 0.0) AS sum_value,
       count(DISTINCT event_type) AS n_event_types
FROM s GROUP BY user_id, session_seq"""


def _curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite training-data curation: quality filter → language filter →
    exact near-dup removal (fingerprint, keep lowest doc_id) → per-(lang,
    quality_class) survivor stats. Exercises operator composition in one
    Catalyst plan: the filters run in the scan stage, dedup is one shuffle
    on the fingerprint, and the final rollup re-aggregates the survivors."""
    docs = read_parquet_table(spark, sf_dir, "documents")
    t = F.col("text")
    # STAGED projections (r8, VERDICT r7 #3): the quality formulas and
    # the lang-id argmax chain reference their HOF counts 3-8x each
    # (score feeds quality_score AND both quality_class branches; the
    # chained greatest/when argmax nests every earlier language's
    # count), and an inline count re-evaluates its split+filter at
    # EVERY reference — measured 21 s (quality) + 32 s (lang) per warm
    # 2M-doc pass, ~5x the hoisted form. Stage 1 splits once; stage 2
    # turns the array into scalar counts (one HOF filter each, all
    # referencing the single __toks alias); stage 3 is pure arithmetic.
    # CollapseProject leaves the boundaries alone because the aliases
    # are non-cheap and multiply-referenced (the dup_spans lesson).
    stage1 = docs.select(
        "doc_id",
        "n_chars",
        F.length(t).alias("__nc"),
        (F.size(F.split(t, ts.PUNCT_CLASS)) - 1).alias("__np"),
        (F.trim(t) == "").alias("__blank"),
        ts.tokens(t).alias("__toks"),
        ts.fingerprint_expr(t).alias("fingerprint"),
    )
    toks = F.col("__toks")
    stage2 = stage1.select(
        "doc_id",
        "n_chars",
        "fingerprint",
        "__nc",
        "__np",
        F.when(F.col("__blank"), F.lit(0)).otherwise(F.size(toks)).alias(
            "__tc"
        ),
        F.size(
            F.filter(toks, lambda x: x.isin(*ts.STOPWORDS))
        ).alias("__nstop"),
        *[
            F.size(F.filter(toks, ts._isin_fn(words))).alias(
                f"__hit_{lang}"
            )
            for lang, words in sorted(ts.LANG_MARKERS.items())
        ],
    )
    q = ts.quality_exprs_from_counts(
        F.col("__nc"), F.col("__tc"), F.col("__np"), F.col("__nstop")
    )
    lang, _ = ts.lang_id_from_hits(
        {lang: F.col(f"__hit_{lang}") for lang in ts.LANG_MARKERS}
    )
    joined = stage2.select(
        "doc_id",
        "n_chars",
        q["quality_score"].alias("quality_score"),
        q["quality_class"].alias("quality_class"),
        "fingerprint",
        lang.alias("detected_lang"),
    ).where((F.col("quality_class") != "drop") & (F.col("detected_lang") != "und"))
    wfp = Window.partitionBy("fingerprint").orderBy("doc_id")
    survivors = (
        joined.withColumn("__rn", F.row_number().over(wfp))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )
    return survivors.groupBy("detected_lang", "quality_class").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("quality_score"), R).alias("avg_quality"),
        F.round(F.avg("n_chars"), R).alias("avg_chars"),
    )


def _curation_pipeline_sql() -> str:
    lang = _lang_id_sql().strip()
    return f"""
WITH {_quality_core_sql()},
qual AS (SELECT doc_id, quality_score, quality_class FROM sc),
lid AS ({lang}),
fp AS (
  SELECT doc_id,
         md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fingerprint
  FROM documents
), joined AS (
  SELECT d.doc_id, d.n_chars, q.quality_score, q.quality_class,
         f.fingerprint, l.detected_lang
  FROM documents d
  JOIN qual q ON q.doc_id = d.doc_id
  JOIN fp f ON f.doc_id = d.doc_id
  JOIN lid l ON l.doc_id = d.doc_id
  WHERE q.quality_class <> 'drop' AND l.detected_lang <> 'und'
), survivors AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY fingerprint ORDER BY doc_id) AS rn
    FROM joined
  ) WHERE rn = 1
)
SELECT detected_lang, quality_class,
       count(*) AS n_docs,
       (round(avg(quality_score), 6) + 0.0) AS avg_quality,
       (round(avg(n_chars), 6) + 0.0) AS avg_chars
FROM survivors GROUP BY detected_lang, quality_class"""


def _dataset_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 hash split of documents + per-split stats —
    engine-independent assignment (md5 buckets), verified bit-identically
    by the oracle."""
    from whiterrabbit_spark.extensions import splits as sp

    docs = read_parquet_table(spark, sf_dir, "documents")
    out = sp.hash_split(docs, "doc_id")
    return out.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("n_chars"), R).alias("avg_chars"),
        F.min("doc_id").alias("min_doc_id"),
    )


_DATASET_SPLIT_SQL = """
WITH b AS (
  SELECT doc_id, n_chars,
         (('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT % 10000)::INT AS bucket
  FROM documents
), s AS (
  SELECT doc_id, n_chars,
         CASE WHEN bucket < 8000 THEN 'train'
              WHEN bucket < 9000 THEN 'val'
              ELSE 'test' END AS split
  FROM b
)
SELECT split, count(*) AS n_docs, (round(avg(n_chars), 6) + 0.0) AS avg_chars,
       min(doc_id) AS min_doc_id
FROM s GROUP BY split"""


def _leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-aware train/val/test split: near-dup clusters (simhash pairs
    → connected components) are assigned to a split as a UNIT, so a rewrite
    of a training doc can never leak into test. Split key =
    coalesce(cluster_id, doc_id) through the same md5 buckets as
    `dataset_split_documents`; the label table (only docs in some near-dup
    pair) broadcasts, the corpus never shuffles."""
    from whiterrabbit_spark.extensions import splits as sp

    docs = read_parquet_table(spark, sf_dir, "documents")
    pairs = X.simhash_near_pairs(docs, "text", "doc_id", max_hamming=3,
                                 max_bucket_size=2_000)
    labels = X.connected_components(pairs)
    out = sp.cluster_safe_split(docs, "doc_id", labels)
    return out.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("group_key").alias("n_groups"),
        F.min("doc_id").alias("min_doc_id"),
    )


def _leakage_safe_split_sql() -> str:
    return f"""
WITH RECURSIVE pairs AS ({_simhash_sql()}),
edges AS (
  SELECT id1 AS a, id2 AS b FROM pairs
  UNION ALL
  SELECT id2 AS a, id1 AS b FROM pairs
),
reach(node, lbl) AS (
  SELECT a, a FROM edges
  UNION
  SELECT e.b, r.lbl FROM reach r JOIN edges e ON e.a = r.node
),
cc AS (
  SELECT node, min(lbl) AS cluster_id FROM reach GROUP BY node
),
keyed AS (
  SELECT d.doc_id, coalesce(cc.cluster_id, d.doc_id) AS gkey
  FROM documents d LEFT JOIN cc ON cc.node = d.doc_id
),
b AS (
  SELECT doc_id, gkey,
         (('0x' || substr(md5(gkey::VARCHAR), 1, 15))::BIGINT % 10000)::INT AS bucket
  FROM keyed
),
s AS (
  SELECT doc_id, gkey,
         CASE WHEN bucket < 8000 THEN 'train'
              WHEN bucket < 9000 THEN 'val'
              ELSE 'test' END AS split
  FROM b
)
SELECT split, count(*) AS n_docs, count(DISTINCT gkey) AS n_groups,
       min(doc_id) AS min_doc_id
FROM s GROUP BY split"""


def _winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing (rolling k-gram hash + window-min selection) fingerprints,
    aggregated per doc for a compact result: count + xor-fold of the
    selected hashes (order-insensitive set digest both engines compute)."""
    docs = read_parquet_table(spark, sf_dir, "documents")
    fps = ts.winnow_fingerprints(docs, "text", "doc_id")
    return fps.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_fingerprints"),
        F.sum(F.col("fingerprint") % 1000003).alias("fp_sum"),
        F.min("fingerprint").alias("fp_min"),
    )


_WINNOW_SQL = """
WITH norm AS (
  SELECT doc_id, regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS t
  FROM documents
), grams AS (
  SELECT doc_id, i.pos,
         substr(t, i.pos, 5) AS g
  FROM norm, LATERAL unnest(generate_series(1, greatest(length(t) - 4, 1))) AS i(pos)
), hashed AS (
  SELECT doc_id, pos,
         ('0x' || substr(md5(g), 1, 15))::BIGINT AS h
  FROM grams
), winnowed AS (
  SELECT DISTINCT doc_id, h AS fingerprint
  FROM (
    SELECT doc_id, h,
           min(h) OVER (PARTITION BY doc_id ORDER BY pos
                        ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wmin
    FROM hashed
  ) WHERE h = wmin
)
SELECT doc_id, count(*) AS n_fingerprints,
       sum(fingerprint % 1000003)::BIGINT AS fp_sum, min(fingerprint) AS fp_min
FROM winnowed GROUP BY doc_id"""


def _asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (backward): each purchase event picks up the latest
    preceding 'view' event of the same user. Spark side is the
    union + one-shuffle running-window operator (extensions/joins.py);
    the oracle is DuckDB's NATIVE ``ASOF LEFT JOIN`` — two independent
    constructions of the same temporal-join semantics."""
    from whiterrabbit_spark.extensions import joins as J

    events = read_parquet_table(spark, sf_dir, "events")
    purchases = events.where(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id"
    )
    views = (
        events.where(F.col("event_type") == "view")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("view_value"))
    )
    out = J.asof_join(purchases, views, time_col="ts", by="user_id")
    return out.select(
        "event_id",
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts"),
        F.date_format("right_ts", "yyyy-MM-dd HH:mm:ss").alias("view_ts"),
        F.round("right_view_value", R).alias("view_value"),
        # truncate both instants to whole seconds (Spark ts→long floors)
        (F.col("ts").cast("long") - F.col("right_ts").cast("long")).alias("gap_s"),
    )


_ASOF_SQL = """
WITH p AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
), v AS (
  SELECT user_id, ts, max(value) AS view_value
  FROM events WHERE event_type = 'view' GROUP BY 1, 2
)
SELECT p.event_id, p.user_id,
       strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS ts,
       strftime(v.ts, '%Y-%m-%d %H:%M:%S') AS view_ts,
       (round(v.view_value, 6) + 0.0) AS view_value,
       (floor(epoch(p.ts)) - floor(epoch(v.ts)))::BIGINT AS gap_s
FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND p.ts >= v.ts"""


def _asof_join_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of: each purchase picks up the EARLIEST subsequent
    'signup' event of the same user (e.g. conversion attribution). Oracle
    is DuckDB ASOF with the inequality flipped."""
    from whiterrabbit_spark.extensions import joins as J

    events = read_parquet_table(spark, sf_dir, "events")
    purchases = events.where(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id"
    )
    signups = (
        events.where(F.col("event_type") == "signup")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("signup_value"))
    )
    out = J.asof_join(
        purchases, signups, time_col="ts", by="user_id", direction="forward"
    )
    return out.select(
        "event_id",
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts"),
        F.date_format("right_ts", "yyyy-MM-dd HH:mm:ss").alias("signup_ts"),
        F.round("right_signup_value", R).alias("signup_value"),
        (F.col("right_ts").cast("long") - F.col("ts").cast("long")).alias("gap_s"),
    )


_ASOF_FWD_SQL = """
WITH p AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
), v AS (
  SELECT user_id, ts, max(value) AS signup_value
  FROM events WHERE event_type = 'signup' GROUP BY 1, 2
)
SELECT p.event_id, p.user_id,
       strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS ts,
       strftime(v.ts, '%Y-%m-%d %H:%M:%S') AS signup_ts,
       (round(v.signup_value, 6) + 0.0) AS signup_value,
       (floor(epoch(v.ts)) - floor(epoch(p.ts)))::BIGINT AS gap_s
FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND p.ts <= v.ts"""


def _repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = read_parquet_table(spark, sf_dir, "documents")
    out = ts.repetition_signals(df, "text", "doc_id")
    return out.select(
        "doc_id", "n_tokens",
        F.round("dup_token_frac", R).alias("dup_token_frac"),
        "top_bigram_count",
        F.round("top_bigram_frac", R).alias("top_bigram_frac"),
    )


_REPETITION_SQL = """
WITH toks AS (
  SELECT doc_id,
         string_split_regex(lower(trim(text)), '\\s+') AS w,
         CASE WHEN trim(text) = '' THEN 0
              ELSE len(string_split_regex(lower(trim(text)), '\\s+')) END AS n_tokens
  FROM documents
), bg AS (
  SELECT doc_id, array_to_string(w[i:i+1], ' ') AS bigram
  FROM toks, unnest(generate_series(1, len(w) - 1)) AS t(i)
  WHERE n_tokens >= 2
), topb AS (
  SELECT doc_id, max(cnt) AS top_bigram_count, sum(cnt) AS n_bigrams
  FROM (SELECT doc_id, bigram, count(*) AS cnt FROM bg GROUP BY 1, 2)
  GROUP BY 1
)
SELECT t.doc_id, t.n_tokens,
       (round((t.n_tokens - CASE WHEN t.n_tokens = 0 THEN 0 ELSE len(list_distinct(t.w)) END)
             * 1.0 / greatest(t.n_tokens, 1), 6) + 0.0) AS dup_token_frac,
       coalesce(tb.top_bigram_count, 0) AS top_bigram_count,
       (round(coalesce(tb.top_bigram_count, 0) * 1.0
             / greatest(coalesce(tb.n_bigrams, 0), 1), 6) + 0.0) AS top_bigram_frac
FROM toks t LEFT JOIN topb tb USING (doc_id)"""


CHUNK_CHARS = 200
CHUNK_OVERLAP = 50


def _chunk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from whiterrabbit_spark.extensions import chunking as ck

    df = read_parquet_table(spark, sf_dir, "documents")
    out = ck.chunk_documents(
        df, "text", "doc_id",
        chunk_chars=CHUNK_CHARS, overlap_chars=CHUNK_OVERLAP,
    )
    return out.select(
        "doc_id", "chunk_idx", "chunk_start", "n_chunk_chars",
        F.md5("chunk_text").alias("chunk_md5"),
    )


_CHUNK_SQL = f"""
SELECT doc_id,
       ((pos - 1) // {CHUNK_CHARS - CHUNK_OVERLAP})::BIGINT AS chunk_idx,
       pos::BIGINT AS chunk_start,
       length(substr(text, pos, {CHUNK_CHARS})) AS n_chunk_chars,
       md5(substr(text, pos, {CHUNK_CHARS})) AS chunk_md5
FROM documents,
     unnest(generate_series(1, greatest(length(text), 1),
                            {CHUNK_CHARS - CHUNK_OVERLAP})) AS t(pos)"""


RANGE_WINDOW_S = 21_600  # 6 h lookback — events are sparse per user (TESTDATA)


def _range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join via bucketized equi-join: click context within the 6 h
    before each error, per user. Aggregated per error event so the result
    stays compact; the oracle recomputes pairs with the plain inequality
    join this operator avoids at scale."""
    from whiterrabbit_spark.extensions import joins as J

    events = read_parquet_table(spark, sf_dir, "events")
    errors = events.where(F.col("event_type") == "error").select(
        "user_id", "ts", "event_id"
    )
    clicks = events.where(F.col("event_type") == "click").select(
        "user_id", "ts", "value"
    )
    out = J.range_join_buckets(
        errors, clicks, time_col="ts", by="user_id", window_s=RANGE_WINDOW_S
    )
    return out.groupBy("event_id").agg(
        F.count(F.lit(1)).alias("n_context"),
        F.round(F.sum("right_value"), R).alias("sum_context_value"),
    )


_RANGE_JOIN_SQL = f"""
SELECT l.event_id,
       count(*) AS n_context,
       (round(sum(r.value), 6) + 0.0) AS sum_context_value
FROM events l JOIN events r
  ON l.user_id = r.user_id
 AND l.event_type = 'error' AND r.event_type = 'click'
 AND epoch(l.ts) - epoch(r.ts) >= 0
 AND epoch(l.ts) - epoch(r.ts) < {RANGE_WINDOW_S}
GROUP BY 1"""


def _dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs → clusters: iterative min-label propagation
    (connected components) over the simhash pair graph. The oracle walks
    the same graph with a DuckDB RECURSIVE CTE — an independent
    construction of reachability."""
    docs = read_parquet_table(spark, sf_dir, "documents")
    pairs = X.simhash_near_pairs(docs, "text", "doc_id", max_hamming=3,
                                 max_bucket_size=2_000)
    return X.dedup_clusters(pairs)


def _dedup_clusters_sql() -> str:
    return f"""
WITH RECURSIVE pairs AS ({_simhash_sql()}),
edges AS (
  SELECT id1 AS a, id2 AS b FROM pairs
  UNION ALL
  SELECT id2 AS a, id1 AS b FROM pairs
),
reach(node, lbl) AS (
  SELECT a, a FROM edges
  UNION
  SELECT e.b, r.lbl FROM reach r JOIN edges e ON e.a = r.node
),
cc AS (
  SELECT node, min(lbl) AS cluster_id FROM reach GROUP BY node
)
SELECT cluster_id,
       count(*) AS cluster_size,
       min(node) AS representative_id,
       max(node) AS max_member_id
FROM cc GROUP BY cluster_id"""


_SPAN_K = 10


def _dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document exact-substring catalog (dedup.duplicated_spans,
    k=10 tokens): the detection pass of Lee-et-al-style exact substring
    dedup — hashed overlapping k-grams, one linear groupBy, example
    text via a broadcast join-back of the top-20 hashes."""
    docs = read_parquet_table(spark, sf_dir, "documents")
    return X.duplicated_spans(docs, "text", "doc_id", k=_SPAN_K)


def _dup_spans_sql() -> str:
    km1 = _SPAN_K - 1
    return f"""
WITH t AS (
  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS toks
  FROM documents
), s AS (
  SELECT doc_id,
         md5(array_to_string(toks[i:i+{km1}], ' ')) AS span_hash,
         array_to_string(toks[i:i+{km1}], ' ') AS span_text
  FROM t, LATERAL unnest(generate_series(1, len(toks) - {km1})) AS u(i)
), top AS (
  SELECT span_hash, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
         CAST(count(*) AS BIGINT) AS n_occurrences
  FROM s GROUP BY span_hash HAVING count(DISTINCT doc_id) >= 2
  ORDER BY n_occurrences DESC, n_docs DESC, span_hash LIMIT 20
)
SELECT span_hash, n_docs, n_occurrences, min(span_text) AS example
FROM top JOIN s USING (span_hash)
GROUP BY span_hash, n_docs, n_occurrences
ORDER BY n_occurrences DESC, n_docs DESC, span_hash"""


def _dup_span_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source duplicated-substring exposure
    (dedup.duplicated_span_coverage): fraction of each doc's tokens
    under the union of its corpus-duplicated 10-token spans (interval
    union via per-doc lag window), rolled up per source."""
    docs = read_parquet_table(spark, sf_dir, "documents")
    return X.duplicated_span_coverage(docs, "text", "doc_id", "source",
                                      k=_SPAN_K)


def _dup_span_coverage_sql() -> str:
    k, km1 = _SPAN_K, _SPAN_K - 1
    return f"""
WITH t AS (
  SELECT doc_id, source,
         regexp_split_to_array(lower(trim(text)), '\\s+') AS toks
  FROM documents
), s AS (
  SELECT doc_id, i - 1 AS pos,
         md5(array_to_string(toks[i:i+{km1}], ' ')) AS h
  FROM t, LATERAL unnest(generate_series(1, len(toks) - {km1})) AS u(i)
), dup AS (
  SELECT h FROM s GROUP BY h HAVING count(DISTINCT doc_id) >= 2
), cov AS (
  SELECT doc_id,
         sum(CASE WHEN prev IS NULL THEN {k}
                  ELSE least(pos - prev, {k}) END) AS dup_tokens
  FROM (
    SELECT doc_id, pos,
           lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
    FROM s JOIN dup USING (h)
  ) GROUP BY doc_id
), per AS (
  SELECT t.source AS "group",
         coalesce(cov.dup_tokens, 0)
           / greatest(len(t.toks), 1)::DOUBLE AS frac
  FROM t LEFT JOIN cov USING (doc_id)
)
SELECT "group", CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN frac > 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS docs_with_dups,
       (round(avg(frac), 6) + 0.0) AS mean_dup_frac,
       (round(max(frac), 6) + 0.0) AS max_dup_frac
FROM per GROUP BY "group" ORDER BY "group" """


def _substring_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring scrub rollup (dedup.substring_scrub, k=10): the
    REMOVAL pass of Lee-et-al exact substring dedup — every duplicated
    10-token span cut from all but its corpus-first occurrence
    (keep-first by (doc_id, pos), interval-union within doc), rolled up
    per source. The per-doc scrubbed text itself is the operator's
    output; the registry entry aggregates it so the result is small and
    hash-stable."""
    docs = read_parquet_table(spark, sf_dir, "documents")
    per_doc = X.substring_scrub(
        docs, "text", "doc_id", k=_SPAN_K, min_docs=2,
        keep_cols=("source",),
    )
    return (
        per_doc.groupBy(F.col("source").alias("group"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum((F.col("n_tokens_removed") > 0).cast("long")).alias(
                "docs_scrubbed"
            ),
            F.sum("n_tokens").alias("n_tokens"),
            F.sum("n_tokens_removed").alias("n_tokens_removed"),
            F.round(
                F.sum("n_tokens_removed")
                / F.greatest(F.sum("n_tokens"), F.lit(1)).cast("double"),
                6,
            ).alias("removed_frac"),
        )
        .orderBy("group")
    )


def _substring_scrub_sql() -> str:
    k, km1 = _SPAN_K, _SPAN_K - 1
    return f"""
WITH t AS (
  SELECT doc_id, source,
         regexp_split_to_array(lower(trim(text)), '\\s+') AS toks
  FROM documents
), s AS (
  SELECT doc_id, i - 1 AS pos,
         md5(array_to_string(toks[i:i+{km1}], ' ')) AS h
  FROM t, LATERAL unnest(generate_series(1, len(toks) - {km1})) AS u(i)
), dup AS (
  SELECT h FROM s GROUP BY h HAVING count(DISTINCT doc_id) >= 2
), d AS (
  SELECT doc_id, pos,
         row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn
  FROM s JOIN dup USING (h)
), rem AS (
  SELECT doc_id, pos FROM d WHERE rn > 1
), m AS (
  SELECT doc_id, pos,
         max(pos + {k}) OVER (PARTITION BY doc_id ORDER BY pos
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS maxend
  FROM rem
), g AS (
  SELECT doc_id, pos,
         sum(CASE WHEN maxend IS NULL OR pos > maxend THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY pos
                 ROWS UNBOUNDED PRECEDING) AS grp
  FROM m
), iv AS (
  SELECT doc_id, min(pos) AS a, max(pos) + {k} AS b
  FROM g GROUP BY doc_id, grp
), rd AS (
  SELECT doc_id, sum(b - a) AS removed FROM iv GROUP BY doc_id
), per AS (
  SELECT t.source AS "group", len(t.toks) AS n_tokens,
         coalesce(rd.removed, 0) AS removed
  FROM t LEFT JOIN rd USING (doc_id)
)
SELECT "group", CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN removed > 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS docs_scrubbed,
       CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
       CAST(sum(removed) AS BIGINT) AS n_tokens_removed,
       (round(sum(removed) / greatest(sum(n_tokens), 1)::DOUBLE, 6) + 0.0)
         AS removed_frac
FROM per GROUP BY "group" ORDER BY "group" """


def _decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-vs-benchmark n-gram decontamination audit
    (dedup.benchmark_contamination, k=10): per-source fraction of
    training tokens covered by spans that also appear in the benchmark
    corpus — here the 'src0' slice plays the eval set and every other
    source is the training corpus. Benchmark hashes broadcast; the
    corpus span table never shuffles for the match."""
    docs = read_parquet_table(spark, sf_dir, "documents")
    bench = docs.where(F.col("source") == "src0")
    corpus = docs.where(F.col("source") != "src0")
    return X.benchmark_contamination(
        corpus, bench, "text", "doc_id", "source", k=_SPAN_K
    )


def _decontamination_sql() -> str:
    k, km1 = _SPAN_K, _SPAN_K - 1
    return f"""
WITH t AS (
  SELECT doc_id, source,
         regexp_split_to_array(lower(trim(text)), '\\s+') AS toks
  FROM documents
), s AS (
  SELECT doc_id, source, i - 1 AS pos,
         md5(array_to_string(toks[i:i+{km1}], ' ')) AS h
  FROM t, LATERAL unnest(generate_series(1, len(toks) - {km1})) AS u(i)
), bh AS (
  SELECT DISTINCT h FROM s WHERE source = 'src0'
), cov AS (
  SELECT doc_id,
         sum(CASE WHEN prev IS NULL THEN {k}
                  ELSE least(pos - prev, {k}) END) AS hit
  FROM (
    SELECT s.doc_id, s.pos,
           lag(s.pos) OVER (PARTITION BY s.doc_id ORDER BY s.pos) AS prev
    FROM s JOIN bh USING (h) WHERE s.source <> 'src0'
  ) GROUP BY doc_id
), per AS (
  SELECT t.source AS "group",
         coalesce(cov.hit, 0)
           / greatest(len(t.toks), 1)::DOUBLE AS frac
  FROM t LEFT JOIN cov USING (doc_id) WHERE t.source <> 'src0'
)
SELECT "group", CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN frac > 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS docs_contaminated,
       (round(avg(frac), 6) + 0.0) AS mean_overlap_frac,
       (round(max(frac), 6) + 0.0) AS max_overlap_frac
FROM per GROUP BY "group" ORDER BY "group" """


NZV_COLS = [
    "l_returnflag", "l_linestatus", "l_tax", "l_quantity",
    "l_linenumber", "l_extendedprice",
]


def _nzv_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-zero-variance feature screen (profile.nzv_screen, caret
    semantics): top1/top2 frequency ratio + percent-unique per column,
    all columns melted out of one scan."""
    from whiterrabbit_spark.profile import nzv_screen

    li = read_parquet_table(spark, sf_dir, "lineitem")
    return nzv_screen(li, NZV_COLS)


def _nzv_screen_sql() -> str:
    parts = []
    for c in NZV_COLS:
        parts.append(f"""
SELECT '{c}' AS column_name,
       CAST(coalesce(sum(cnt), 0) AS BIGINT) AS n_rows,
       CAST(coalesce(count(*), 0) AS BIGINT) AS n_distinct,
       max(CASE WHEN rk = 1 THEN v END) AS top_value,
       max(CASE WHEN rk = 1 THEN cnt END) AS top_count,
       max(CASE WHEN rk = 2 THEN cnt END) AS second_count,
       CASE WHEN max(CASE WHEN rk = 2 THEN cnt END) IS NOT NULL
            THEN (round(max(CASE WHEN rk = 1 THEN cnt END)
                       / max(CASE WHEN rk = 2 THEN cnt END)::DOUBLE, 6) + 0.0)
       END AS freq_ratio,
       (round(count(*) / greatest(sum(cnt), 1)::DOUBLE, 6) + 0.0) AS pct_unique,
       CAST(CASE WHEN coalesce(
                 (round(max(CASE WHEN rk = 1 THEN cnt END)
                       / max(CASE WHEN rk = 2 THEN cnt END)::DOUBLE, 6) + 0.0)
                 >= 19.0, TRUE)
             AND (round(count(*) / greatest(sum(cnt), 1)::DOUBLE, 6) + 0.0) <= 0.1
            THEN 1 ELSE 0 END AS BIGINT) AS near_zero_var
FROM (
  SELECT v, cnt, row_number() OVER (ORDER BY cnt DESC, v) AS rk
  FROM (
    SELECT CAST({c} AS VARCHAR) AS v, count(*) AS cnt FROM lineitem
    WHERE {c} IS NOT NULL GROUP BY 1
  )
)""")
    return " UNION ALL ".join(parts)


_DECAY_HALFLIFE_S = 3600.0


def _attribution_decay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-decay conversion attribution
    (sequences.attribution_decay): touches before each user's first
    purchase earn 0.5^(Δt/1h), normalized to one credit per converter;
    touchless converters credit '(none)' — the standard middle ground
    between first- and last-touch."""
    from whiterrabbit_spark.extensions.sequences import attribution_decay

    ev = read_parquet_table(spark, sf_dir, "events")
    return attribution_decay(ev, "purchase", _DECAY_HALFLIFE_S)


def _attribution_decay_sql() -> str:
    return f"""
WITH conv AS (
  SELECT user_id, min(epoch(ts)) AS tc FROM events
  WHERE event_type = 'purchase' GROUP BY user_id
), touches AS (
  SELECT e.user_id, e.event_type AS channel,
         pow(0.5, (c.tc - epoch(e.ts)) / {_DECAY_HALFLIFE_S}) AS w
  FROM events e JOIN conv c USING (user_id)
  WHERE e.event_type <> 'purchase' AND epoch(e.ts) < c.tc
), credited AS (
  SELECT channel, user_id,
         w / sum(w) OVER (PARTITION BY user_id) AS credit
  FROM touches
), per AS (
  SELECT channel, (round(sum(credit), 6) + 0.0) AS credit,
         CAST(count(*) AS BIGINT) AS n_touches,
         CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
  FROM credited GROUP BY channel
), tl AS (
  -- NOT EXISTS, not NOT IN: a NULL converting user_id must count as
  -- touchless (anti-join semantics Spark-side); NOT IN would drop it
  SELECT count(*) AS n FROM conv
  WHERE NOT EXISTS (SELECT 1 FROM touches t WHERE t.user_id = conv.user_id)
)
SELECT * FROM per
UNION ALL
SELECT '(none)', n::DOUBLE, CAST(0 AS BIGINT), CAST(n AS BIGINT)
FROM tl WHERE n > 0
ORDER BY channel"""


def _percentile_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly P50/P95/P99 value bands per event type
    (profile.percentile_bands): the observability tail-latency rollup —
    exact type-7 quantiles from the per-cell value histogram."""
    from whiterrabbit_spark.profile import percentile_bands

    ev = read_parquet_table(spark, sf_dir, "events")
    out = percentile_bands(ev, "ts", "value", "event_type")
    return out.select(
        "bucket_ts", "segment", "n",
        F.round("q_0_5", R).alias("q_0_5"),
        F.round("q_0_95", R).alias("q_0_95"),
        F.round("q_0_99", R).alias("q_0_99"),
    )


def _percentile_bands_sql() -> str:
    return f"""
SELECT date_trunc('hour', ts) AS bucket_ts, event_type AS segment,
       CAST(count(*) AS BIGINT) AS n,
       (round(quantile_cont(value, 0.5), {R}) + 0.0) AS q_0_5,
       (round(quantile_cont(value, 0.95), {R}) + 0.0) AS q_0_95,
       (round(quantile_cont(value, 0.99), {R}) + 0.0) AS q_0_99
FROM events WHERE value IS NOT NULL
GROUP BY 1, 2 ORDER BY 1, 2"""


def _encoding_artifacts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source encoding-damage audit (textstats.encoding_artifacts):
    mojibake fingerprints, U+FFFD replacement chars, C0 control bytes,
    worst non-ASCII ratio — one projection + one bounded groupBy."""
    from whiterrabbit_spark.extensions.textstats import encoding_artifacts

    docs = read_parquet_table(spark, sf_dir, "documents")
    return encoding_artifacts(docs, "text", "doc_id", "source")


def _encoding_artifacts_sql() -> str:
    return r"""
WITH per AS (
  SELECT source AS "group",
         length(t) AS n,
         length(t) - length(replace(t, '�', '')) AS repl,
         length(t) - length(regexp_replace(t,
             '[\x00-\x08\x0B\x0C\x0E-\x1F]', '', 'g')) AS ctrl,
         len(regexp_extract_all(t, 'Ã[^ \t\n\x0B\f\r]|â€')) AS moji,
         CASE WHEN length(t) > 0
              THEN (length(t) - length(regexp_replace(t,
                   '[^\x09\x0A\x0D\x20-\x7E]', '', 'g')))
                   / length(t)::DOUBLE
              ELSE 0.0 END AS na_ratio
  FROM (SELECT source, coalesce(text, '') AS t FROM documents)
)
SELECT "group", CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n) AS BIGINT) AS n_chars,
       CAST(sum(CASE WHEN repl > 0 OR ctrl > 0 OR moji > 0
                     THEN 1 ELSE 0 END) AS BIGINT) AS docs_flagged,
       CAST(sum(repl) AS BIGINT) AS repl_chars,
       CAST(sum(ctrl) AS BIGINT) AS ctrl_chars,
       CAST(sum(moji) AS BIGINT) AS mojibake_seqs,
       (round(max(na_ratio), 6) + 0.0) AS max_non_ascii_ratio
FROM per GROUP BY "group" ORDER BY "group" """


def _grouped_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group profile: events value/user_id stats segmented by
    event_type — one grouped wide agg, single shuffle."""
    from whiterrabbit_spark.profile import profile_table_grouped

    df = read_parquet_table(spark, sf_dir, "events")
    out = profile_table_grouped(df, "event_type", ["value", "user_id"], CFG)
    return out.select(
        "event_type", "column_name", "total_count", "non_missing_count",
        "missing_count",
        F.round("min_val", R).alias("min_val"),
        F.round("max_val", R).alias("max_val"),
        F.round("mean_val", R).alias("mean_val"),
        F.round("sd_val", R).alias("sd_val"),
        F.round("q1_val", R).alias("q1_val"),
        F.round("median_val", R).alias("median_val"),
        F.round("q3_val", R).alias("q3_val"),
    )


def _grouped_profile_sql() -> str:
    parts = []
    for c in ("value", "user_id"):
        parts.append(f"""
SELECT event_type, '{c}' AS column_name,
       count(*) AS total_count,
       count({c}) AS non_missing_count,
       count(*) - count({c}) AS missing_count,
       (round(min({c})::DOUBLE, {R}) + 0.0) AS min_val,
       (round(max({c})::DOUBLE, {R}) + 0.0) AS max_val,
       (round(avg({c}::DOUBLE), {R}) + 0.0) AS mean_val,
       (round(stddev_samp({c}::DOUBLE), {R}) + 0.0) AS sd_val,
       (round(quantile_cont({c}::DOUBLE, 0.25), {R}) + 0.0) AS q1_val,
       (round(quantile_cont({c}::DOUBLE, 0.5), {R}) + 0.0) AS median_val,
       (round(quantile_cont({c}::DOUBLE, 0.75), {R}) + 0.0) AS q3_val
FROM events GROUP BY event_type""")
    return "\nUNION ALL\n".join(parts)


HIST_BINS = 20


def _histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram of l_extendedprice: bounds pass + one bucket
    groupBy. Both engines compute identical IEEE double bucket arithmetic,
    so bucket assignment matches bit-for-bit."""
    from whiterrabbit_spark.profile import equi_width_histogram

    df = read_parquet_table(spark, sf_dir, "lineitem")
    out = equi_width_histogram(df, "l_extendedprice", HIST_BINS)
    return out.select(
        "bucket",
        F.round("bucket_lo", R).alias("bucket_lo"),
        F.round("bucket_hi", R).alias("bucket_hi"),
        "n_rows",
    )


_HIST_SQL = f"""
WITH b AS (
  SELECT min(l_extendedprice::DOUBLE) AS lo, max(l_extendedprice::DOUBLE) AS hi
  FROM lineitem
), w AS (
  SELECT lo, hi,
         CASE WHEN hi > lo THEN (hi - lo) / {HIST_BINS} ELSE 1.0 END AS width
  FROM b
), bucketed AS (
  SELECT least(floor((l_extendedprice::DOUBLE - w.lo) / w.width),
               {HIST_BINS - 1})::BIGINT AS bucket
  FROM lineitem, w
  WHERE l_extendedprice IS NOT NULL
)
SELECT bucket,
       (round(w.lo + bucket * w.width, 6) + 0.0) AS bucket_lo,
       (round(w.lo + (bucket + 1) * w.width, 6) + 0.0) AS bucket_hi,
       count(*) AS n_rows
FROM bucketed, w
GROUP BY bucket, w.lo, w.width"""


def _corpus_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-card summary of the documents corpus in ONE enriched scan +
    one aggregation (plus the exact-distinct fingerprint job): volume
    (docs/chars/BPE tokens), language spread, quality-class mix, and the
    exact-duplicate rate — the one-row overview a training-data curator
    reads before anything else."""
    docs = read_parquet_table(spark, sf_dir, "documents")
    t = F.col("text")
    q = ts.quality_exprs(t)
    lang, _ = ts.lang_id_exprs(t)
    enriched = docs.select(
        "doc_id",
        "n_chars",
        ts.bpe_token_count(t).alias("n_bpe"),
        q["quality_class"].alias("qc"),
        lang.alias("lang"),
        ts.fingerprint_expr(t).alias("fp"),
    )
    row = enriched.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.sum("n_bpe").alias("total_bpe_tokens"),
        F.count_distinct("lang").alias("n_langs"),
        F.count(F.when(F.col("qc") == "keep", 1)).alias("n_keep"),
        F.count(F.when(F.col("qc") == "review", 1)).alias("n_review"),
        F.count(F.when(F.col("qc") == "drop", 1)).alias("n_drop"),
        F.count_distinct("fp").alias("n_unique"),
    ).collect()[0]
    dup_rate = (
        round(1 - row["n_unique"] / row["n_docs"], R) if row["n_docs"] else 0.0
    )
    return spark.createDataFrame(
        [(row["n_docs"], row["total_chars"], row["total_bpe_tokens"],
          row["n_langs"], row["n_keep"], row["n_review"], row["n_drop"],
          row["n_unique"], dup_rate)],
        "n_docs long, total_chars long, total_bpe_tokens long, n_langs long, "
        "n_keep long, n_review long, n_drop long, n_unique long, dup_rate double",
    )


def _corpus_report_sql() -> str:
    lang = _lang_id_sql().strip()
    bpe = ts.BPE_TOKEN_RE.replace("'", "''")
    return f"""
WITH {_quality_core_sql()},
lid AS ({lang}),
enriched AS (
  SELECT d.doc_id, d.n_chars,
         len(regexp_extract_all(d.text, '{bpe}')) AS n_bpe,
         q.quality_class AS qc,
         l.detected_lang AS lang,
         md5(regexp_replace(lower(trim(d.text)), '\\s+', ' ', 'g')) AS fp
  FROM documents d
  JOIN sc q ON q.doc_id = d.doc_id
  JOIN lid l ON l.doc_id = d.doc_id
)
SELECT count(*) AS n_docs,
       sum(n_chars)::BIGINT AS total_chars,
       sum(n_bpe)::BIGINT AS total_bpe_tokens,
       count(DISTINCT lang) AS n_langs,
       count(CASE WHEN qc = 'keep' THEN 1 END) AS n_keep,
       count(CASE WHEN qc = 'review' THEN 1 END) AS n_review,
       count(CASE WHEN qc = 'drop' THEN 1 END) AS n_drop,
       count(DISTINCT fp) AS n_unique,
       (round(1 - count(DISTINCT fp) * 1.0 / count(*), 6) + 0.0) AS dup_rate
FROM enriched"""


TFIDF_K = 3


def _tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = read_parquet_table(spark, sf_dir, "documents")
    out = ts.tfidf_top_terms(df, "text", "doc_id", k=TFIDF_K)
    return out.select(
        "doc_id", "term", F.round("tfidf", R).alias("tfidf"), "rank"
    )


_TFIDF_SQL = f"""
WITH toks AS (
  SELECT doc_id, unnest(list_filter(
           string_split_regex(lower(trim(text)), '\\s+'), t -> t <> '')) AS term
  FROM documents
), tf AS (
  SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2
), dfreq AS (
  SELECT term, count(*) AS df FROM tf GROUP BY 1
), n AS (
  SELECT count(*)::DOUBLE AS n_docs FROM documents
), scored AS (
  SELECT tf.doc_id, tf.term,
         tf.tf * ln(n.n_docs / (1 + dfreq.df)) AS tfidf
  FROM tf JOIN dfreq USING (term), n
), ranked AS (
  SELECT doc_id, term, tfidf,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY tfidf DESC, term ASC) AS "rank"
  FROM scored
)
SELECT doc_id, term, (round(tfidf, 6) + 0.0) AS tfidf, "rank"
FROM ranked WHERE "rank" <= {TFIDF_K}"""


DRIFT_COLS = ["o_totalprice", "o_custkey"]


def _drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Profile drift between the two halves of orders (o_orderkey below/at
    the midpoint — a scale-invariant stand-in for two daily partitions)."""
    from whiterrabbit_spark.profile import profile_drift

    df = read_parquet_table(spark, sf_dir, "orders")
    split = df.agg((F.max("o_orderkey") / 2).alias("m")).collect()[0]["m"]
    a = df.where(F.col("o_orderkey") < split)
    b = df.where(F.col("o_orderkey") >= split)
    out = profile_drift(a, b, DRIFT_COLS)
    return out.select(
        "column_name",
        F.round("missing_rate_a", R).alias("missing_rate_a"),
        F.round("missing_rate_b", R).alias("missing_rate_b"),
        F.round("mean_a", R).alias("mean_a"),
        F.round("mean_b", R).alias("mean_b"),
        F.round("mean_delta", R).alias("mean_delta"),
        F.round("sd_a", R).alias("sd_a"),
        F.round("sd_b", R).alias("sd_b"),
    )


def _drift_sql() -> str:
    parts = []
    for c in DRIFT_COLS:
        parts.append(f"""
SELECT '{c}' AS column_name,
       (round((a_total - a_n) * 1.0 / a_total, 6) + 0.0) AS missing_rate_a,
       (round((b_total - b_n) * 1.0 / b_total, 6) + 0.0) AS missing_rate_b,
       (round(a_mean, 6) + 0.0) AS mean_a,
       (round(b_mean, 6) + 0.0) AS mean_b,
       (round(b_mean - a_mean, 6) + 0.0) AS mean_delta,
       (round(a_sd, 6) + 0.0) AS sd_a,
       (round(b_sd, 6) + 0.0) AS sd_b
FROM (
  SELECT
    count(CASE WHEN o_orderkey < split THEN 1 END) AS a_total,
    count(CASE WHEN o_orderkey >= split THEN 1 END) AS b_total,
    count(CASE WHEN o_orderkey < split THEN {c} END) AS a_n,
    count(CASE WHEN o_orderkey >= split THEN {c} END) AS b_n,
    avg(CASE WHEN o_orderkey < split THEN {c}::DOUBLE END) AS a_mean,
    avg(CASE WHEN o_orderkey >= split THEN {c}::DOUBLE END) AS b_mean,
    stddev_samp(CASE WHEN o_orderkey < split THEN {c}::DOUBLE END) AS a_sd,
    stddev_samp(CASE WHEN o_orderkey >= split THEN {c}::DOUBLE END) AS b_sd
  FROM orders, (SELECT max(o_orderkey) / 2.0 AS split FROM orders) s
)""")
    return "\nUNION ALL\n".join(parts)


OUTLIER_COLS = ["o_totalprice", "o_custkey"]


def _outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey-fence outlier counts on orders — quartile pass then fence-count
    pass, both single-scan aggs. Fences rounded 6dp on both sides (they are
    derived doubles; the counts use the unrounded fences on both engines
    via identical quantile arithmetic)."""
    from whiterrabbit_spark.profile import iqr_outlier_counts

    df = read_parquet_table(spark, sf_dir, "orders")
    out = iqr_outlier_counts(df, OUTLIER_COLS)
    return out.select(
        "column_name",
        F.round("fence_lo", R).alias("fence_lo"),
        F.round("fence_hi", R).alias("fence_hi"),
        "n_below", "n_above", "n_rows",
    )


def _outliers_sql() -> str:
    parts = []
    for c in OUTLIER_COLS:
        parts.append(f"""
SELECT '{c}' AS column_name,
       (round(q1 - 1.5 * (q3 - q1), 6) + 0.0) AS fence_lo,
       (round(q3 + 1.5 * (q3 - q1), 6) + 0.0) AS fence_hi,
       (SELECT count(*) FROM orders
         WHERE {c}::DOUBLE < q1 - 1.5 * (q3 - q1)) AS n_below,
       (SELECT count(*) FROM orders
         WHERE {c}::DOUBLE > q3 + 1.5 * (q3 - q1)) AS n_above,
       (SELECT count({c}) FROM orders) AS n_rows
FROM (
  SELECT quantile_cont({c}::DOUBLE, 0.25) AS q1,
         quantile_cont({c}::DOUBLE, 0.75) AS q3
  FROM orders
)""")
    return "\nUNION ALL\n".join(parts)


CORR_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]


def _corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    from whiterrabbit_spark.profile import corr_matrix

    df = read_parquet_table(spark, sf_dir, "lineitem")
    out = corr_matrix(df, CORR_COLS)
    return out.select("col_a", "col_b", F.round("corr", R).alias("corr"))


def _corr_sql() -> str:
    pairs = [
        (a, b) for i, a in enumerate(CORR_COLS) for b in CORR_COLS[i + 1:]
    ]
    parts = [
        f"SELECT '{a}' AS col_a, '{b}' AS col_b, "
        f"(round(corr({a}::DOUBLE, {b}::DOUBLE), 6) + 0.0) AS corr FROM lineitem"
        for a, b in pairs
    ]
    return "\nUNION ALL\n".join(parts)


PACK_BUDGET = 2048  # tokens per training shard


def _pack_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget shard packing via distributed prefix sum. Weights are
    integer token counts, so the distributed partial sums and the oracle's
    sequential window cumsum agree exactly (integer-valued doubles —
    no float-order divergence)."""
    from whiterrabbit_spark.extensions import splits as sp

    docs = read_parquet_table(spark, sf_dir, "documents")
    weighted = docs.select(
        "doc_id", ts.bpe_token_count(F.col("text")).alias("n_tokens")
    )
    out = sp.pack_shards(weighted, "doc_id", "n_tokens", budget=PACK_BUDGET)
    return out.select("doc_id", "n_tokens", "shard_id")


_PACK_SQL = f"""
WITH w AS (
  SELECT doc_id,
         len(regexp_extract_all(text, '{ts.BPE_TOKEN_RE.replace("'", "''")}')) AS n_tokens
  FROM documents
), c AS (
  SELECT doc_id, n_tokens,
         sum(n_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) - n_tokens AS start_off
  FROM w
)
SELECT doc_id, n_tokens, floor(start_off / {PACK_BUDGET}.0)::BIGINT AS shard_id
FROM c"""


def _pack_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shard MANIFEST on top of pack_shards: one row per training shard
    with its ordered doc list and token total — what a sequence-packing
    data loader consumes. One extra groupBy(shard_id) over the packed
    frame (O(docs) → O(shards)); doc order inside a shard is the pack
    order (ascending id), pinned with sort_array."""
    from whiterrabbit_spark.extensions import splits as sp

    docs = read_parquet_table(spark, sf_dir, "documents")
    weighted = docs.select(
        "doc_id", ts.bpe_token_count(F.col("text")).alias("n_tokens")
    )
    packed = sp.pack_shards(weighted, "doc_id", "n_tokens", budget=PACK_BUDGET)
    return (
        packed.groupBy("shard_id")
        .agg(
            # csv rather than array<bigint>: keeps every result column in
            # the driver-hashable scalar set (see _normalize_result_types)
            F.concat_ws(
                ",", F.sort_array(F.collect_list("doc_id"))
            ).alias("doc_ids"),
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
        )
        .select("shard_id", "doc_ids", "n_docs", "total_tokens")
    )


_PACK_MANIFEST_SQL_TMPL = """
WITH w AS (
  SELECT doc_id,
         len(regexp_extract_all(text, '__BPE__')) AS n_tokens
  FROM documents
), c AS (
  SELECT doc_id, n_tokens,
         sum(n_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) - n_tokens AS start_off
  FROM w
)
SELECT floor(start_off / __BUDGET__.0)::BIGINT AS shard_id,
       string_agg(doc_id::VARCHAR, ',' ORDER BY doc_id) AS doc_ids,
       count(*) AS n_docs,
       sum(n_tokens)::BIGINT AS total_tokens
FROM c GROUP BY 1"""


_PACK_MANIFEST_SQL = (
    _PACK_MANIFEST_SQL_TMPL
    .replace("__BPE__", ts.BPE_TOKEN_RE.replace("'", "''"))
    .replace("__BUDGET__", str(PACK_BUDGET))
)


def _novel_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-ingest novelty: the newer half of documents (doc_id
    above the midpoint — scale-invariant split) anti-joined against the
    older half's fingerprint set (broadcast anti-join)."""
    docs = read_parquet_table(spark, sf_dir, "documents")
    split = docs.agg((F.max("doc_id") / 2).alias("m")).collect()[0]["m"]
    seen = docs.where(F.col("doc_id") < split)
    new = docs.where(F.col("doc_id") >= split)
    return X.novel_documents(new, seen)


_NOVEL_SQL = """
WITH fp AS (
  SELECT doc_id,
         md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fingerprint
  FROM documents
), s AS (
  SELECT max(doc_id) / 2.0 AS split FROM documents
)
SELECT n.doc_id, n.fingerprint
FROM fp n, s
WHERE n.doc_id >= s.split
  AND NOT EXISTS (
    SELECT 1 FROM fp o, s
    WHERE o.doc_id < s.split AND o.fingerprint = n.fingerprint
  )"""


STRAT_FRACTIONS = {"en": 0.3, "de": 0.5, "fr": 1.0}  # zh/es: dropped strata


def _strat_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-threshold stratified sample — membership is a
    pure function of doc_id, so the oracle reproduces the EXACT row set
    (not just expected counts, which is all an RNG sampler can pin)."""
    from whiterrabbit_spark.extensions import splits as sp

    docs = read_parquet_table(spark, sf_dir, "documents")
    out = sp.hash_stratified_sample(docs, "lang", "doc_id", STRAT_FRACTIONS)
    return out.select("doc_id", "lang", "n_chars")


def _strat_sample_sql() -> str:
    keeps = " OR ".join(
        f"(lang = '{s}' AND bucket < {int((round(f * 10000) + 0.0))})"
        for s, f in STRAT_FRACTIONS.items()
    )
    return f"""
WITH b AS (
  SELECT doc_id, lang, n_chars,
         (('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT % 10000)::INT AS bucket
  FROM documents
)
SELECT doc_id, lang, n_chars FROM b WHERE {keeps}"""


def _embedding_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = read_parquet_table(spark, sf_dir, "embeddings")
    out = sim.embedding_stats(df)
    return out.select(
        "vec_id", "dim",
        F.round("l2_norm", R).alias("l2_norm"),
        F.round("vec_mean", R).alias("vec_mean"),
        F.round("vec_min", R).alias("vec_min"),
        F.round("vec_max", R).alias("vec_max"),
    )


_EMB_STATS_SQL = """
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS e FROM embeddings
)
SELECT vec_id, len(e) AS dim,
       (round(sqrt(list_dot_product(e, e)), 6) + 0.0) AS l2_norm,
       (round(list_sum(e) / len(e), 6) + 0.0) AS vec_mean,
       (round(list_min(e), 6) + 0.0) AS vec_min,
       (round(list_max(e), 6) + 0.0) AS vec_max
FROM v"""


# --------------------------------------------------------------------------
# Registry
# --------------------------------------------------------------------------

def _check_constraints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deequ-style constraint suite over orders in ONE agg scan
    (profile.check_constraints): nullability, key uniqueness, value
    bounds, domain membership, and a regex shape check."""
    from whiterrabbit_spark.profile import check_constraints

    orders = read_parquet_table(spark, sf_dir, "orders")
    return check_constraints(
        orders,
        [
            {"kind": "not_null", "column": "o_custkey"},
            {"kind": "unique", "column": "o_orderkey"},
            {"kind": "min_ge", "column": "o_totalprice", "value": 0.0},
            {"kind": "max_le", "column": "o_totalprice", "value": 1e9},
            {"kind": "in_set", "column": "o_orderstatus",
             "values": ["O", "F", "P"]},
            {"kind": "matches", "column": "o_orderpriority",
             "pattern": "^[1-5]-[A-Z]+$"},
        ],
    )


_CHECK_SQL = """
WITH m AS (
  SELECT count(CASE WHEN o_custkey IS NULL THEN 1 END)::DOUBLE AS c0,
         (count(o_orderkey) - count(DISTINCT o_orderkey))::DOUBLE AS c1,
         min(o_totalprice)::DOUBLE AS c2,
         max(o_totalprice)::DOUBLE AS c3,
         count(CASE WHEN o_orderstatus IS NOT NULL
                     AND o_orderstatus NOT IN ('O','F','P')
                    THEN 1 END)::DOUBLE AS c4,
         count(CASE WHEN o_orderpriority IS NOT NULL
                     AND NOT regexp_matches(o_orderpriority, '^[1-5]-[A-Z]+$')
                    THEN 1 END)::DOUBLE AS c5
  FROM orders
)
SELECT * FROM (
  SELECT 'not_null(o_custkey)' AS name, 'o_custkey' AS column,
         'not_null' AS kind, c0 AS observed, c0 = 0 AS passed FROM m
  UNION ALL
  SELECT 'unique(o_orderkey)', 'o_orderkey', 'unique', c1, c1 = 0 FROM m
  UNION ALL
  SELECT 'min_ge(o_totalprice)', 'o_totalprice', 'min_ge', c2,
         c2 >= 0.0 FROM m
  UNION ALL
  SELECT 'max_le(o_totalprice)', 'o_totalprice', 'max_le', c3,
         c3 <= 1e9 FROM m
  UNION ALL
  SELECT 'in_set(o_orderstatus)', 'o_orderstatus', 'in_set', c4,
         c4 = 0 FROM m
  UNION ALL
  SELECT 'matches(o_orderpriority)', 'o_orderpriority', 'matches', c5,
         c5 = 0 FROM m
)"""


def _edit_distance_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance verified near-dup pairs (dedup.edit_distance_pairs):
    Jaccard-banded candidates, threshold-accelerated JVM levenshtein;
    DuckDB's unit-cost levenshtein reproduces the distances exactly."""
    from whiterrabbit_spark.extensions import dedup as dd

    docs = read_parquet_table(spark, sf_dir, "documents")
    out = dd.edit_distance_pairs(
        docs, "text", "doc_id", max_dist=20, k=3, jaccard_floor=0.3
    )
    return out.select(
        "id1", "id2", F.round("jaccard", R).alias("jaccard"), "edit_distance"
    )


_EDIT_DIST_SQL = """
WITH toks AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS w
  FROM documents
), sh AS (
  SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS shingle
  FROM toks, unnest(generate_series(1, greatest(len(w)-2, 1))) AS t(i)
), sizes AS (
  SELECT doc_id, count(*) AS n FROM sh GROUP BY 1
), pairs AS (
  SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), cand AS (
  SELECT id1, id2,
         (round(inter * 1.0 / (s1.n + s2.n - inter), 6) + 0.0) AS jaccard
  FROM pairs
  JOIN sizes s1 ON id1 = s1.doc_id
  JOIN sizes s2 ON id2 = s2.doc_id
  WHERE inter * 1.0 / (s1.n + s2.n - inter) >= 0.3
)
SELECT c.id1, c.id2, c.jaccard,
       levenshtein(d1.text, d2.text) AS edit_distance
FROM cand c
JOIN documents d1 ON d1.doc_id = c.id1
JOIN documents d2 ON d2.doc_id = c.id2
WHERE levenshtein(d1.text, d2.text) <= 20"""


def _mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAD-based robust outlier counts on orders amounts
    (profile.mad_outlier_counts): exact percentiles agree bit-identically
    across engines (type-7 parity), and the threshold multiplication
    k*1.4826*mad associates left in both, so per-row comparisons are
    cross-engine exact."""
    from whiterrabbit_spark.profile import mad_outlier_counts

    orders = read_parquet_table(spark, sf_dir, "orders")
    out = mad_outlier_counts(orders, ["o_totalprice"], k=3.0)
    return out.select(
        "column",
        F.round("median_val", R).alias("median_val"),
        F.round("mad", R).alias("mad"),
        "n_outliers",
    )


_MAD_SQL = """
WITH m AS (
  SELECT quantile_cont(o_totalprice, 0.5) AS med FROM orders
), d AS (
  SELECT quantile_cont(abs(o_totalprice - m.med), 0.5) AS mad, m.med AS med
  FROM orders, m GROUP BY m.med
)
SELECT 'o_totalprice' AS column,
       (round(d.med, 6) + 0.0) AS median_val,
       (round(d.mad, 6) + 0.0) AS mad,
       sum(CASE WHEN abs(o_totalprice - d.med) > 3.0 * 1.4826 * d.mad
                THEN 1 ELSE 0 END)::BIGINT AS n_outliers
FROM orders, d
GROUP BY d.med, d.mad"""


def _fd_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-dependency discovery over candidate pairs
    (profile.functional_dependency): one groupBy(lhs) + count_distinct
    per pair. o_orderkey→o_custkey holds (PK); c_nationkey→c_mktsegment
    does not."""
    from whiterrabbit_spark.profile import functional_dependency

    orders = read_parquet_table(spark, sf_dir, "orders")
    customer = read_parquet_table(spark, sf_dir, "customer")
    a = functional_dependency(orders, "o_orderkey", "o_custkey").select(
        F.lit("o_orderkey->o_custkey").alias("fd"), "*"
    )
    b = functional_dependency(customer, "c_nationkey", "c_mktsegment").select(
        F.lit("c_nationkey->c_mktsegment").alias("fd"), "*"
    )
    return a.unionByName(b)


_FD_SQL = """
WITH a AS (
  SELECT count(DISTINCT coalesce(CAST(o_custkey AS VARCHAR), chr(1) || 'NULL'))
           AS nr, o_orderkey
  FROM orders GROUP BY o_orderkey
), b AS (
  SELECT count(DISTINCT coalesce(c_mktsegment, chr(1) || 'NULL')) AS nr,
         c_nationkey
  FROM customer GROUP BY c_nationkey
)
SELECT 'o_orderkey->o_custkey' AS fd, count(*) AS n_groups,
       coalesce(sum(CASE WHEN nr > 1 THEN 1 ELSE 0 END), 0)::BIGINT
         AS n_violating_groups,
       max(nr) AS max_rhs_per_lhs, max(nr) <= 1 AS fd_holds
FROM a
UNION ALL
SELECT 'c_nationkey->c_mktsegment', count(*),
       coalesce(sum(CASE WHEN nr > 1 THEN 1 ELSE 0 END), 0)::BIGINT,
       max(nr), max(nr) <= 1
FROM b"""


def _fk_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity profile of orders.o_custkey against
    customer.c_custkey (profile.fk_coverage): distinct-key-frame joins,
    one row out."""
    from whiterrabbit_spark.profile import fk_coverage

    orders = read_parquet_table(spark, sf_dir, "orders")
    customer = read_parquet_table(spark, sf_dir, "customer")
    out = fk_coverage(orders, customer, "o_custkey", "c_custkey")
    return out.select(
        "n_child", "n_parent", "n_child_orphans", "n_parent_unreferenced",
        F.round("orphan_frac", R).alias("orphan_frac"),
        F.round("referenced_frac", R).alias("referenced_frac"),
    )


_FK_COVERAGE_SQL = """
WITH ck AS (
  SELECT o_custkey AS k, count(*) AS n FROM orders GROUP BY 1
), pk AS (
  SELECT c_custkey AS k, count(*) AS pn FROM customer GROUP BY 1
), j AS (
  SELECT ck.n AS n, pk.pn AS pn
  FROM ck FULL JOIN pk ON ck.k = pk.k
)
SELECT coalesce(sum(n), 0)::BIGINT AS n_child,
       coalesce(sum(pn), 0)::BIGINT AS n_parent,
       coalesce(sum(CASE WHEN pn IS NULL THEN n END), 0)::BIGINT
         AS n_child_orphans,
       coalesce(sum(CASE WHEN n IS NULL THEN pn END), 0)::BIGINT
         AS n_parent_unreferenced,
       (round(coalesce(sum(CASE WHEN pn IS NULL THEN n END), 0) * 1.0
             / coalesce(sum(n), 0), 6) + 0.0) AS orphan_frac,
       (round((coalesce(sum(pn), 0)
              - coalesce(sum(CASE WHEN n IS NULL THEN pn END), 0)) * 1.0
             / coalesce(sum(pn), 0), 6) + 0.0) AS referenced_frac
FROM j"""


def _zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-score feature scaling of l_quantity (the oracle-pinned form of
    profile.normalize_columns): both engines standardize against the
    ROUNDED (6dp) mean/stddev so a last-ulp aggregation divergence cannot
    leak into the per-row outputs — the derive-from-agreed-rounded-stats
    pattern the profile means use."""
    li = read_parquet_table(spark, sf_dir, "lineitem")
    mu, sd = li.agg(
        F.round(F.avg("l_quantity"), R), F.round(F.stddev_samp("l_quantity"), R)
    ).first()
    return li.select(
        "l_orderkey", "l_linenumber",
        F.round(
            (F.col("l_quantity") - F.lit(float(mu))) / F.lit(float(sd)), R
        ).alias("qty_z"),
    )


_ZSCORE_SQL = """
WITH s AS (
  SELECT (round(avg(l_quantity), 6) + 0.0) AS mu,
         (round(stddev_samp(l_quantity), 6) + 0.0) AS sd
  FROM lineitem
)
SELECT l_orderkey, l_linenumber::BIGINT AS l_linenumber,
       (round((l_quantity - mu) / sd, 6) + 0.0) AS qty_z
FROM lineitem, s"""


def _robust_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust (median/IQR) scaling of l_quantity — outlier-insensitive
    standardization (a heavy-tailed feature's mean/sd are dominated by
    its tail; median/IQR aren't). Same derive-from-agreed-rounded-stats
    pattern as zscore, with the quartiles from the weighted-percentile-
    over-histogram trick (final task buffers |distinct|, not |rows|)."""
    li = read_parquet_table(spark, sf_dir, "lineitem")
    hist = (
        li.select(F.col("l_quantity").cast("double").alias("v"))
        .where(F.col("v").isNotNull())
        .groupBy("v").agg(F.count(F.lit(1)).alias("cnt"))
    )
    q = hist.agg(
        F.percentile(F.col("v"), F.lit([0.25, 0.5, 0.75]), F.col("cnt")).alias("q")
    ).first()["q"]
    q1, med, q3 = (round(float(x), R) for x in q)
    iqr = round(q3 - q1, R)
    return li.select(
        "l_orderkey", "l_linenumber",
        F.round(
            (F.col("l_quantity") - F.lit(med)) / F.lit(iqr), R
        ).alias("qty_robust"),
    )


_ROBUST_SCALE_SQL = """
WITH s AS (
  SELECT (round(quantile_cont(l_quantity, 0.5), 6) + 0.0) AS med,
         (round(round(quantile_cont(l_quantity, 0.75), 6)
               - round(quantile_cont(l_quantity, 0.25), 6), 6) + 0.0) AS iqr
  FROM lineitem
)
SELECT l_orderkey, l_linenumber::BIGINT AS l_linenumber,
       (round((l_quantity - med) / iqr, 6) + 0.0) AS qty_robust
FROM lineitem, s"""


def _json_schema_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON schema discovery (semistructured.json_schema_profile) over a
    synthetic variable-shape payload derived deterministically from
    events columns — to_json(struct(...)) drops null fields, so key
    presence and value type vary by row: ``t`` (string, every row),
    ``uid`` (int, user_id % 3 != 0), ``v`` (double, click/view rows),
    ``flag`` (boolean, even user_id). The profile must recover each
    key's presence count, row fraction and lexical type mix; the oracle
    reconstructs all of it ARITHMETICALLY from the same conditions —
    no JSON on the DuckDB side, so cross-engine float/JSON formatting
    can't enter the comparison."""
    from whiterrabbit_spark.extensions.semistructured import json_schema_profile

    ev = read_parquet_table(spark, sf_dir, "events")
    payload = F.to_json(
        F.struct(
            F.col("event_type").alias("t"),
            F.when(F.col("user_id") % 3 != 0, F.col("user_id")).alias("uid"),
            F.when(
                F.col("event_type").isin("click", "view"), F.col("value")
            ).alias("v"),
            F.when(F.col("user_id") % 2 == 0, F.col("user_id") % 4 == 0).alias(
                "flag"
            ),
        )
    )
    return json_schema_profile(ev.select(payload.alias("payload")), "payload")


_JSON_SCHEMA_PROFILE_SQL = """
WITH t AS (SELECT count(*) AS total FROM events),
k AS (
  SELECT 'flag' AS key,
         sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS n_present,
         sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS n_typed,
         'bool' AS typ
  FROM events
  UNION ALL
  SELECT 't', count(*), count(*), 'string' FROM events
  UNION ALL
  SELECT 'uid',
         sum(CASE WHEN user_id % 3 <> 0 THEN 1 ELSE 0 END),
         sum(CASE WHEN user_id % 3 <> 0 THEN 1 ELSE 0 END),
         'int'
  FROM events
  UNION ALL
  SELECT 'v',
         sum(CASE WHEN event_type IN ('click', 'view') THEN 1 ELSE 0 END),
         sum(CASE WHEN event_type IN ('click', 'view') THEN 1 ELSE 0 END),
         'double'
  FROM events
)
SELECT key,
       CAST(n_present AS BIGINT) AS n_present,
       (round(n_present / total, 6) + 0.0) AS pct_rows,
       CAST(0 AS BIGINT) AS n_null,
       CAST(CASE WHEN typ = 'bool' THEN n_typed ELSE 0 END AS BIGINT) AS n_bool,
       CAST(CASE WHEN typ = 'int' THEN n_typed ELSE 0 END AS BIGINT) AS n_int,
       CAST(CASE WHEN typ = 'double' THEN n_typed ELSE 0 END AS BIGINT)
         AS n_double,
       CAST(CASE WHEN typ = 'string' THEN n_typed ELSE 0 END AS BIGINT)
         AS n_string
FROM k, t
ORDER BY key"""


def _json_schema_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON schema drift (semistructured.json_schema_drift): events
    split by event_id parity into two snapshots whose payload shape
    DIFFERS by construction — ``uid`` flips int → string (the silent
    producer-side type break), ``v`` widens its presence condition,
    ``flag`` appears only in the current snapshot. The drift report
    must surface exactly those three changes plus the stable ``t``
    row; the oracle reconstructs every fraction and dominant type
    arithmetically from the same parity conditions."""
    from whiterrabbit_spark.extensions.semistructured import json_schema_drift

    ev = read_parquet_table(spark, sf_dir, "events")
    ref = ev.where(F.col("event_id") % 2 == 0).select(
        F.to_json(F.struct(
            F.col("event_type").alias("t"),
            F.when(F.col("user_id") % 3 != 0, F.col("user_id")).alias("uid"),
            F.when(
                F.col("event_type").isin("click", "view"), F.col("value")
            ).alias("v"),
        )).alias("payload")
    )
    cur = ev.where(F.col("event_id") % 2 == 1).select(
        F.to_json(F.struct(
            F.col("event_type").alias("t"),
            F.when(
                F.col("user_id") % 3 != 0,
                F.concat(F.lit("u"), F.col("user_id")),
            ).alias("uid"),
            F.when(
                F.col("event_type").isin("click", "view", "purchase"),
                F.col("value"),
            ).alias("v"),
            F.when(F.col("user_id") % 2 == 0, F.col("user_id") % 4 == 0).alias(
                "flag"
            ),
        )).alias("payload")
    )
    return json_schema_drift(ref, cur, "payload")


_JSON_SCHEMA_DRIFT_SQL = """
WITH r AS (SELECT * FROM events WHERE event_id % 2 = 0),
c AS (SELECT * FROM events WHERE event_id % 2 = 1),
rt AS (SELECT count(*) AS n FROM r),
ct AS (SELECT count(*) AS n FROM c),
k AS (
  SELECT 'flag' AS key,
         0.0 AS ref_pct,
         (round((SELECT sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END)
                FROM c) / (SELECT n FROM ct), 6) + 0.0) AS cur_pct,
         'none' AS ref_type, 'bool' AS cur_type
  UNION ALL
  SELECT 't', (round((SELECT count(*) FROM r) / (SELECT n FROM rt), 6) + 0.0),
         (round((SELECT count(*) FROM c) / (SELECT n FROM ct), 6) + 0.0),
         'string', 'string'
  UNION ALL
  SELECT 'uid',
         (round((SELECT sum(CASE WHEN user_id % 3 <> 0 THEN 1 ELSE 0 END)
                FROM r) / (SELECT n FROM rt), 6) + 0.0),
         (round((SELECT sum(CASE WHEN user_id % 3 <> 0 THEN 1 ELSE 0 END)
                FROM c) / (SELECT n FROM ct), 6) + 0.0),
         'int', 'string'
  UNION ALL
  SELECT 'v',
         (round((SELECT sum(CASE WHEN event_type IN ('click', 'view')
                               THEN 1 ELSE 0 END)
                FROM r) / (SELECT n FROM rt), 6) + 0.0),
         (round((SELECT sum(CASE WHEN event_type IN ('click', 'view',
                                                    'purchase')
                               THEN 1 ELSE 0 END)
                FROM c) / (SELECT n FROM ct), 6) + 0.0),
         'double', 'double'
)
SELECT key, ref_pct, cur_pct,
       (round(cur_pct - ref_pct, 6) + 0.0) AS delta_pct,
       ref_type, cur_type,
       ref_type <> cur_type AS type_changed
FROM k
ORDER BY key"""


def _json_props_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed rollup of the JSON props.k field per event_type
    (semistructured.json_field_rollup): from_json extraction fused into
    the scan, one groupBy."""
    from whiterrabbit_spark.extensions.semistructured import json_field_rollup

    ev = read_parquet_table(spark, sf_dir, "events")
    out = json_field_rollup(ev, "props", "k", "int", "event_type")
    return out.select(
        "event_type", "n_rows", "n_present", "min_val", "max_val",
        F.round("avg_val", R).alias("avg_val"), "distinct_vals",
    )


_JSON_PROPS_SQL = """
WITH x AS (
  SELECT event_type,
         CASE WHEN json_valid(props)
              THEN TRY_CAST(props->>'k' AS BIGINT) END AS k
  FROM events
)
SELECT event_type,
       count(*) AS n_rows,
       count(k) AS n_present,
       min(k) AS min_val,
       max(k) AS max_val,
       (round(avg(k), 6) + 0.0) AS avg_val,
       count(DISTINCT k) AS distinct_vals
FROM x
GROUP BY 1"""


def _normalize_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode canonicalization (textstats.normalize_text): NFC via an
    Arrow-batched pandas UDF (no JVM built-in exists), case/whitespace
    folding JVM-side; DuckDB mirrors with nfc_normalize."""
    from whiterrabbit_spark.extensions import textstats as tx

    docs = read_parquet_table(spark, sf_dir, "documents")
    return tx.normalize_text(docs, "text", "doc_id")


_NORMALIZE_SQL = """
SELECT doc_id,
       trim(regexp_replace(lower(nfc_normalize(text)), '\\s+', ' ', 'g'))
         AS norm_text
FROM documents"""


def _vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-1000 vocabulary with coverage curve (textstats.vocab_coverage):
    one token groupBy; only the ≤V-row cut passes the ranking window.
    Integer counts ⇒ the cumulative fractions are bit-identical."""
    from whiterrabbit_spark.extensions import textstats as tx

    docs = read_parquet_table(spark, sf_dir, "documents")
    out = tx.vocab_coverage(docs, "text", top_v=1000)
    return out.select(
        "rank", "token", "count",
        F.round("frac", R).alias("frac"),
        F.round("cum_frac", R).alias("cum_frac"),
    )


_VOCAB_SQL = """
WITH toks AS (
  SELECT unnest(string_split_regex(lower(trim(text)), '\\s+')) AS token
  FROM documents
), counted AS (
  SELECT token, count(*) AS count FROM toks GROUP BY 1
), total AS (
  SELECT sum(count)::DOUBLE AS t FROM counted
), cut AS (
  SELECT token, count FROM counted ORDER BY count DESC, token ASC LIMIT 1000
)
SELECT row_number() OVER (ORDER BY count DESC, token ASC) AS rank,
       token, count,
       (round(count / t, 6) + 0.0) AS frac,
       (round(sum(count) OVER (ORDER BY count DESC, token ASC
                              ROWS UNBOUNDED PRECEDING) / t, 6) + 0.0) AS cum_frac
FROM cut, total"""


def _pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-100 PMI collocations over adjacent word pairs with count >= 5
    (textstats.pmi_collocations): one bigram groupBy job; unigram totals
    come from windows over the counted frame, never a second corpus
    scan."""
    from whiterrabbit_spark.extensions import textstats as tx

    docs = read_parquet_table(spark, sf_dir, "documents")
    out = tx.pmi_collocations(docs, "text", min_count=5, top_k=100)
    return out.select("w1", "w2", "pair_count", F.round("pmi", R).alias("pmi"))


_PMI_SQL = """
WITH toks AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS w
  FROM documents
), bg AS (
  SELECT w[i] AS w1, w[i+1] AS w2
  FROM toks, unnest(generate_series(1, greatest(len(w)-1, 0))) AS t(i)
), counted AS (
  SELECT w1, w2, count(*) AS pair_count FROM bg GROUP BY 1, 2
), scored AS (
  SELECT w1, w2, pair_count,
         ln(sum(pair_count) OVER () * pair_count * 1.0
            / (sum(pair_count) OVER (PARTITION BY w1)
               * sum(pair_count) OVER (PARTITION BY w2))) AS pmi
  FROM counted
)
SELECT w1, w2, pair_count, (round(pmi, 6) + 0.0) AS pmi
FROM scored
WHERE pair_count >= 5
ORDER BY (round(pmi, 6) + 0.0) DESC, w1 ASC, w2 ASC
LIMIT 100"""


def _winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile tail clamping of lineitem amounts (profile.winsorize):
    one exact-percentile agg (type-7, the oracle-agreed definition) +
    a map-side least/greatest clamp."""
    from whiterrabbit_spark.profile import winsorize

    li = read_parquet_table(spark, sf_dir, "lineitem")
    out = winsorize(li, ["l_quantity", "l_extendedprice"], lo=0.05, hi=0.95)
    return out.select(
        "l_orderkey", "l_linenumber",
        F.round("l_quantity", R).alias("qty_w"),
        F.round("l_extendedprice", R).alias("price_w"),
    )


_WINSORIZE_SQL = """
WITH q AS (
  SELECT quantile_cont(l_quantity, 0.05) AS ql_q,
         quantile_cont(l_quantity, 0.95) AS qh_q,
         quantile_cont(l_extendedprice, 0.05) AS ql_p,
         quantile_cont(l_extendedprice, 0.95) AS qh_p
  FROM lineitem
)
SELECT l_orderkey, l_linenumber::BIGINT AS l_linenumber,
       (round(least(greatest(l_quantity, ql_q), qh_q), 6) + 0.0) AS qty_w,
       (round(least(greatest(l_extendedprice, ql_p), qh_p), 6) + 0.0) AS price_w
FROM lineitem, q"""


def _line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-global line dedup (dedup.line_dedup). The driver's documents
    are single-line, so here the operator degenerates to doc-level
    first-occurrence dedup — which makes the keep-first-(id,pos) rule and
    the reassembly exactly SQL-expressible; multi-line semantics are
    pinned by unit tests."""
    from whiterrabbit_spark.extensions import dedup as dd

    docs = read_parquet_table(spark, sf_dir, "documents")
    return dd.line_dedup(docs, "text", "doc_id")


_LINE_DEDUP_SQL = """
WITH l AS (
  SELECT doc_id, text,
         row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
  FROM documents
), flags AS (
  SELECT doc_id, text,
         (rn = 1 OR length(trim(text)) < 1) AS keep
  FROM l
)
SELECT doc_id,
       CASE WHEN keep THEN text ELSE '' END AS text,
       1::BIGINT AS n_lines,
       CASE WHEN keep THEN 0 ELSE 1 END::BIGINT AS n_removed
FROM flags"""


def _unigram_ppl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-perplexity under an additive-smoothed unigram LM fit on the
    corpus (textstats.unigram_logppl). The perplexity column is exp of the
    ROUNDED mean so both engines exponentiate the identical double —
    1-ulp ln/exp divergence cannot cross a rounding boundary at 3 digits
    of a 1e3-scale value."""
    from whiterrabbit_spark.extensions import textstats as tx

    docs = read_parquet_table(spark, sf_dir, "documents")
    out = tx.unigram_logppl(docs, "text", "doc_id", alpha=0.5)
    rounded = F.round("avg_neg_logp", R)
    return out.select(
        "doc_id", "n_tokens",
        rounded.alias("avg_neg_logp"),
        F.round(F.exp(rounded), 3).alias("perplexity"),
    )


_UNIGRAM_PPL_SQL = """
WITH toks AS (
  SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS tok
  FROM documents
), lm AS (
  SELECT tok, count(*) AS c FROM toks GROUP BY 1
), tot AS (
  SELECT sum(c)::DOUBLE AS n, count(*)::DOUBLE AS v FROM lm
), scored AS (
  SELECT t.doc_id, -ln((lm.c + 0.5) / (tot.n + 0.5 * tot.v)) AS nlp
  FROM toks t JOIN lm USING (tok), tot
)
SELECT doc_id, count(*) AS n_tokens,
       (round(avg(nlp), 6) + 0.0) AS avg_neg_logp,
       (round(exp(round(avg(nlp), 6)), 3) + 0.0) AS perplexity
FROM scored GROUP BY 1"""


def _bigram_ppl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated bigram-LM perplexity (textstats.bigram_logppl),
    λ=0.75 (dyadic — 1−λ is exact in both engines' float literals, so
    the interpolation constants can't diverge), α=0.5. Same
    exp-of-rounded-mean pinning as the unigram query."""
    docs = read_parquet_table(spark, sf_dir, "documents")
    out = ts.bigram_logppl(docs, "text", "doc_id", alpha=0.5, lam=0.75)
    return out.select(
        "doc_id",
        "n_bigrams",
        F.round("avg_neg_logp", R).alias("avg_neg_logp"),
        F.round(F.exp(F.round("avg_neg_logp", R)), 3).alias("perplexity"),
    )


_BIGRAM_PPL_SQL = """
WITH toks AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS w
  FROM documents WHERE trim(text) <> ''
), uni AS (
  SELECT tok, count(*) AS c FROM (SELECT unnest(w) AS tok FROM toks) GROUP BY 1
), tot AS (
  SELECT sum(c)::DOUBLE AS n, count(*)::DOUBLE AS v FROM uni
), stream AS (
  SELECT doc_id, w[i] AS w1, w[i + 1] AS w2
  FROM toks, unnest(generate_series(1, len(w) - 1)) AS t(i)
  WHERE len(w) >= 2
), bi AS (
  SELECT w1, w2, count(*) AS c12 FROM stream GROUP BY 1, 2
), scored AS (
  SELECT s.doc_id,
         -ln(0.75 * coalesce(b.c12, 0) / greatest(coalesce(u1.c, 0), 1)
             + 0.25 * (coalesce(u2.c, 0) + 0.5) / (tot.n + 0.5 * tot.v)) AS nlp
  FROM stream s
  LEFT JOIN bi b ON b.w1 = s.w1 AND b.w2 = s.w2
  LEFT JOIN uni u1 ON u1.tok = s.w1
  LEFT JOIN uni u2 ON u2.tok = s.w2, tot
)
SELECT doc_id, count(*) AS n_bigrams,
       (round(avg(nlp), 6) + 0.0) AS avg_neg_logp,
       (round(exp(round(avg(nlp), 6)), 3) + 0.0) AS perplexity
FROM scored GROUP BY 1"""


def _dup_ngram_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-document duplicate-shingle fraction (corpus-duplication
    signal): one shingle-partition count window + one groupBy(doc) —
    dedup.dup_ngram_stats scale notes."""
    from whiterrabbit_spark.extensions import dedup as dd

    docs = read_parquet_table(spark, sf_dir, "documents")
    out = dd.dup_ngram_stats(docs, "text", "doc_id", k=5, min_docs=2)
    return out.select(
        "doc_id", "n_shingles", "n_dup_shingles",
        F.round("dup_frac", R).alias("dup_frac"),
    )


_DUP_NGRAM_SQL = """
WITH toks AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS w
  FROM documents
), sh AS (
  SELECT DISTINCT doc_id, array_to_string(w[i:i+4], ' ') AS shingle
  FROM toks, unnest(generate_series(1, greatest(len(w)-4, 1))) AS t(i)
), freq AS (
  SELECT doc_id, count(*) OVER (PARTITION BY shingle) AS df FROM sh
)
SELECT doc_id, count(*) AS n_shingles,
       count(*) FILTER (df >= 2) AS n_dup_shingles,
       (round((count(*) FILTER (df >= 2)) * 1.0 / count(*), 6) + 0.0) AS dup_frac
FROM freq GROUP BY 1"""


def _decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: docs outside src0 whose 5-gram overlap
    with the src0 'benchmark' set crosses the drop threshold. The
    benchmark shingle table broadcasts; corpus text never shuffles
    (extensions/decontam.py scale notes)."""
    from whiterrabbit_spark.extensions import decontam as dc

    docs = read_parquet_table(spark, sf_dir, "documents")
    bench = docs.where(F.col("source") == "src0")
    corpus = docs.where(F.col("source") != "src0")
    _, contaminated = dc.decontaminate(
        corpus, bench, "text", "doc_id", k=5, threshold=0.3
    )
    return contaminated.select(
        "doc_id", "n_shingles", "n_overlap",
        F.round("overlap_frac", R).alias("overlap_frac"),
    )


_DECONTAM_SQL = """
WITH toks AS (
  SELECT doc_id, source, string_split_regex(lower(trim(text)), '\\s+') AS w
  FROM documents
), sh AS (
  SELECT DISTINCT doc_id, source, array_to_string(w[i:i+4], ' ') AS shingle
  FROM toks, unnest(generate_series(1, greatest(len(w)-4, 1))) AS t(i)
), bench AS (
  SELECT DISTINCT shingle FROM sh WHERE source = 'src0'
), stats AS (
  SELECT doc_id, count(*) AS n_shingles,
         count(*) FILTER (shingle IN (SELECT shingle FROM bench)) AS n_overlap
  FROM sh WHERE source <> 'src0' GROUP BY 1
)
SELECT doc_id, n_shingles, n_overlap,
       (round(n_overlap * 1.0 / n_shingles, 6) + 0.0) AS overlap_frac
FROM stats
WHERE n_overlap * 1.0 / n_shingles >= 0.3"""


def _temp_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-flattened language mixture (τ=2): kept counts follow
    sqrt(n_lang); membership is an md5 hash threshold so the oracle
    reproduces the exact row set (splits.temperature_mixture)."""
    from whiterrabbit_spark.extensions import splits as sp

    docs = read_parquet_table(spark, sf_dir, "documents")
    out = sp.temperature_mixture(docs, "lang", "doc_id", alpha=0.5)
    return out.select("doc_id", "lang", "source")


_TEMP_MIX_SQL = """
WITH c AS (
  SELECT lang, count(*) AS n FROM documents GROUP BY 1
), m AS (
  SELECT min(n) AS mn FROM c
), r AS (
  SELECT lang, CAST(floor(sqrt(mn::DOUBLE / n) * 10000) AS BIGINT) AS keep_below
  FROM c, m
)
SELECT d.doc_id, d.lang, d.source
FROM documents d JOIN r USING (lang)
WHERE (('0x' || substr(md5(d.doc_id::VARCHAR), 1, 15))::BIGINT % 10000) < keep_below"""


PSI_COLS = ["o_totalprice", "o_custkey", "o_orderkey"]


def _psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PSI distribution drift between the older and newer halves of orders
    (split at the o_orderdate epoch midpoint — scale-invariant). Bin edges
    from the reference (older) half; see profile.psi_drift."""
    from whiterrabbit_spark.profile import psi_drift

    orders = read_parquet_table(spark, sf_dir, "orders")
    ep = F.col("o_orderdate").cast("timestamp").cast("double")
    mid = orders.agg(
        ((F.min(ep) + F.max(ep)) / 2.0).alias("m")
    ).collect()[0]["m"]
    ref = orders.where(ep < F.lit(mid))
    cur = orders.where(ep >= F.lit(mid))
    out = psi_drift(ref, cur, PSI_COLS, bins=10)
    return out.select(
        "column_name",
        F.round("psi", R).alias("psi"),
        F.round("ks_binned", R).alias("ks_binned"),
    )


def _psi_sql() -> str:
    parts = []
    for c in PSI_COLS:
        parts.append(f"""
{c}_bounds AS (
  SELECT min({c}::DOUBLE) AS lo, max({c}::DOUBLE) AS hi FROM tagged WHERE is_ref
), {c}_cnt AS (
  SELECT CAST(least(greatest(floor(({c}::DOUBLE - lo) /
           (CASE WHEN hi > lo THEN (hi - lo) / 10 ELSE 1.0 END)), 0), 9) AS INT) AS bucket,
         count(*) FILTER (is_ref) AS n_ref,
         count(*) FILTER (NOT is_ref) AS n_cur
  FROM tagged, {c}_bounds WHERE {c} IS NOT NULL GROUP BY 1
), {c}_pq AS (
  SELECT greatest(n_ref / (SELECT sum(n_ref) FROM {c}_cnt), 1e-6) AS p,
         greatest(n_cur / (SELECT sum(n_cur) FROM {c}_cnt), 1e-6) AS q,
         abs(sum(n_ref) OVER (ORDER BY bucket) * 1.0
               / (SELECT sum(n_ref) FROM {c}_cnt)
             - sum(n_cur) OVER (ORDER BY bucket) * 1.0
               / (SELECT sum(n_cur) FROM {c}_cnt)) AS gap
  FROM {c}_cnt
)""")
        # noqa: E501 — generated SQL mirrors profile.psi_drift arithmetic
    selects = "\nUNION ALL\n".join(
        f"SELECT '{c}' AS column_name, (round(sum((p - q) * ln(p / q)), {R}) + 0.0) AS psi,"
        f" (round(max(gap), {R}) + 0.0) AS ks_binned FROM {c}_pq"
        for c in PSI_COLS
    )
    return (
        """
WITH s AS (
  SELECT (epoch(min(o_orderdate)) + epoch(max(o_orderdate))) / 2.0 AS mid
  FROM orders
), tagged AS (
  SELECT o_totalprice, o_custkey, o_orderkey,
         epoch(o_orderdate) < (SELECT mid FROM s) AS is_ref
  FROM orders
), """
        + ", ".join(parts)
        + "\n"
        + selects
    )


def _topk_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language curation budget: the 5 best documents per lang by
    quality score (tie-break doc_id asc). WindowGroupLimit prunes each
    map partition to k rows per group before the shuffle
    (splits.top_k_per_group)."""
    from whiterrabbit_spark.extensions import splits as sp

    docs = read_parquet_table(spark, sf_dir, "documents")
    q = ts.quality_exprs(F.col("text"))
    scored = docs.select(
        "doc_id", "lang", q["quality_score"].alias("quality_score")
    )
    out = sp.top_k_per_group(
        scored, "lang",
        [F.desc("quality_score"), F.asc("doc_id")], k=5,
    )
    return out.select(
        "doc_id", "lang", F.round("quality_score", R).alias("quality_score")
    )


def _topk_quality_sql() -> str:
    return f"""
WITH {_quality_core_sql()},
ranked AS (
  SELECT d.doc_id, d.lang, sc.quality_score,
         row_number() OVER (PARTITION BY d.lang
                            ORDER BY sc.quality_score DESC, d.doc_id ASC) AS rn
  FROM documents d JOIN sc ON d.doc_id = sc.doc_id
)
SELECT doc_id, lang, (round(quality_score, {R}) + 0.0) AS quality_score
FROM ranked WHERE rn <= 5"""


def _pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub over documents: per-category match counts + md5 of the
    redacted text. The corpus here contains no PII, so this pins the
    passthrough/zero-count path end-to-end; the redaction semantics
    themselves are pinned by synthetic fixtures in test_extensions."""
    docs = read_parquet_table(spark, sf_dir, "documents")
    out = ts.redact_pii(docs, "text", "doc_id")
    return out.select(
        "doc_id", "n_email", "n_ip", "n_ssn", "n_phone",
        F.md5("redacted").alias("redacted_fp"),
    )


def _pii_sql() -> str:
    ctes, prev, carried = [], "r0", ""
    for i, (name, pat, token) in enumerate(ts.PII_PATTERNS, start=1):
        ctes.append(
            f"r{i} AS (SELECT doc_id,{carried} len(regexp_extract_all(t, '{pat}')) AS n_{name},"
            f" regexp_replace(t, '{pat}', '{token}', 'g') AS t FROM {prev})"
        )
        prev = f"r{i}"
        carried += f" n_{name},"
    cols = ", ".join(f"n_{name}" for name, _, _ in ts.PII_PATTERNS)
    return (
        "\nWITH r0 AS (SELECT doc_id, text AS t FROM documents),\n"
        + ",\n".join(ctes)
        + f"\nSELECT doc_id, {cols}, md5(t) AS redacted_fp FROM {prev}"
    )


def _star_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star-schema revenue rollup (TPC-H Q5-shaped): revenue per nation per
    order year across lineitem ⋈ orders ⋈ customer ⋈ nation. Exercises
    multi-way join planning: nation broadcasts explicitly; customer is
    left to AQE (auto-broadcast at test scale, shuffled hash/SMJ once it
    outgrows the threshold at 100 TB); the two big facts join on their
    natural key.

    Revenue is summed in integer fixed-point (price-cents × discount-pct)
    — double summation is accumulation-order-dependent, and a ~1e8 group
    sum needs rel-error 5e-15 to hash-match at 6 dp; integer sums are
    exact on both engines.
    """
    li = read_parquet_table(spark, sf_dir, "lineitem")
    orders = read_parquet_table(spark, sf_dir, "orders")
    cust = read_parquet_table(spark, sf_dir, "customer")
    nation = read_parquet_table(spark, sf_dir, "nation")
    rev_e4 = (
        F.round(F.col("l_extendedprice") * 100).cast("bigint")
        * (100 - F.round(F.col("l_discount") * 100).cast("bigint"))
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year(F.col("o_orderdate").cast("timestamp")).alias("order_year"),
        )
        .agg(
            (F.sum(rev_e4) / 10000.0).alias("revenue"),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
    )


_STAR_SQL = """
SELECT n.n_name AS nation,
       CAST(extract(year FROM o.o_orderdate) AS BIGINT) AS order_year,
       sum(CAST((round(l.l_extendedprice * 100) + 0.0) AS BIGINT)
           * (100 - CAST((round(l.l_discount * 100) + 0.0) AS BIGINT))) / 10000.0 AS revenue,
       count(*) AS n_lineitems
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
GROUP BY 1, 2"""


FUNNEL_STEPS = ["view", "click", "purchase"]


def _funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy earliest-completion funnel over events (view→click→purchase):
    one groupBy(user) + map-side array fold — no per-step join chain
    (extensions/sequences.py)."""
    from whiterrabbit_spark.extensions import sequences as sq

    events = read_parquet_table(spark, sf_dir, "events")
    out = sq.funnel_report(events, FUNNEL_STEPS)
    return out.select(
        "step", "step_name", "n_users",
        F.round("conversion_from_prev", R).alias("conversion_from_prev"),
    )


def _funnel_sql() -> str:
    s0, s1, s2 = FUNNEL_STEPS
    return f"""
WITH per_user AS (
  SELECT user_id,
         list(epoch(ts)) FILTER (event_type = '{s0}') AS a0,
         list(epoch(ts)) FILTER (event_type = '{s1}') AS a1,
         list(epoch(ts)) FILTER (event_type = '{s2}') AS a2
  FROM events GROUP BY 1
), f0 AS (
  SELECT user_id, a1, a2, list_min(a0) AS t0 FROM per_user
), f1 AS (
  SELECT user_id, a2, t0, list_min(list_filter(a1, x -> x > t0)) AS t1 FROM f0
), f2 AS (
  SELECT user_id, t0, t1, list_min(list_filter(a2, x -> x > t1)) AS t2 FROM f1
), c AS (
  SELECT count(*) FILTER (t0 IS NOT NULL) AS n1,
         count(*) FILTER (t1 IS NOT NULL) AS n2,
         count(*) FILTER (t2 IS NOT NULL) AS n3
  FROM f2
)
SELECT 1::BIGINT AS step, '{s0}' AS step_name, n1 AS n_users,
       (round(1.0, {R}) + 0.0) AS conversion_from_prev FROM c
UNION ALL
SELECT 2, '{s1}', n2,
       CASE WHEN n1 = 0 THEN NULL ELSE (round(n2 * 1.0 / n1, {R}) + 0.0) END FROM c
UNION ALL
SELECT 3, '{s2}', n3,
       CASE WHEN n2 = 0 THEN NULL ELSE (round(n3 * 1.0 / n2, {R}) + 0.0) END FROM c"""


ENTROPY_COLS = ["o_orderstatus", "o_orderpriority", "o_custkey"]


def _entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-distribution Shannon entropy per orders column
    (profile.value_entropy): one melt→groupBy scan for all columns."""
    from whiterrabbit_spark.profile import value_entropy

    orders = read_parquet_table(spark, sf_dir, "orders")
    out = value_entropy(orders, ENTROPY_COLS)
    return out.select(
        "column_name",
        F.round("entropy", R).alias("entropy"),
        "distinct_count",
        F.round("entropy_norm", R).alias("entropy_norm"),
    )


def _entropy_sql() -> str:
    branches = " UNION ALL ".join(
        f"SELECT '{c}' AS column_name, CAST({c} AS VARCHAR) AS value FROM orders"
        f" WHERE {c} IS NOT NULL AND CAST({c} AS VARCHAR) <> ''"
        for c in ENTROPY_COLS
    )
    return f"""
WITH melted AS ({branches}),
counts AS (
  SELECT column_name, value, count(*) AS n FROM melted GROUP BY 1, 2
), probs AS (
  SELECT column_name,
         n / sum(n) OVER (PARTITION BY column_name) AS p
  FROM counts
), h AS (
  SELECT column_name, sum(-p * ln(p)) AS entropy, count(*) AS distinct_count
  FROM probs GROUP BY column_name
)
SELECT column_name, (round(entropy, {R}) + 0.0) AS entropy, distinct_count,
       CASE WHEN distinct_count > 1
            THEN (round(entropy / ln(distinct_count::DOUBLE), {R}) + 0.0) END AS entropy_norm
FROM h"""


CRAMER_PAIRS = {
    "orders": [("o_orderstatus", "o_orderpriority")],
    "lineitem": [("l_returnflag", "l_linestatus")],
}


def _cramers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramér's V categorical association (profile.cramers_v) across the
    registered pairs of orders and lineitem."""
    from whiterrabbit_spark.profile import cramers_v

    outs = []
    for table, pairs in CRAMER_PAIRS.items():
        df = read_parquet_table(spark, sf_dir, table)
        outs.append(
            cramers_v(df, pairs).select(
                F.lit(table).alias("table_name"), "col_a", "col_b", "n_rows",
                F.round("chi2", R).alias("chi2"),
                F.round("cramers_v", R).alias("cramers_v"),
            )
        )
    res = outs[0]
    for o in outs[1:]:
        res = res.unionByName(o)
    return res


def _cramers_sql() -> str:
    parts = []
    for table, pairs in CRAMER_PAIRS.items():
        for a, b in pairs:
            parts.append(f"""
SELECT '{table}' AS table_name, '{a}' AS col_a, '{b}' AS col_b,
       n_rows::BIGINT AS n_rows, (round(chi2, {R}) + 0.0) AS chi2,
       CASE WHEN least(r - 1, k - 1) > 0
            THEN (round(sqrt(chi2 / (n_rows * least(r - 1, k - 1))), {R}) + 0.0)
       END AS cramers_v
FROM (
  SELECT sum((n - e) * (n - e) / e) + (sum(n) - sum(e)) AS chi2,
         count(DISTINCT a) AS r, count(DISTINCT k_b) AS k, sum(n) AS n_rows
  FROM (
    SELECT a, k_b, n,
           sum(n) OVER (PARTITION BY a)::DOUBLE
             * sum(n) OVER (PARTITION BY k_b) / sum(n) OVER () AS e
    FROM (
      SELECT CAST({a} AS VARCHAR) AS a, CAST({b} AS VARCHAR) AS k_b,
             count(*) AS n
      FROM {table}
      WHERE {a} IS NOT NULL AND {b} IS NOT NULL GROUP BY 1, 2
    )
  )
)""")
    return "\nUNION ALL\n".join(parts)


def _weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-weighted corpus subsample (Efraimidis–Spirakis over md5
    uniforms, splits.weighted_sample): 100 docs, P ∝ n_chars."""
    from whiterrabbit_spark.extensions import splits as sp

    docs = read_parquet_table(spark, sf_dir, "documents")
    out = sp.weighted_sample(docs, "doc_id", "n_chars", n=100)
    return out.select("doc_id", "lang", "n_chars")


_WEIGHTED_SQL = """
WITH keyed AS (
  SELECT doc_id, lang, n_chars,
         ln(((('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT % 1048576)
              ::DOUBLE + 0.5) / 1048576)
           / n_chars::DOUBLE AS es_key
  FROM documents
  WHERE n_chars IS NOT NULL AND n_chars > 0
)
SELECT doc_id, lang, n_chars FROM keyed
ORDER BY es_key DESC, doc_id ASC LIMIT 100"""


_STREAMING_RUNNING_STATS_SQL = """
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CAST((round(value * 100) + 0.0) AS BIGINT)) AS BIGINT) AS sum_cents
FROM events
GROUP BY user_id
"""


def _streaming_running_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark-4 stateful running totals (streaming.running_stats_tws:
    transformWithStateInPandas, with the protobuf-free
    applyInPandasWithState fallback in sandboxes without python
    protobuf): drain the update-mode stream, keep each user's final
    (max n_events) totals. State is exact integer cents, so the drained
    final state equals the batch (count, sum((round(value*100) + 0.0))) —
    first-principles SQL oracle, independent of micro-batch boundaries.
    """
    import uuid

    from whiterrabbit_spark.extensions import streaming as st

    src = st.stream_events_from_parquet(spark, sf_dir)
    out = st.running_stats_tws(src)
    name = f"wrs_tws_{uuid.uuid4().hex[:8]}"
    st.run_stream_to_memory(out, name, mode="update")
    return (
        spark.table(name)
        .groupBy("user_id")
        .agg(
            F.max("n_events").alias("n_events"),
            F.max_by("sum_cents", "n_events").alias("sum_cents"),
        )
    )


def _streaming_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Third REAL Structured Streaming correctness row — the CUSTOM
    stateful operator surface (applyInPandasWithState): streaming
    sessionizer emitting a session the moment a later event closes it.
    With a bounded single-file source the emitted set is exactly the
    batch sessions minus each user's final (still-open-at-EOF) session —
    deterministic, so the oracle rebuilds it first-principles in SQL
    (lag + cumulative-sum sessions, drop each user's last)."""
    import uuid

    from whiterrabbit_spark.extensions import streaming as st

    src = st.stream_events_from_parquet(spark, sf_dir)
    out = st.sessionize_stateful(src, gap_seconds=float(SESSION_GAP_S))
    name = f"wrs_streamsess_{uuid.uuid4().hex[:8]}"
    st.run_stream_to_memory(out, name, mode="append")
    t = spark.table(name)
    return t.select(
        "user_id",
        F.date_format(
            F.timestamp_seconds("session_start"), "yyyy-MM-dd HH:mm:ss"
        ).alias("session_start"),
        F.date_format(
            F.timestamp_seconds("session_end"), "yyyy-MM-dd HH:mm:ss"
        ).alias("session_end"),
        "n_events",
        F.round("sum_value", R).alias("sum_value"),
    )


_STREAMING_SESSIONIZE_SQL = f"""
WITH o AS (
  SELECT user_id, ts, value, event_id,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch(ts) - lag(epoch(ts)) OVER w > {SESSION_GAP_S}
              THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), s AS (
  SELECT user_id, ts, value,
         sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS UNBOUNDED PRECEDING) AS session_seq
  FROM o
), g AS (
  SELECT user_id, session_seq,
         strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
         strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS session_end,
         count(*) AS n_events,
         (round(sum(value), 6) + 0.0) AS sum_value,
         max(session_seq) OVER (PARTITION BY user_id) AS last_seq
  FROM s GROUP BY user_id, session_seq
)
SELECT user_id, session_start, session_end, n_events, sum_value
FROM g WHERE session_seq < last_seq"""


def _heuristic_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher+C4 heuristic quality filter flags
    (textstats.heuristic_filters): the published web-corpus rule set as
    one map-only projection."""
    docs = read_parquet_table(spark, sf_dir, "documents")
    out = ts.heuristic_filters(docs, "text", "doc_id")
    return out.select(
        "doc_id",
        "word_count",
        F.round("mean_word_len", R).alias("mean_word_len"),
        F.round("symbol_ratio", R).alias("symbol_ratio"),
        "n_sentences",
        "stopword_hits",
        "has_bad_phrase",
        "keep",
    )


def _heuristic_filters_sql() -> str:
    common = ", ".join(f"'{w}'" for w in ts.GOPHER_COMMON_WORDS)
    bad = " OR ".join(
        f"position('{p}' IN lower(text)) > 0" for p in ts.C4_BAD_PHRASES
    )
    return f"""
WITH b AS (
  SELECT doc_id,
         CASE WHEN trim(text) = '' THEN 0
              ELSE len(string_split_regex(lower(trim(text)), '\\s+')) END
           AS wc,
         length(regexp_replace(text, '\\s', '', 'g')) AS word_chars,
         len(regexp_extract_all(text, '#'))
           + len(regexp_extract_all(text, '\\.\\.\\.')) AS symbols,
         len(regexp_extract_all(text, '[.!?]')) AS n_sentences,
         len(list_intersect(string_split_regex(lower(trim(text)), '\\s+'),
                            [{common}])) AS stop_hits,
         ({bad}) AS has_bad_phrase
  FROM documents
), m AS (
  SELECT doc_id, wc, n_sentences, stop_hits, has_bad_phrase,
         word_chars::DOUBLE / greatest(wc, 1) AS mwl,
         symbols::DOUBLE / greatest(wc, 1) AS sym_ratio
  FROM b
)
SELECT doc_id, wc AS word_count,
       (round(mwl, 6) + 0.0) AS mean_word_len,
       (round(sym_ratio, 6) + 0.0) AS symbol_ratio,
       n_sentences, stop_hits AS stopword_hits, has_bad_phrase,
       (wc >= {ts.GOPHER_MIN_WORDS} AND wc <= {ts.GOPHER_MAX_WORDS}
        AND mwl >= {ts.GOPHER_MIN_MEAN_WORD_LEN}
        AND mwl <= {ts.GOPHER_MAX_MEAN_WORD_LEN}
        AND sym_ratio <= {ts.GOPHER_MAX_SYMBOL_RATIO}
        AND n_sentences >= {ts.C4_MIN_SENTENCES}
        AND stop_hits >= {ts.GOPHER_MIN_STOPWORD_HITS}
        AND NOT has_bad_phrase) AS keep
FROM m"""


def _ann_ivf_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persistent IVF index round-trip, EVALUATED (VERDICT r3 #4 — was
    rows-only): build the partitioned on-disk index
    (similarity.ivf_build_index), top-k query it with directory-pruned
    probes (ivf_query_index), and reduce to the two properties an index
    must certify — (a) the on-disk index returns EXACTLY the in-memory
    ivf_topk results with the same seed/params, and (b) mean recall@5
    vs the exact brute-force top-5 clears the pinned floor (0.5;
    measured 0.61–0.77 across sf0.001/0.01/0.1). The oracle pins both
    flags TRUE plus the SQL-derivable query/k counts, so quantizer or
    pruning regressions driver-red instead of hiding behind rows-only.
    """
    import tempfile

    from whiterrabbit_spark.extensions import similarity as sim

    emb = read_parquet_table(spark, sf_dir, "embeddings")
    idx = tempfile.mkdtemp(prefix="wrs_ivf_") + "/idx"
    sim.ivf_build_index(emb, idx, n_lists=16, seed=ANN_LSH_SEED)
    queries = pin(emb.limit(20).selectExpr(
        "vec_id as query_id", "embedding"
    ))
    disk = pin(sim.ivf_query_index(spark, idx, queries, k=5, n_probe=4).select(
        "query_id", "neighbor_id"
    ))
    mem = sim.ivf_topk(
        emb, queries, k=5, n_lists=16, n_probe=4, seed=ANN_LSH_SEED
    ).select("query_id", F.col("neighbor_id").alias("mn"))
    # symmetric difference must be empty for disk/mem parity
    sym_diff = (
        disk.join(
            mem,
            (disk["query_id"] == mem["query_id"])
            & (F.col("neighbor_id") == F.col("mn")),
            "full_outer",
        )
        .where(F.col("neighbor_id").isNull() | F.col("mn").isNull())
        .agg(F.count(F.lit(1)).alias("n_diff"))
    )
    brute = sim.cosine_topk_blocked(emb, queries, k=5).select(
        "query_id", F.col("neighbor_id").alias("bn")
    )
    hits = disk.join(
        brute,
        (disk["query_id"] == brute["query_id"])
        & (F.col("neighbor_id") == F.col("bn")),
    ).agg(F.count(F.lit(1)).alias("n_hits"))
    n_q = queries.agg(F.count(F.lit(1)).alias("n_queries"))
    return (
        n_q.crossJoin(F.broadcast(sym_diff))
        .crossJoin(F.broadcast(hits))
        .select(
            "n_queries",
            F.lit(5).cast("long").alias("k"),
            (F.col("n_diff") == 0).alias("disk_mem_parity"),
            (
                F.col("n_hits")
                / (F.col("n_queries") * F.lit(5)).cast("double")
                >= 0.5
            ).alias("mean_recall_ok"),
        )
    )


_ANN_IVF_INDEX_SQL = """
SELECT CAST(least(count(*), 20) AS BIGINT) AS n_queries,
       CAST(5 AS BIGINT) AS k,
       TRUE AS disk_mem_parity,
       TRUE AS mean_recall_ok
FROM embeddings"""


# Regression floors per probe level, comfortably below the measured
# minima across sf0.001/0.01/0.1 (0.20/0.40/0.61/0.86/1.000): the curve
# shape is the assertion, the exactness anchor at n_probe == n_lists is
# provable (every list scanned ⇒ the exact top-k), and monotonicity in
# n_probe is provable (nested candidate sets; a displacer always ranks
# inside the exact top-k whenever the displaced member did).
_IVF_TUNING_FLOORS = [(1, 0.10), (2, 0.25), (4, 0.45), (8, 0.70),
                      (16, 1.0)]


def _ann_ivf_tuning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF recall@5 tuning curve (similarity.ivf_tuning_curve — VERDICT
    r5 #8): recall vs n_probe in one scoring pass, floor-gated per
    level. The operating point a 100 TB user reads off: on this
    isotropic worst-case corpus ≥0.9 recall needs n_probe ≥ 8 of 16
    lists and n_probe = n_lists is EXACTLY 1.0; clustered production
    embeddings reach 0.9 far earlier — re-run the curve on the target
    corpus to place the dial."""
    from whiterrabbit_spark.extensions import similarity as sim

    emb = read_parquet_table(spark, sf_dir, "embeddings")
    queries = emb.limit(20).selectExpr("vec_id as query_id", "embedding")
    curve = sim.ivf_tuning_curve(
        emb, queries, k=5, n_lists=16,
        probes=tuple(p for p, _ in _IVF_TUNING_FLOORS), seed=ANN_LSH_SEED,
    )
    floor = F.lit(None).cast("double")
    for p, f in _IVF_TUNING_FLOORS:
        floor = F.when(F.col("n_probe") == p, F.lit(f)).otherwise(floor)
    return curve.select(
        "n_probe",
        "n_queries",
        "k",
        floor.alias("recall_floor"),
        (F.col("recall_at_k") >= floor).alias("floor_ok"),
        "monotone_ok",
    ).orderBy("n_probe")


_ANN_IVF_TUNING_SQL = f"""
WITH n AS (SELECT CAST(least(count(*), 20) AS BIGINT) AS nq FROM embeddings)
SELECT CAST(p.n_probe AS BIGINT) AS n_probe, n.nq AS n_queries,
       CAST(5 AS BIGINT) AS k, p.floor::DOUBLE AS recall_floor,
       TRUE AS floor_ok, TRUE AS monotone_ok
FROM (VALUES {', '.join(f'({p}, {f})' for p, f in _IVF_TUNING_FLOORS)})
     AS p(n_probe, floor), n
ORDER BY n_probe"""


def _script_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Writing-script char-class profile (textstats.script_profile):
    map-only regexp_count projection over explicit codepoint ranges
    (identical by construction across engines — script property NAMES
    vary between regex engines, raw ranges don't)."""
    docs = read_parquet_table(spark, sf_dir, "documents")
    out = ts.script_profile(docs, "text", "doc_id")
    return out.select(
        "doc_id",
        "n_chars",
        *[F.round(f"{n}_frac", R).alias(f"{n}_frac") for n in ts.SCRIPT_RANGES],
        "dominant_script",
    )


def _script_profile_sql() -> str:
    def sql_range(rng: str) -> str:
        # '\uXXXX' python escapes in SCRIPT_RANGES → RE2 \x{XXXX}
        out = []
        for ch in rng:
            o = ord(ch)
            out.append(ch if o < 128 else f"\\x{{{o:04X}}}")
        return "".join(out)

    frac_exprs = ",\n         ".join(
        f"len(regexp_extract_all(text, '[{sql_range(r)}]'))::DOUBLE"
        f" / greatest(length(text), 1) AS {n}_frac"
        for n, r in ts.SCRIPT_RANGES.items()
    )
    names = list(ts.SCRIPT_RANGES)
    others = lambda n: ", ".join(f"{m}_frac" for m in names if m != n)  # noqa: E731
    case = " ".join(
        f"WHEN {n}_frac > 0 AND {n}_frac >= greatest({others(n)}) THEN '{n}'"
        for n in names
    )
    fracs_rounded = ", ".join(f"(round({n}_frac, 6) + 0.0) AS {n}_frac" for n in names)
    return f"""
WITH b AS (
  SELECT doc_id, length(text) AS n_chars,
         {frac_exprs}
  FROM documents
)
SELECT doc_id, n_chars, {fracs_rounded},
       CASE {case} ELSE 'other' END AS dominant_script
FROM b"""


def _spearman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation of lineitem quantity vs extendedprice
    (profile.spearman_corr): Pearson over histogram-derived ECDF ranks,
    broadcast-joined back — the monotone-association complement to the
    Pearson corr_matrix query."""
    from whiterrabbit_spark.profile import spearman_corr

    li = read_parquet_table(spark, sf_dir, "lineitem")
    out = spearman_corr(li, "l_quantity", "l_extendedprice")
    return out.select(F.round("spearman", R).alias("spearman"), "n")


_SPEARMAN_SQL = """
WITH base AS (
  SELECT l_quantity AS a, l_extendedprice AS b FROM lineitem
  WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
), ranked AS (
  SELECT cume_dist() OVER (ORDER BY a) AS ra,
         cume_dist() OVER (ORDER BY b) AS rb
  FROM base
)
SELECT (round(corr(ra, rb), 6) + 0.0) AS spearman, count(*) AS n FROM ranked"""


def _grouped_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-returnflag OLS of extendedprice ~ quantity
    (profile.grouped_ols): built-in regr_* aggregates in ONE groupBy —
    every statistic partial-aggregable, map-side combined."""
    from whiterrabbit_spark.profile import grouped_ols

    li = read_parquet_table(spark, sf_dir, "lineitem")
    out = grouped_ols(li, "l_returnflag", "l_quantity", "l_extendedprice")
    return out.select(
        "group_key",
        F.round("slope", R).alias("slope"),
        F.round("intercept", R).alias("intercept"),
        F.round("r2", R).alias("r2"),
        "n",
    )


_GROUPED_OLS_SQL = """
SELECT l_returnflag AS group_key,
       (round(regr_slope(l_extendedprice, l_quantity), 6) + 0.0) AS slope,
       (round(regr_intercept(l_extendedprice, l_quantity), 6) + 0.0) AS intercept,
       (round(regr_r2(l_extendedprice, l_quantity), 6) + 0.0) AS r2,
       regr_count(l_extendedprice, l_quantity)::BIGINT AS n
FROM lineitem GROUP BY 1"""


def _mutual_info(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information between orderstatus and orderpriority
    (profile.mutual_information): one groupBy on observed cells,
    marginals as window sums over the O(cells) frame."""
    from whiterrabbit_spark.profile import mutual_information

    orders = read_parquet_table(spark, sf_dir, "orders")
    out = mutual_information(orders, [("o_orderstatus", "o_orderpriority")])
    return out.select(
        "col_a", "col_b", "n_rows",
        F.round("mi", R).alias("mi"),
        F.round("mi_norm", R).alias("mi_norm"),
    )


_MUTUAL_INFO_SQL = """
WITH cells AS (
  SELECT o_orderstatus AS a, o_orderpriority AS b, count(*)::DOUBLE AS n
  FROM orders
  WHERE o_orderstatus IS NOT NULL AND o_orderpriority IS NOT NULL
  GROUP BY 1, 2
), m AS (
  SELECT n,
         sum(n) OVER () AS nt,
         sum(n) OVER (PARTITION BY a) AS na,
         sum(n) OVER (PARTITION BY b) AS nb,
         count(*) OVER (PARTITION BY a) AS ca,
         count(*) OVER (PARTITION BY b) AS cb
  FROM cells
), s AS (
  SELECT sum((n/nt) * ln((n/nt) / ((na/nt)*(nb/nt)))) AS mi,
         sum(-((na/nt) * ln(na/nt)) / ca) AS ha,
         sum(-((nb/nt) * ln(nb/nt)) / cb) AS hb,
         sum(n)::BIGINT AS n_rows
  FROM m
)
SELECT 'o_orderstatus' AS col_a, 'o_orderpriority' AS col_b, n_rows,
       (round(greatest(mi, 0.0), 6) + 0.0) AS mi,
       (round(CASE WHEN least(ha, hb) > 0
                  THEN greatest(mi, 0.0) / least(ha, hb) END, 6) + 0.0) AS mi_norm
FROM s"""


def _benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-significant-digit Benford profile of lineitem amounts
    (profile.benford_profile): one melt→groupBy job, O(9·cols) output;
    digit from the decimal string form — exact on both engines."""
    from whiterrabbit_spark.profile import benford_profile

    li = read_parquet_table(spark, sf_dir, "lineitem")
    out = benford_profile(li, ["l_extendedprice", "l_quantity"])
    return out.select(
        "column_name", "digit", "n",
        F.round("share", R).alias("share"),
        F.round("benford_share", R).alias("benford_share"),
        F.round("chi2_term", R).alias("chi2_term"),
    )


_BENFORD_SQL = """
WITH vals AS (
  SELECT 'l_extendedprice' AS column_name, l_extendedprice::DOUBLE AS v
  FROM lineitem
  UNION ALL
  SELECT 'l_quantity', l_quantity::DOUBLE FROM lineitem
), digits AS (
  SELECT column_name, regexp_extract(abs(v)::VARCHAR, '[1-9]')::BIGINT AS digit
  FROM vals WHERE regexp_extract(abs(v)::VARCHAR, '[1-9]') <> ''
), counts AS (
  SELECT column_name, digit, count(*) AS n FROM digits GROUP BY 1, 2
), tot AS (
  SELECT column_name, digit, n,
         sum(n) OVER (PARTITION BY column_name)::DOUBLE AS nt
  FROM counts
)
SELECT column_name, digit, n,
       (round(n / nt, 6) + 0.0) AS share,
       (round(log10(1 + 1.0/digit), 6) + 0.0) AS benford_share,
       (round(nt * pow(n/nt - log10(1 + 1.0/digit), 2)
             / log10(1 + 1.0/digit), 6) + 0.0) AS chi2_term
FROM tot"""


def _sequence_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-density gap profile of o_orderkey (profile.sequence_gaps):
    range-bucketed lag windows — bounded partitions instead of the naive
    single-reducer global ORDER BY key."""
    from whiterrabbit_spark.profile import sequence_gaps

    orders = read_parquet_table(spark, sf_dir, "orders")
    return sequence_gaps(orders, "o_orderkey")


_SEQUENCE_GAPS_SQL = """
WITH k AS (
  SELECT DISTINCT o_orderkey AS k FROM orders WHERE o_orderkey IS NOT NULL
), g AS (
  SELECT k, k - lag(k) OVER (ORDER BY k) - 1 AS gap FROM k
)
SELECT min(k) AS min_key, max(k) AS max_key, count(*) AS n_keys,
       coalesce(sum(gap), 0)::BIGINT AS n_missing,
       count(CASE WHEN gap > 0 THEN 1 END) AS n_gaps,
       coalesce(max(gap), 0)::BIGINT AS max_gap
FROM g"""


def _scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 validity intervals from three deterministically perturbed
    order snapshots (diff.scd2_history): status flip at %13 keys, %97
    keys absent from snapshot 2 only (gap → close + reopen). Per-key
    windows are snapshot-count bound; the calendar broadcasts."""
    from whiterrabbit_spark.extensions.diff import scd2_history

    orders = read_parquet_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus"
    )
    k = F.col("o_orderkey")
    flipped = F.when(k % 13 == 0, F.lit("X")).otherwise(F.col("o_orderstatus"))
    snaps = (
        orders.select(
            F.lit("2026-01-01").cast("date").alias("snap"),
            "o_orderkey", "o_orderstatus",
        )
        .unionByName(
            orders.where(k % 97 != 0).select(
                F.lit("2026-02-01").cast("date").alias("snap"),
                k.alias("o_orderkey"), flipped.alias("o_orderstatus"),
            )
        )
        .unionByName(
            orders.select(
                F.lit("2026-03-01").cast("date").alias("snap"),
                k.alias("o_orderkey"), flipped.alias("o_orderstatus"),
            )
        )
    )
    return scd2_history(snaps, "o_orderkey", "snap", ["o_orderstatus"])


_SCD2_SQL = """
WITH snaps AS (
  SELECT DATE '2026-01-01' AS snap, o_orderkey, o_orderstatus FROM orders
  UNION ALL
  SELECT DATE '2026-02-01', o_orderkey,
         CASE WHEN o_orderkey % 13 = 0 THEN 'X' ELSE o_orderstatus END
  FROM orders WHERE o_orderkey % 97 <> 0
  UNION ALL
  SELECT DATE '2026-03-01', o_orderkey,
         CASE WHEN o_orderkey % 13 = 0 THEN 'X' ELSE o_orderstatus END
  FROM orders
), cal AS (
  SELECT snap, lag(snap) OVER (ORDER BY snap) AS prev_snap,
         lead(snap) OVER (ORDER BY snap) AS next_snap
  FROM (SELECT DISTINCT snap FROM snaps)
), m AS (
  SELECT s.snap, s.o_orderkey, s.o_orderstatus,
         CASE WHEN lag(s.snap) OVER w IS NULL THEN 1
              WHEN lag(s.snap) OVER w IS DISTINCT FROM c.prev_snap THEN 1
              WHEN lag(s.o_orderstatus) OVER w
                   IS DISTINCT FROM s.o_orderstatus THEN 1
              ELSE 0 END AS chg
  FROM snaps s JOIN cal c USING (snap)
  WINDOW w AS (PARTITION BY s.o_orderkey ORDER BY s.snap)
), r AS (
  SELECT *, sum(chg) OVER (PARTITION BY o_orderkey ORDER BY snap) AS run
  FROM m
), runs AS (
  SELECT o_orderkey, run, o_orderstatus,
         min(snap) AS valid_from, max(snap) AS last_seen
  FROM r GROUP BY 1, 2, 3
)
SELECT runs.o_orderkey, runs.o_orderstatus, runs.valid_from,
       cal.next_snap AS valid_to, cal.next_snap IS NULL AS is_current
FROM runs JOIN cal ON runs.last_seen = cal.snap"""


def _bpe_learn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer training (bpe.learn_bpe_merges): one corpus-sized
    word-frequency job, then merge iterations over the O(vocab) table —
    scale-adaptive driver loop below the vocab threshold.

    Graduated from rows-only to an INVARIANT oracle (VERDICT r7 #4):
    the 30-step iterative argmax is not SQL-expressible, but (a) the
    FIRST merge is — it is the plain weighted argmax over char-level
    adjacent pairs of the word-frequency table, which DuckDB recomputes
    exactly, tie-break included (the real cross-engine anchor: actual
    left/right/count values), and (b) every later merge satisfies
    SQL-pinnable identities: its pair count is ≥ 2 (the early-stop
    contract) and its merged token occurs contiguously in some
    corpus word+EOW (merges only ever concatenate adjacent symbols).
    The entry emits the 30-rank frame with rank-0 carrying the argmax
    values and sentinels elsewhere; the full merge table stays
    available via the operator API (both execution paths and a naive
    reimplementation are pinned equal in tests)."""
    from whiterrabbit_spark.extensions.bpe import (EOW, learn_bpe_merges,
                                                   word_freq_table)

    docs = read_parquet_table(spark, sf_dir, "documents")
    merges = learn_bpe_merges(docs, "text", n_merges=30)
    m = merges.withColumn("merged", F.concat("left", "right"))
    wf = word_freq_table(docs, "text")
    hits = (
        wf.crossJoin(F.broadcast(m.select("rank", "merged")))
        .where(
            F.contains(
                F.concat(F.col("word"), F.lit(EOW)), F.col("merged")
            )
        )
        .select("rank")
        .distinct()
        .withColumn("merged_in_corpus", F.lit(True))
    )
    first = F.col("rank") == 0
    return (
        m.join(hits, "rank", "left")
        .select(
            "rank",
            F.when(first, F.col("left")).otherwise(F.lit("")).alias("left0"),
            F.when(first, F.col("right")).otherwise(F.lit("")).alias("right0"),
            F.when(first, F.col("pair_count"))
            .otherwise(F.lit(0))
            .cast("long")
            .alias("count0"),
            (F.col("pair_count") >= 2).alias("count_ge2"),
            F.coalesce("merged_in_corpus", F.lit(False)).alias(
                "merged_in_corpus"
            ),
        )
        .orderBy("rank")
    )


_BPE_LEARN_SQL = """
WITH wf AS (
  SELECT w AS word, count(*) AS cnt
  FROM (
    SELECT unnest(string_split_regex(lower(trim(text)), '\\s+')) AS w
    FROM documents
  )
  WHERE w <> ''
  GROUP BY w
), adj AS (
  SELECT substr(word, i, 1) AS l,
         CASE WHEN i < length(word) THEN substr(word, i + 1, 1)
              ELSE '▁' END AS r,
         cnt
  FROM wf, unnest(generate_series(1, length(word))) t(i)
), top AS (
  SELECT l, r, CAST(sum(cnt) AS BIGINT) AS pair_count
  FROM adj GROUP BY l, r
  ORDER BY pair_count DESC, l ASC, r ASC
  LIMIT 1
)
SELECT CAST(rank AS BIGINT) AS rank,
       CASE WHEN rank = 0 THEN top.l ELSE '' END AS left0,
       CASE WHEN rank = 0 THEN top.r ELSE '' END AS right0,
       CASE WHEN rank = 0 THEN top.pair_count ELSE 0 END AS count0,
       TRUE AS count_ge2,
       TRUE AS merged_in_corpus
FROM generate_series(0, 29) g(rank), top
ORDER BY rank"""


def _semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (similarity.semantic_dedup): spherical k-means semantic
    clusters + in-cluster greedy cosine sweep — paraphrase-level dedup
    text hashing can't see. Rows-only: the MLlib quantizer is seeded but
    not SQL-reproducible; one output row per input vector (stable rows/
    schema), planted-clone recall pinned in unit tests."""
    from whiterrabbit_spark.extensions.similarity import semantic_dedup

    emb = read_parquet_table(spark, sf_dir, "embeddings")
    out = semantic_dedup(emb, "embedding", "vec_id", n_clusters=8,
                         threshold=0.95)
    return out.select("vec_id", "cluster_id", "keep")


def _kfold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-fold assignment summary (splits.kfold_split): md5-bucket folds,
    engine-portable digest; O(k) output."""
    from whiterrabbit_spark.extensions.splits import kfold_split

    docs = read_parquet_table(spark, sf_dir, "documents")
    out = kfold_split(docs, "doc_id", k=5)
    return (
        out.groupBy("fold")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
        .orderBy("fold")
    )


_KFOLD_SQL = """
WITH assigned AS (
  SELECT ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT % 5 AS fold,
         n_chars
  FROM documents
)
SELECT fold::BIGINT AS fold, count(*) AS n_docs,
       sum(n_chars)::BIGINT AS total_chars
FROM assigned GROUP BY 1 ORDER BY 1"""


def _pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing (bpe.pack_token_sequences): regex-pretokenize
    every document, pack the token streams (EOS after each doc) into
    fixed 256-token windows within budget-bounded shards, and report
    per-shard window counts + packed token totals. The REAL packing
    operator runs (applyInPandas window cutter over pack_shards
    assignment); feeding it the deterministic BPE *pre*-tokenizer
    (rather than learned merges, which stay covered by
    bpe_learn_documents + the segment→pack e2e unit test) makes every
    number first-principles SQL: the oracle recomputes doc weights,
    shard assignment (exclusive prefix sum over doc_id order), and
    floor(shard_tokens / 256) window counts (VERDICT r3 #4 — was
    rows-only)."""
    from whiterrabbit_spark.extensions.bpe import pack_token_sequences

    docs = read_parquet_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.regexp_extract_all(
            "text", F.lit(ts.BPE_TOKEN_RE), F.lit(0)
        ).alias("tokens"),
    )
    seqs = pack_token_sequences(
        toks, seq_len=256, id_col="doc_id", shard_token_budget=8_000
    )
    return (
        seqs.groupBy("shard_id")
        .agg(
            F.count(F.lit(1)).alias("n_sequences"),
            F.sum(F.size("tokens")).alias("packed_tokens"),
        )
        .orderBy("shard_id")
    )


_PACK_SEQUENCES_SQL_TMPL = """
WITH w AS (
  SELECT doc_id,
         len(regexp_extract_all(text, '__BPE__')) + 1 AS w
  FROM documents
), c AS (
  SELECT doc_id, w,
         sum(w) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) - w
           AS start_off
  FROM w
)
SELECT CAST(floor(start_off / 8000.0) AS BIGINT) AS shard_id,
       CAST(floor(sum(w) / 256.0) AS BIGINT) AS n_sequences,
       CAST(floor(sum(w) / 256.0) * 256 AS BIGINT) AS packed_tokens
FROM c
GROUP BY 1
HAVING floor(sum(w) / 256.0) > 0
ORDER BY 1"""


_PACK_SEQUENCES_SQL = (
    _PACK_SEQUENCES_SQL_TMPL
    .replace("__BPE__", ts.BPE_TOKEN_RE.replace("'", "''"))
)


def _link_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution (linkage.link_records): customer names vs a
    deterministically perturbed export (suffix token appended). The
    default prefix+length blocking degenerates on this corpus — every
    customer name shares prefix AND length, one giant block, quadratic
    verify (the docstring's recall/size tradeoff in its worst case) —
    so the query demonstrates the ``block_expr`` hook with first-token
    blocking, which the suffix perturbation can't break and which is
    near-unique per entity here. Ties (a perturbed twin and a
    digit-neighbor can be equidistant) break on right_id — the same
    total order in both engines."""
    from whiterrabbit_spark.extensions.linkage import (link_records,
                                                       normalize_name)

    cust = read_parquet_table(spark, sf_dir, "customer")
    right = cust.select(
        (F.col("c_custkey") + 1_000_000).alias("rid"),
        F.concat(
            F.col("c_name"), F.lit(" "), (F.col("c_custkey") % 7).cast("int")
        ).alias("name"),
    )
    first_token = lambda c: F.substring_index(normalize_name(c), " ", 1)
    out = link_records(
        cust, right, "c_custkey", "rid", "c_name", "name", max_dist=3,
        block_expr=first_token,
    )
    return out.select("left_id", "right_id", "distance")


_LINK_RECORDS_SQL = r"""
WITH norm AS (
  SELECT c_custkey AS lid,
         trim(regexp_replace(regexp_replace(lower(c_name),
              '[^a-z0-9 ]', '', 'g'), '\s+', ' ', 'g')) AS lnorm
  FROM customer
), rsrc AS (
  SELECT c_custkey + 1000000 AS rid,
         c_name || ' ' || (c_custkey % 7)::INT AS name
  FROM customer
), rnorm AS (
  SELECT rid,
         trim(regexp_replace(regexp_replace(lower(name),
              '[^a-z0-9 ]', '', 'g'), '\s+', ' ', 'g')) AS rn
  FROM rsrc
), lblock AS (
  SELECT lid, lnorm, split_part(lnorm, ' ', 1) AS block FROM norm
), rblock AS (
  SELECT rid, rn, split_part(rn, ' ', 1) AS block FROM rnorm
), cand AS (
  SELECT lid, rid, levenshtein(lnorm, rn) AS dist
  FROM lblock JOIN rblock USING (block)
  WHERE levenshtein(lnorm, rn) <= 3
), best AS (
  SELECT lid, rid, dist,
         row_number() OVER (PARTITION BY lid
                            ORDER BY dist ASC, rid ASC) AS rn_
  FROM cand
)
SELECT lid AS left_id, rid AS right_id, dist AS distance
FROM best WHERE rn_ = 1"""


def _chi2_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Categorical drift (profile.chi2_drift): orders status/priority
    level shift between the %2 split halves — per-level count frames
    full-outer merged, chi2 vs pooled-proportion expectation."""
    from whiterrabbit_spark.profile import chi2_drift

    orders = read_parquet_table(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    ref = orders.where(k % 2 == 0)
    cur = orders.where(k % 2 == 1)
    out = chi2_drift(ref, cur, ["o_orderstatus", "o_orderpriority"])
    return out.select(
        "column_name", F.round("chi2", R).alias("chi2"),
        "dof", "n_ref", "n_cur",
    )


_CHI2_DRIFT_SQL = """
WITH melted AS (
  SELECT 'o_orderstatus' AS column_name, o_orderstatus::VARCHAR AS value,
         o_orderkey FROM orders
  WHERE o_orderstatus IS NOT NULL AND o_orderstatus::VARCHAR <> ''
  UNION ALL
  SELECT 'o_orderpriority', o_orderpriority::VARCHAR, o_orderkey FROM orders
  WHERE o_orderpriority IS NOT NULL AND o_orderpriority::VARCHAR <> ''
), r AS (
  SELECT column_name, value, count(*) AS rn FROM melted
  WHERE o_orderkey % 2 = 0 GROUP BY 1, 2
), c AS (
  SELECT column_name, value, count(*) AS cn FROM melted
  WHERE o_orderkey % 2 = 1 GROUP BY 1, 2
), merged AS (
  SELECT coalesce(r.column_name, c.column_name) AS column_name,
         coalesce(rn, 0)::DOUBLE AS rn, coalesce(cn, 0)::DOUBLE AS cn
  FROM r FULL OUTER JOIN c
    ON r.column_name = c.column_name AND r.value = c.value
), t AS (
  SELECT column_name, rn, cn,
         sum(rn) OVER (PARTITION BY column_name) AS nr,
         sum(cn) OVER (PARTITION BY column_name) AS nc
  FROM merged
), terms AS (
  SELECT column_name, rn, cn, nr, nc,
         (rn + cn) / (nr + nc) * nr AS er,
         (rn + cn) / (nr + nc) * nc AS ec
  FROM t
)
SELECT column_name,
       (round(sum(pow(rn - er, 2) / er + pow(cn - ec, 2) / ec), 6) + 0.0) AS chi2,
       count(*) - 1 AS dof,
       sum(rn)::BIGINT AS n_ref,
       sum(cn)::BIGINT AS n_cur
FROM terms GROUP BY 1"""


def _temporal_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe time split of events (splits.temporal_split):
    map-only train/eval assignment with a 24h embargo gap dropped;
    summarized per split for a stable O(1) result."""
    from whiterrabbit_spark.extensions.splits import temporal_split

    events = read_parquet_table(spark, sf_dir, "events")
    out = temporal_split(events, "ts", "2024-03-01 00:00:00", "24 hours")
    return (
        out.groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count_distinct("user_id").alias("n_users"),
            F.max(F.col("ts")).alias("max_ts"),
            F.min(F.col("ts")).alias("min_ts"),
        )
        .select("split", "n_rows", "n_users", "min_ts", "max_ts")
    )


_TEMPORAL_SPLIT_SQL = """
WITH assigned AS (
  SELECT CASE WHEN ts < TIMESTAMP '2024-03-01 00:00:00' THEN 'train'
              WHEN ts >= TIMESTAMP '2024-03-01 00:00:00' + INTERVAL 24 HOUR
                THEN 'eval' END AS split,
         user_id, ts
  FROM events WHERE ts IS NOT NULL
)
SELECT split, count(*) AS n_rows, count(DISTINCT user_id) AS n_users,
       min(ts) AS min_ts, max(ts) AS max_ts
FROM assigned WHERE split IS NOT NULL GROUP BY 1"""


def _streaming_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming drift monitor (third REAL streaming correctness row):
    the event value distribution streams through a FIXED-EDGE bucket
    histogram (state = exactly 10 rows in complete mode), then a batch
    finishing pass computes PSI against a pinned reference window
    (even event_ids). Edges come from the reference's own min/max —
    deterministic on both engines. Oracle = the identical batch SQL."""
    import uuid

    from whiterrabbit_spark.extensions import streaming as st

    ref = (
        read_parquet_table(spark, sf_dir, "events")
        .where(F.col("event_id") % 2 == 0)
        .select(F.col("value").cast("double").alias("v"))
        .where(F.col("v").isNotNull())
    )
    b = ref.agg(F.min("v").alias("lo"), F.max("v").alias("hi")).collect()[0]
    lo, hi = float(b["lo"]), float(b["hi"])
    ref_hist = st.streaming_value_histogram(
        ref.select(F.col("v").alias("value")), "value", lo, hi, 10
    )
    src = st.stream_events_from_parquet(spark, sf_dir)
    cur = st.streaming_value_histogram(src, "value", lo, hi, 10)
    name = f"wrs_streampsi_{uuid.uuid4().hex[:8]}"
    st.run_stream_to_memory(cur, name, mode="complete")
    out = st.finish_psi(spark.table(name), ref_hist)
    return out.select(
        F.round("psi", R).alias("psi"), "n_ref", "n_cur"
    )


_STREAMING_PSI_SQL = """
WITH ref AS (
  SELECT value::DOUBLE AS v FROM events
  WHERE event_id % 2 = 0 AND value IS NOT NULL
), b AS (
  SELECT min(v) AS lo, max(v) AS hi FROM ref
), w AS (
  SELECT lo, CASE WHEN hi > lo THEN (hi - lo) / 10 ELSE 1.0 END AS width
  FROM b
), rh AS (
  SELECT least(greatest(floor((v - w.lo) / w.width), 0), 9)::INT AS bucket,
         count(*) AS rn
  FROM ref, w GROUP BY 1
), cur AS (
  SELECT value::DOUBLE AS v FROM events WHERE value IS NOT NULL
), ch AS (
  SELECT least(greatest(floor((v - w.lo) / w.width), 0), 9)::INT AS bucket,
         count(*) AS cn
  FROM cur, w GROUP BY 1
), j AS (
  SELECT coalesce(rh.rn, 0) AS rn, coalesce(ch.cn, 0) AS cn
  FROM rh FULL OUTER JOIN ch ON rh.bucket = ch.bucket
), t AS (
  SELECT rn, cn,
         sum(rn) OVER () AS rt, sum(cn) OVER () AS ct
  FROM j
)
SELECT (round(sum((greatest(rn / rt, 1e-6) - greatest(cn / ct, 1e-6))
             * ln(greatest(rn / rt, 1e-6) / greatest(cn / ct, 1e-6))), 6) + 0.0)
         AS psi,
       sum(rn)::BIGINT AS n_ref,
       sum(cn)::BIGINT AS n_cur
FROM t"""


def _hist2d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Joint quantity x price heatmap (profile.hist2d): one bounds pass,
    one partial-aggregable groupBy(bucket_x, bucket_y) — output is at
    most bins² rows regardless of input size."""
    from whiterrabbit_spark.profile import hist2d

    li = read_parquet_table(spark, sf_dir, "lineitem")
    out = hist2d(li, "l_quantity", "l_extendedprice", bins_x=10, bins_y=10)
    return out.select(
        "bucket_x", "bucket_y",
        F.round("x_lo", R).alias("x_lo"), F.round("x_hi", R).alias("x_hi"),
        F.round("y_lo", R).alias("y_lo"), F.round("y_hi", R).alias("y_hi"),
        "n_rows",
    )


_HIST2D_SQL = """
WITH base AS (
  SELECT l_quantity::DOUBLE AS x, l_extendedprice::DOUBLE AS y
  FROM lineitem WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
), b AS (
  SELECT min(x) AS lx, max(x) AS hx, min(y) AS ly, max(y) AS hy FROM base
), w AS (
  SELECT lx, ly,
         CASE WHEN hx > lx THEN (hx - lx) / 10 ELSE 1.0 END AS wx,
         CASE WHEN hy > ly THEN (hy - ly) / 10 ELSE 1.0 END AS wy
  FROM b
), bucketed AS (
  SELECT least(floor((x - w.lx) / w.wx), 9)::BIGINT AS bucket_x,
         least(floor((y - w.ly) / w.wy), 9)::BIGINT AS bucket_y
  FROM base, w
)
SELECT bucket_x, bucket_y,
       (round(w.lx + bucket_x * w.wx, 6) + 0.0) AS x_lo,
       (round(w.lx + (bucket_x + 1) * w.wx, 6) + 0.0) AS x_hi,
       (round(w.ly + bucket_y * w.wy, 6) + 0.0) AS y_lo,
       (round(w.ly + (bucket_y + 1) * w.wy, 6) + 0.0) AS y_hi,
       count(*) AS n_rows
FROM bucketed, w
GROUP BY bucket_x, bucket_y, w.lx, w.wx, w.ly, w.wy"""


def _join_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders↔customer relationship profile (profile.join_cardinality):
    both sides collapse to key histograms before the full-outer join —
    the row-level join being profiled never executes."""
    from whiterrabbit_spark.profile import join_cardinality

    orders = read_parquet_table(spark, sf_dir, "orders")
    customer = read_parquet_table(spark, sf_dir, "customer")
    return join_cardinality(orders, customer, "o_custkey", "c_custkey")


_JOIN_CARDINALITY_SQL = """
WITH lh AS (
  SELECT o_custkey AS k, count(*) AS ln FROM orders
  WHERE o_custkey IS NOT NULL GROUP BY 1
), rh AS (
  SELECT c_custkey AS k, count(*) AS rn FROM customer
  WHERE c_custkey IS NOT NULL GROUP BY 1
), j AS (
  SELECT lh.k AS lk, rh.k AS rk, ln, rn
  FROM lh FULL OUTER JOIN rh ON lh.k = rh.k
), s AS (
  SELECT coalesce(sum(ln), 0)::BIGINT AS left_rows,
         coalesce(sum(rn), 0)::BIGINT AS right_rows,
         count(lk) AS left_keys,
         count(rk) AS right_keys,
         coalesce(max(ln), 0)::BIGINT AS max_left_fanout,
         coalesce(max(rn), 0)::BIGINT AS max_right_fanout,
         coalesce(sum(CASE WHEN rk IS NULL THEN ln END), 0)::BIGINT
           AS left_orphan_rows,
         coalesce(sum(CASE WHEN lk IS NULL THEN rn END), 0)::BIGINT
           AS right_orphan_rows,
         coalesce(max(CASE WHEN rk IS NOT NULL AND ln > 1 THEN ln END), 0)
           AS l_multi,
         coalesce(max(CASE WHEN lk IS NOT NULL AND rn > 1 THEN rn END), 0)
           AS r_multi
  FROM j
), nulls AS (
  SELECT (SELECT count(*) FROM orders WHERE o_custkey IS NULL)::BIGINT
           AS left_null_rows,
         (SELECT count(*) FROM customer WHERE c_custkey IS NULL)::BIGINT
           AS right_null_rows
)
SELECT left_rows, right_rows, left_keys, right_keys,
       max_left_fanout, max_right_fanout,
       left_orphan_rows, right_orphan_rows,
       left_null_rows, right_null_rows,
       CASE WHEN l_multi > 0 AND r_multi > 0 THEN 'M:N'
            WHEN l_multi > 0 THEN 'N:1'
            WHEN r_multi > 0 THEN '1:N'
            ELSE '1:1' END AS relationship
FROM s, nulls"""


def _keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical near-dup selection (dedup.keep_best_dedup): simhash
    clusters keep their highest-quality member (6-dp-agreed score, id
    tie-break); singletons bypass the window entirely. The oracle
    rebuilds reachability with a RECURSIVE CTE and the same argmax."""
    from whiterrabbit_spark.extensions import textstats as ts
    from whiterrabbit_spark.extensions.dedup import keep_best_dedup

    docs = read_parquet_table(spark, sf_dir, "documents")
    pairs = X.simhash_near_pairs(docs, "text", "doc_id", max_hamming=3,
                                 max_bucket_size=2_000)
    scored = ts.quality_score(docs, "text", "doc_id").select(
        "doc_id", F.col("quality_score").alias("score")
    )
    out = keep_best_dedup(scored, pairs, "doc_id", "score")
    # -1 sentinel for "no cluster": the compare harness sorts row tuples
    # and NULLs don't order
    return out.select(
        "doc_id",
        F.coalesce("cluster_id", F.lit(-1)).alias("cluster_id"),
        "score", "kept",
    )


def _keep_best_sql() -> str:
    return f"""
WITH RECURSIVE pairs AS ({_simhash_sql()}),
edges AS (
  SELECT id1 AS a, id2 AS b FROM pairs
  UNION ALL
  SELECT id2 AS a, id1 AS b FROM pairs
),
reach(node, lbl) AS (
  SELECT a, a FROM edges
  UNION
  SELECT e.b, r.lbl FROM reach r JOIN edges e ON e.a = r.node
),
cc AS (
  SELECT node, min(lbl) AS cluster_id FROM reach GROUP BY node
),
{_quality_core_sql()},
j AS (
  SELECT s.doc_id, (round(s.quality_score, 6) + 0.0) AS score, cc.cluster_id
  FROM sc s LEFT JOIN cc ON cc.node = s.doc_id
),
r AS (
  SELECT doc_id, cluster_id, score,
         CASE WHEN cluster_id IS NULL THEN 1
              ELSE row_number() OVER (PARTITION BY cluster_id
                                      ORDER BY score DESC, doc_id ASC)
         END AS rn
  FROM j
)
SELECT doc_id, coalesce(cluster_id, -1) AS cluster_id, score, rn = 1 AS kept
FROM r"""


def _incremental_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental (mergeable-sketch) profile: three disjoint lineitem
    slices profiled independently (profile.profile_sketch), combined by
    merge_profile_sketches WITHOUT rescanning — the partitioned-lake
    pattern where per-partition sketch rows answer range queries. The
    oracle checks the exact mergeable fields (counts/sum/min/max/mean)
    against a whole-table pass; the HLL distinct estimate has no DuckDB
    equivalent and is pinned by unit tests instead."""
    from whiterrabbit_spark.profile import (merge_profile_sketches,
                                            profile_sketch)

    li = read_parquet_table(spark, sf_dir, "lineitem")
    # columns whose sums stay far inside double rounding agreement
    # across engine summation orders (integral quantity is EXACT below
    # 2^53; discount/tax sums are ~1e3-1e4 where 6-dp rounding grain
    # dwarfs reordering error). l_extendedprice sums to ~1e10 where no
    # fixed decimal rounding is order-stable — its mean is already
    # oracle-covered by summary_stats_lineitem.
    cols = ["l_quantity", "l_discount", "l_tax"]
    k = F.col("l_orderkey")
    slices = [
        profile_sketch(li.where(k % 3 == i), cols) for i in range(3)
    ]
    merged = merge_profile_sketches(*slices)
    return merged.select(
        "column_name", "total_count", "non_missing_count",
        F.round("sum_val", 4).alias("sum_val"),
        F.round("min_val", R).alias("min_val"),
        F.round("max_val", R).alias("max_val"),
        # mean derived from the agreed rounded sum: both engines then
        # round the IDENTICAL division result, so decimal half-boundary
        # means (e.g. 2995.11/60000) can't split between engines
        F.round(
            F.round("sum_val", 4) / F.col("non_missing_count"), R
        ).alias("mean_val"),
    )


_INCREMENTAL_PROFILE_SQL = """
WITH m AS (
  SELECT 'l_quantity' AS column_name, l_quantity::DOUBLE AS v FROM lineitem
  UNION ALL
  SELECT 'l_discount', l_discount::DOUBLE FROM lineitem
  UNION ALL
  SELECT 'l_tax', l_tax::DOUBLE FROM lineitem
)
SELECT column_name,
       count(*) AS total_count,
       count(v) AS non_missing_count,
       (round(sum(v), 4) + 0.0) AS sum_val,
       (round(min(v), 6) + 0.0) AS min_val,
       (round(max(v), 6) + 0.0) AS max_val,
       (round(CASE WHEN count(v) > 0
                  THEN round(sum(v), 4) / count(v) END, 6) + 0.0) AS mean_val
FROM m GROUP BY 1"""


def _quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learned quality filter (classifier.train_quality_classifier):
    hashing-TF + logistic regression trained on Gopher+C4 weak labels,
    scored over the corpus — map-only scoring, broadcast-sized model.

    Graduated from rows-only to an INVARIANT oracle (VERDICT r7 #4,
    the whiten_embeddings pattern): the learned weights are not
    SQL-expressible, but the fit's defining property on a linearly-
    separable task IS — the token-derived label is a regex DuckDB can
    recompute, and on this corpus the trained boundary classifies the
    training set perfectly at every oracle SF (measured: 500/500 at
    sf0.01, 5000/5000 at sf0.1; the planted-separation unit test pins
    generalization on held-out docs). The entry therefore emits
    (n_docs, n_positive, n_predicted_positive, n_agree, accuracy):
    n_docs/n_positive are cross-engine label counts, the rest are the
    perfect-separation identities. Per-doc scores remain available via
    the operator API (classifier.score_quality)."""
    from whiterrabbit_spark.extensions.classifier import (
        score_quality, train_quality_classifier, weak_labels)

    docs = read_parquet_table(spark, sf_dir, "documents")
    # the Gopher weak labels are degenerate on this synthetic corpus (no
    # terminal punctuation → all-drop) and its lang column is independent
    # of the text, so the demonstrated task is a token-derived topic
    # label the text genuinely determines — the model must LEARN the
    # boundary from hashed features (weak_labels stays the API for real
    # corpora; the planted-separation unit test pins generalization)
    labeled = docs.withColumn(
        "label", F.col("text").rlike(r"\bspark\b").cast("double")
    )
    model = train_quality_classifier(
        labeled, num_features=1 << 16, max_iter=10
    )
    out = score_quality(model, docs).join(
        labeled.select("doc_id", "label"), "doc_id"
    )
    return out.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("label").cast("long").alias("n_positive"),
        F.sum(F.col("predicted_keep").cast("long")).alias(
            "n_predicted_positive"
        ),
        F.sum(
            (F.col("predicted_keep").cast("double") == F.col("label"))
            .cast("long")
        ).alias("n_agree"),
    ).select(
        "n_docs",
        "n_positive",
        "n_predicted_positive",
        "n_agree",
        F.round(F.col("n_agree") / F.col("n_docs"), 6).alias("accuracy"),
    )


_QUALITY_CLASSIFIER_SQL = """
WITH lab AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         CAST(count(*) FILTER (regexp_matches(text, '\\bspark\\b'))
              AS BIGINT) AS n_positive
  FROM documents
)
SELECT n_docs, n_positive,
       n_positive AS n_predicted_positive,
       n_docs AS n_agree,
       1.0::DOUBLE AS accuracy
FROM lab"""


def _mask_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String-shape (mask) profile of customer name / documents source
    (frequency.mask_profile): map-side A/a/9 regexp chain inside codegen,
    one melt→groupBy on the collapsed mask cardinality."""
    from whiterrabbit_spark.frequency import mask_profile

    cust = read_parquet_table(spark, sf_dir, "customer").select(
        F.col("c_name").alias("customer_c_name")
    )
    docs = read_parquet_table(spark, sf_dir, "documents").select(
        F.col("source").alias("documents_source")
    )
    out = mask_profile(cust, ["customer_c_name"]).unionByName(
        mask_profile(docs, ["documents_source"])
    )
    return out.select(
        "column_name", "mask", "mask_collapsed", "count",
        F.round("share", R).alias("share"),
    )


_MASK_PROFILE_SQL = r"""
WITH vals AS (
  SELECT 'customer_c_name' AS column_name, c_name::VARCHAR AS v
  FROM customer WHERE c_name IS NOT NULL AND c_name::VARCHAR <> ''
  UNION ALL
  SELECT 'documents_source', source::VARCHAR FROM documents
  WHERE source IS NOT NULL AND source::VARCHAR <> ''
), masked AS (
  SELECT column_name,
         translate(v,
           'ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789',
           'AAAAAAAAAAAAAAAAAAAAAAAAAAaaaaaaaaaaaaaaaaaaaaaaaaaa9999999999'
         ) AS mask
  FROM vals
), counts AS (
  SELECT column_name, mask, count(*) AS count FROM masked GROUP BY 1, 2
), ranked AS (
  SELECT column_name, mask, count,
         count / sum(count) OVER (PARTITION BY column_name) AS share,
         row_number() OVER (PARTITION BY column_name
                            ORDER BY count DESC, mask ASC) AS rn
  FROM counts
)
SELECT column_name, mask,
       regexp_replace(regexp_replace(regexp_replace(
         mask, 'A+', 'A', 'g'), 'a+', 'a', 'g'), '9+', '9', 'g'
       ) AS mask_collapsed,
       count, (round(share, 6) + 0.0) AS share
FROM ranked WHERE rn <= 20"""


def _resample_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly per-event-type resample with forward fill
    (sequences.resample_fill): grid from the O(groups) bounds frame,
    forward-fill window partitions are series-length bound."""
    from whiterrabbit_spark.extensions.sequences import resample_fill

    events = read_parquet_table(spark, sf_dir, "events")
    out = resample_fill(events, "ts", "event_type", "value")
    return out.select(
        "group_key", "bucket_ts", "n_events",
        F.round("v_sum", R).alias("v_sum"),
        F.round("v_filled", R).alias("v_filled"),
    )


_RESAMPLE_FILL_SQL = """
WITH agg AS (
  SELECT event_type AS group_key, date_trunc('hour', ts) AS bucket_ts,
         count(*) AS n_events, sum(value) AS v_sum
  FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL
  GROUP BY 1, 2
), bounds AS (
  SELECT group_key, min(bucket_ts) AS lo, max(bucket_ts) AS hi
  FROM agg GROUP BY 1
), grid AS (
  SELECT group_key,
         unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS bucket_ts
  FROM bounds
), joined AS (
  SELECT g.group_key, g.bucket_ts, a.n_events, a.v_sum
  FROM grid g LEFT JOIN agg a USING (group_key, bucket_ts)
)
SELECT group_key, bucket_ts,
       coalesce(n_events, 0)::BIGINT AS n_events,
       (round(v_sum, 6) + 0.0) AS v_sum,
       (round(last_value(v_sum IGNORE NULLS) OVER (
         PARTITION BY group_key ORDER BY bucket_ts
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) + 0.0) AS v_filled
FROM joined"""


def _grouped_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language top-K value tables over documents(source)
    (frequency.grouped_value_frequencies): one melt + one
    (group, column, value) groupBy; ranking windows see only the
    aggregated counts frame."""
    from whiterrabbit_spark.frequency import grouped_value_frequencies

    docs = read_parquet_table(spark, sf_dir, "documents")
    out = grouped_value_frequencies(
        docs.select("lang", "source"), "lang", ["source"]
    )
    return out.select(
        "lang", "column_name", "value", "count",
        F.round("percentage", R).alias("percentage"),
    )


_GROUPED_FREQ_SQL = """
WITH cnt AS (
  SELECT lang::VARCHAR AS lang, 'source' AS column_name,
         source::VARCHAR AS value, count(*) AS count
  FROM documents
  WHERE source IS NOT NULL AND source <> ''
  GROUP BY 1, 3
  HAVING count(*) >= 5
), kept AS (
  SELECT *, row_number() OVER (
           PARTITION BY lang, column_name
           ORDER BY count DESC, value ASC) AS rn
  FROM cnt
)
SELECT lang, column_name, value, count,
       (round(count::DOUBLE / sum(count) OVER (PARTITION BY lang, column_name), 6) + 0.0)
         AS percentage
FROM kept WHERE rn <= 1000"""


def _ecdf_attach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-row percentile rank via profile.ecdf_attach: the ECDF lookup
    table joins BACK to the fact table on the value — broadcast when the
    probed distinct count fits an executor, sort-merge above that (the
    r2-judged continuous-column hazard); the oracle computes the same
    rank with a cume_dist window directly over the rows."""
    from whiterrabbit_spark.profile import ecdf_attach

    orders = read_parquet_table(spark, sf_dir, "orders")
    out = ecdf_attach(orders, "o_totalprice", out_col="price_pctile")
    return out.select(
        "o_orderkey", F.round("price_pctile", R).alias("price_pctile")
    )


_ECDF_ATTACH_SQL = """
SELECT o_orderkey,
       (round(cume_dist() OVER (ORDER BY o_totalprice), 6) + 0.0) AS price_pctile
FROM orders WHERE o_totalprice IS NOT NULL
UNION ALL
SELECT o_orderkey, NULL FROM orders WHERE o_totalprice IS NULL"""


def _ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample KS drift of o_totalprice vs the same deterministic
    'next snapshot' the table-diff query uses (profile.ks_drift):
    binning-free companion to the PSI drift query."""
    from whiterrabbit_spark.profile import ks_drift

    orders = read_parquet_table(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    old = orders.select("o_orderkey", "o_totalprice")
    new = old.where(k % 97 != 0).withColumn(
        "o_totalprice",
        F.when(k % 89 == 0, F.col("o_totalprice") + 10.0).otherwise(
            F.col("o_totalprice")
        ),
    )
    out = ks_drift(old, new, "o_totalprice")
    return out.select(
        F.round("ks_stat", R).alias("ks_stat"), "n_old", "n_new"
    )


_KS_DRIFT_SQL = """
WITH old_t AS (
  SELECT o_totalprice AS v FROM orders WHERE o_totalprice IS NOT NULL
), new_t AS (
  SELECT CASE WHEN o_orderkey % 89 = 0 THEN o_totalprice + 10.0
              ELSE o_totalprice END AS v
  FROM orders WHERE o_orderkey % 97 <> 0 AND o_totalprice IS NOT NULL
), e1 AS (
  SELECT v, (sum(cnt) OVER (ORDER BY v))::DOUBLE / (sum(cnt) OVER ()) AS c_old
  FROM (SELECT v, count(*) AS cnt FROM old_t GROUP BY 1)
), e2 AS (
  SELECT v, (sum(cnt) OVER (ORDER BY v))::DOUBLE / (sum(cnt) OVER ()) AS c_new
  FROM (SELECT v, count(*) AS cnt FROM new_t GROUP BY 1)
), m AS (
  SELECT coalesce(e1.v, e2.v) AS v, e1.c_old, e2.c_new
  FROM e1 FULL OUTER JOIN e2 ON e1.v = e2.v
), f AS (
  SELECT coalesce(last_value(c_old IGNORE NULLS)
                  OVER (ORDER BY v ROWS UNBOUNDED PRECEDING), 0.0) AS f_old,
         coalesce(last_value(c_new IGNORE NULLS)
                  OVER (ORDER BY v ROWS UNBOUNDED PRECEDING), 0.0) AS f_new
  FROM m
)
SELECT (round(max(abs(f_old - f_new)), 6) + 0.0) AS ks_stat,
       (SELECT count(*) FROM old_t) AS n_old,
       (SELECT count(*) FROM new_t) AS n_new
FROM f"""


def _key_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew profile of orders.o_custkey
    (profile.key_skew_report): one groupBy(key) histogram + flat agg +
    distributed top-k — the pre-shuffle skew diagnostic."""
    from whiterrabbit_spark.profile import key_skew_report

    orders = read_parquet_table(spark, sf_dir, "orders")
    out = key_skew_report(orders, "o_custkey", top_k=10)
    return out.select("metric", F.round("value", 6).alias("value"))


_KEY_SKEW_SQL = """
WITH h AS (
  SELECT o_custkey AS k, count(*) AS cnt FROM orders GROUP BY 1
), s AS (
  SELECT sum(cnt) AS n_rows,
         count(*) FILTER (k IS NOT NULL) AS n_keys,
         coalesce(sum(cnt) FILTER (k IS NULL), 0) AS null_rows,
         max(cnt) AS max_count,
         avg(cnt) AS avg_count,
         stddev_pop(cnt) AS sd_count
  FROM h
), t AS (
  SELECT cnt, row_number() OVER (ORDER BY cnt DESC, k ASC) AS rn FROM h
)
SELECT metric, (round(value, 6) + 0.0) AS value FROM (
  SELECT 'n_rows' AS metric, n_rows::DOUBLE AS value FROM s
  UNION ALL SELECT 'n_keys', n_keys::DOUBLE FROM s
  UNION ALL SELECT 'null_share', null_rows::DOUBLE / n_rows FROM s
  UNION ALL SELECT 'max_count', max_count::DOUBLE FROM s
  UNION ALL SELECT 'avg_count', avg_count FROM s
  UNION ALL SELECT 'cv_count', sd_count / avg_count FROM s
  UNION ALL SELECT 'top1_share',
    (SELECT sum(cnt) FROM t WHERE rn <= 1)::DOUBLE / (SELECT n_rows FROM s)
  UNION ALL SELECT 'top10_share',
    (SELECT sum(cnt) FROM t WHERE rn <= 10)::DOUBLE / (SELECT n_rows FROM s)
)"""


def _streaming_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fourth REAL Structured Streaming correctness row — STREAM-STREAM
    inner join with a time-range bound (the state-bounding predicate):
    every purchase joined to the same user's clicks in the preceding
    hour, both sides file streams. Inner-join matches emit as found, so
    a bounded source converges to the batch join — the oracle."""
    import uuid

    from whiterrabbit_spark.extensions import streaming as st

    l_src = st.stream_events_from_parquet(spark, sf_dir)
    r_src = st.stream_events_from_parquet(spark, sf_dir)
    joined = st.stream_stream_attribution_join(l_src, r_src)
    name = f"wrs_streamjoin_{uuid.uuid4().hex[:8]}"
    st.run_stream_to_memory(joined, name, mode="append")
    t = spark.table(name)
    return t.select(
        "user_id",
        "l_event_id",
        "r_event_id",
        F.date_format("l_ts", "yyyy-MM-dd HH:mm:ss").alias("l_ts"),
        F.date_format("r_ts", "yyyy-MM-dd HH:mm:ss").alias("r_ts"),
        F.round("l_value", R).alias("l_value"),
        F.round("r_value", R).alias("r_value"),
    )


_STREAMING_JOIN_SQL = """
SELECT l.user_id,
       l.event_id AS l_event_id,
       r.event_id AS r_event_id,
       strftime(l.ts, '%Y-%m-%d %H:%M:%S') AS l_ts,
       strftime(r.ts, '%Y-%m-%d %H:%M:%S') AS r_ts,
       (round(l.value, 6) + 0.0) AS l_value,
       (round(r.value, 6) + 0.0) AS r_value
FROM events l JOIN events r
  ON l.user_id = r.user_id
 AND l.event_type = 'click' AND r.event_type = 'purchase'
 AND r.ts >= l.ts AND r.ts <= l.ts + INTERVAL 1 HOUR"""


def _streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fifth REAL Structured Streaming correctness row — streaming exact
    dedup (streaming.dedup_stream): the events source is fed TWICE (two
    file streams unioned — an at-least-once replay), deduplicated on
    event_id inside the stream (state-store keyed dedup, watermark-bounded
    state), and must converge to exactly the batch table. Duplicate
    arrivals are bit-identical rows, so which copy survives is
    observationally irrelevant — the convergence oracle is deterministic
    by construction."""
    import uuid

    from whiterrabbit_spark.extensions import streaming as st

    # props is projected out BEFORE the union+dedup (guide §2.3 —
    # project before the exchange): the final select never reads it,
    # yet un-projected it rides the state-store shuffle and the sink
    # for every row of both stream legs. Duplicate arrivals are
    # bit-identical, so dropping a never-emitted column cannot change
    # which (event_id, ts) row survives — r9 STREAM_SCALE A/B measures
    # the wide vs narrow shapes.
    cols = ["event_id", "ts", "user_id", "event_type", "value"]
    src = (
        st.stream_events_from_parquet(spark, sf_dir)
        .select(*cols)
        .unionByName(
            st.stream_events_from_parquet(spark, sf_dir).select(*cols)
        )
    )
    deduped = st.dedup_stream(src, key_cols=["event_id"])
    name = f"wrs_streamdedup_{uuid.uuid4().hex[:8]}"
    st.run_stream_to_memory(deduped, name, mode="append")
    t = spark.table(name)
    return t.select(
        "event_id",
        "user_id",
        "event_type",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts"),
        F.round("value", R).alias("value"),
    )


_STREAMING_DEDUP_SQL = """
SELECT event_id, user_id, event_type,
       strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts,
       (round(value, 6) + 0.0) AS value
FROM events"""


def _grouped_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-group quartiles of l_quantity by return flag
    (profile.grouped_quantiles): the weighted-percentile-over-histogram
    trick per group — the final percentile buffers |distinct values in
    the group|, never |rows|."""
    from whiterrabbit_spark.profile import grouped_quantiles

    li = read_parquet_table(spark, sf_dir, "lineitem")
    out = grouped_quantiles(li, "l_returnflag", "l_quantity")
    return out.select(
        "group_key",
        F.round("q_0_25", R).alias("q_0_25"),
        F.round("q_0_5", R).alias("q_0_5"),
        F.round("q_0_75", R).alias("q_0_75"),
    )


_GROUPED_QUANTILES_SQL = """
SELECT l_returnflag AS group_key,
       (round(quantile_cont(l_quantity, 0.25), 6) + 0.0) AS q_0_25,
       (round(quantile_cont(l_quantity, 0.50), 6) + 0.0) AS q_0_5,
       (round(quantile_cont(l_quantity, 0.75), 6) + 0.0) AS q_0_75
FROM lineitem WHERE l_quantity IS NOT NULL
GROUP BY 1"""


def _missingness_patterns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structural-missingness profile (profile.missingness_patterns) over
    events enriched with the JSON-derived ``k`` field. The synthetic
    corpus is NULL-free, so the expected output is the single all-present
    pattern — itself the answer a curator wants ("no structural loss");
    multi-pattern behavior is pinned by the unit test on synthetic
    nulls."""
    from whiterrabbit_spark.profile import missingness_patterns

    ev = read_parquet_table(spark, sf_dir, "events")
    enriched = ev.select(
        F.get_json_object("props", "$.k").cast("long").alias("k"),
        "event_type",
        "value",
    )
    out = missingness_patterns(enriched, ["k", "event_type", "value"])
    return out.select(
        "pattern", "n_rows", F.round("share", R).alias("share")
    )


_MISSINGNESS_SQL = """
WITH enriched AS (
  SELECT CASE WHEN json_valid(props)
              THEN TRY_CAST(props->>'k' AS BIGINT) END AS k,
         event_type, value
  FROM events
), pat AS (
  SELECT concat_ws(',',
           'k=' || (k IS NULL)::INT,
           'event_type=' || (event_type IS NULL)::INT,
           'value=' || (value IS NULL)::INT) AS pattern
  FROM enriched
), counted AS (
  SELECT pattern, count(*) AS n_rows FROM pat GROUP BY 1
)
SELECT pattern, n_rows,
       (round(n_rows * 1.0 / sum(n_rows) OVER (), 6) + 0.0) AS share
FROM counted"""


def _seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-day × ISO-day-of-week activity matrix over events
    (profile.seasonality_profile): one partial-aggregable groupBy, ≤168
    rows out."""
    from whiterrabbit_spark.profile import seasonality_profile

    ev = read_parquet_table(spark, sf_dir, "events")
    out = seasonality_profile(ev, "ts", "value")
    return out.select(
        "iso_dow", "hour", "n_events",
        F.round("avg_value", R).alias("avg_value"),
    )


_SEASONALITY_SQL = """
SELECT isodow(ts)::BIGINT AS iso_dow,
       hour(ts)::BIGINT AS hour,
       count(*) AS n_events,
       (round(avg(value), 6) + 0.0) AS avg_value
FROM events
GROUP BY 1, 2"""


def _tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility by language: BPE tokens per whitespace word
    and characters per BPE token — the per-language cost model for a
    token budget (high-fertility languages consume budget faster; the
    standard multilingual-tokenizer health metric). One scan, one
    partial-aggregable groupBy(lang)."""
    docs = read_parquet_table(spark, sf_dir, "documents")
    t = F.col("text")
    enriched = docs.select(
        "lang",
        ts.bpe_token_count(t).alias("n_bpe"),
        ts.token_count(t).alias("n_ws"),
        F.length(t).alias("n_chars"),
    )
    return (
        enriched.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_bpe").alias("total_bpe"),
            F.round(F.sum("n_bpe") / F.sum("n_ws"), R).alias("fertility"),
            F.round(F.sum("n_chars") / F.sum("n_bpe"), R).alias(
                "chars_per_token"
            ),
        )
    )


_FERTILITY_SQL = f"""
WITH tok AS (
  SELECT lang,
         len(regexp_extract_all(text, '{ts.BPE_TOKEN_RE.replace("'", "''")}')) AS n_bpe,
         CASE WHEN trim(text) = '' THEN 0
              ELSE len(string_split_regex(lower(trim(text)), '\\s+')) END AS n_ws,
         length(text) AS n_chars
  FROM documents
)
SELECT lang, count(*) AS n_docs,
       sum(n_bpe)::BIGINT AS total_bpe,
       (round(sum(n_bpe) * 1.0 / sum(n_ws), 6) + 0.0) AS fertility,
       (round(sum(n_chars) * 1.0 / sum(n_bpe), 6) + 0.0) AS chars_per_token
FROM tok GROUP BY 1"""


def _centroid_dispersion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding cluster quality (similarity.
    label_centroid_dispersion): centroid norm + members' mean/min cosine
    to their own centroid. The shuffle carries O(labels × dim) centroid
    state; vectors never move (broadcast centroid join + JVM fold
    cosine)."""
    emb = read_parquet_table(spark, sf_dir, "embeddings")
    out = sim.label_centroid_dispersion(emb, "embedding", "label", dim=EMB_DIM)
    return out.select(
        "label",
        "n_members",
        F.round("centroid_norm", R).alias("centroid_norm"),
        F.round("avg_cos_to_centroid", R).alias("avg_cos_to_centroid"),
        F.round("min_cos_to_centroid", R).alias("min_cos_to_centroid"),
    )


_CENTROID_DISPERSION_SQL = """
WITH dims AS (
  SELECT label, vec_id, t.i AS i, embedding[t.i]::DOUBLE AS x
  FROM embeddings, unnest(generate_series(1, 64)) AS t(i)
), cent AS (
  SELECT label, i, avg(x) AS c FROM dims GROUP BY 1, 2
), per_member AS (
  SELECT d.label, d.vec_id,
         sum(d.x * c.c) AS dot,
         sqrt(sum(d.x * d.x)) AS nx,
         sqrt(sum(c.c * c.c)) AS nc
  FROM dims d JOIN cent c ON c.label = d.label AND c.i = d.i
  GROUP BY 1, 2
), scored AS (
  SELECT label, nc,
         dot / (greatest(nx, 1e-300) * greatest(nc, 1e-300)) AS cos
  FROM per_member
)
SELECT label::BIGINT AS label, count(*) AS n_members,
       (round(any_value(nc), 6) + 0.0) AS centroid_norm,
       (round(avg(cos), 6) + 0.0) AS avg_cos_to_centroid,
       (round(min(cos), 6) + 0.0) AS min_cos_to_centroid
FROM scored GROUP BY 1"""


def _cap_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain document cap (C4/RefinedWeb-style "≤N pages per host"):
    deterministic md5-ordered keep-set, one WindowGroupLimit shuffle
    (splits.cap_per_group)."""
    from whiterrabbit_spark.extensions import splits as sp

    docs = read_parquet_table(spark, sf_dir, "documents")
    return sp.cap_per_group(docs, "source", "doc_id", cap=40).select(
        "doc_id", "source", "lang"
    )


_CAP_PER_SOURCE_SQL = """
WITH ranked AS (
  SELECT doc_id, source, lang,
         row_number() OVER (
           PARTITION BY source
           ORDER BY md5(doc_id::VARCHAR) ASC, doc_id ASC
         ) AS rn
  FROM documents
)
SELECT doc_id, source, lang FROM ranked WHERE rn <= 40"""


def _table_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff profile (extensions.diff.table_diff_summary): orders
    vs a deterministically perturbed 'next snapshot' (keys %97 deleted,
    %89 repriced, %101 re-keyed as additions). One full-outer key join +
    flat agg; output is O(columns)."""
    from whiterrabbit_spark.extensions.diff import table_diff_summary

    orders = read_parquet_table(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    old = orders.select("o_orderkey", "o_orderstatus", "o_totalprice")
    surviving = old.where(k % 97 != 0)
    modified = surviving.withColumn(
        "o_totalprice",
        F.when(k % 89 == 0, F.col("o_totalprice") + 10.0).otherwise(
            F.col("o_totalprice")
        ),
    )
    additions = old.where(k % 101 == 0).select(
        (k + 1_000_000_000).alias("o_orderkey"), "o_orderstatus", "o_totalprice"
    )
    new = modified.unionByName(additions)
    return table_diff_summary(old, new, "o_orderkey").orderBy("metric")


_TABLE_DIFF_SQL = """
WITH old_t AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
), new_t AS (
  SELECT o_orderkey, o_orderstatus,
         CASE WHEN o_orderkey % 89 = 0 THEN o_totalprice + 10.0
              ELSE o_totalprice END AS o_totalprice
  FROM orders WHERE o_orderkey % 97 <> 0
  UNION ALL
  SELECT o_orderkey + 1000000000, o_orderstatus, o_totalprice
  FROM orders WHERE o_orderkey % 101 = 0
), j AS (
  SELECT o.o_orderkey AS ok, n.o_orderkey AS nk,
         (o.o_orderkey IS NOT NULL AND n.o_orderkey IS NOT NULL) AS in_both,
         (o.o_orderkey IS NOT NULL AND n.o_orderkey IS NOT NULL
          AND o.o_orderstatus IS DISTINCT FROM n.o_orderstatus) AS d_status,
         (o.o_orderkey IS NOT NULL AND n.o_orderkey IS NOT NULL
          AND o.o_totalprice IS DISTINCT FROM n.o_totalprice) AS d_price
  FROM old_t o FULL OUTER JOIN new_t n ON o.o_orderkey = n.o_orderkey
), m AS (
  SELECT count(*) FILTER (ok IS NULL) AS added,
         count(*) FILTER (nk IS NULL) AS removed,
         count(*) FILTER (d_status OR d_price) AS changed,
         count(*) FILTER (in_both AND NOT (d_status OR d_price)) AS unchanged,
         count(*) FILTER (d_status) AS c_status,
         count(*) FILTER (d_price) AS c_price
  FROM j
)
SELECT metric, n FROM (
  SELECT 'added' AS metric, added AS n FROM m
  UNION ALL SELECT 'removed', removed FROM m
  UNION ALL SELECT 'changed', changed FROM m
  UNION ALL SELECT 'unchanged', unchanged FROM m
  UNION ALL SELECT 'col_changed:o_orderstatus', c_status FROM m
  UNION ALL SELECT 'col_changed:o_totalprice', c_price FROM m
) ORDER BY metric"""


def _equi_depth_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth (decile) histogram of l_extendedprice
    (profile.equi_depth_histogram): exact type-7 cuts from the weighted
    histogram trick, then one partial-aggregable bucket groupBy."""
    from whiterrabbit_spark.profile import equi_depth_histogram

    li = read_parquet_table(spark, sf_dir, "lineitem")
    out = equi_depth_histogram(li, "l_extendedprice", bins=10)
    return out.select(
        "bucket",
        F.round("bucket_lo", 4).alias("bucket_lo"),
        F.round("bucket_hi", 4).alias("bucket_hi"),
        "n_rows",
    ).orderBy("bucket")


_EQUI_DEPTH_SQL = """
WITH c AS (
  SELECT quantile_cont(l_extendedprice,
                       [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]) AS cuts,
         min(l_extendedprice) AS lo, max(l_extendedprice) AS hi
  FROM lineitem WHERE l_extendedprice IS NOT NULL
), b AS (
  SELECT len(list_filter((SELECT cuts FROM c), x -> l_extendedprice > x))
           AS bucket
  FROM lineitem WHERE l_extendedprice IS NOT NULL
)
SELECT bucket,
       (round(list_prepend((SELECT lo FROM c), (SELECT cuts FROM c))[bucket + 1], 4) + 0.0)
         AS bucket_lo,
       (round(list_append((SELECT cuts FROM c), (SELECT hi FROM c))[bucket + 1], 4) + 0.0)
         AS bucket_hi,
       count(*) AS n_rows
FROM b GROUP BY bucket ORDER BY bucket"""


def _ecdf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ECDF lookup for o_totalprice (profile.ecdf_lookup): cume_dist
    over the value HISTOGRAM, never a per-row global sort."""
    from whiterrabbit_spark.profile import ecdf_lookup

    orders = read_parquet_table(spark, sf_dir, "orders")
    out = ecdf_lookup(orders, "o_totalprice")
    return out.select(
        F.round("v", 6).alias("v"), F.round("cume_dist", 6).alias("cume_dist")
    )


_ECDF_SQL = """
WITH h AS (
  SELECT o_totalprice AS v, count(*) AS cnt
  FROM orders WHERE o_totalprice IS NOT NULL GROUP BY 1
)
SELECT (round(v, 6) + 0.0) AS v,
       (round((sum(cnt) OVER (ORDER BY v))::DOUBLE
             / (sum(cnt) OVER ())::DOUBLE, 6) + 0.0) AS cume_dist
FROM h"""


def _span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document k-word-chunk repetition scrub (dedup.span_dedup):
    one map-only projection of JVM higher-order functions — zero
    shuffles; the within-doc complement to the corpus-global passes."""
    from whiterrabbit_spark.extensions import dedup as dd

    docs = read_parquet_table(spark, sf_dir, "documents")
    return dd.span_dedup(docs, "text", "doc_id", k=3)


_SPAN_DEDUP_SQL = """
WITH w AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS words
  FROM documents WHERE text IS NOT NULL AND length(trim(text)) > 0
), c AS (
  SELECT doc_id, i AS ord,
         array_to_string(words[(i-1)*3+1:i*3], ' ') AS chunk
  FROM w, unnest(generate_series(1, CAST(ceil(len(words)/3.0) AS BIGINT))) AS t(i)
), f AS (
  SELECT doc_id, ord, chunk,
         row_number() OVER (PARTITION BY doc_id, chunk ORDER BY ord) AS rn
  FROM c
), agg AS (
  SELECT doc_id,
         count(*) AS n_chunks,
         count(*) FILTER (rn > 1) AS n_removed,
         string_agg(CASE WHEN rn = 1 THEN chunk END, ' ' ORDER BY ord)
           AS text_scrubbed
  FROM f GROUP BY doc_id
)
-- LEFT JOIN back so NULL / empty / whitespace-only docs emit the same
-- (0, 0, '') row the engine's empty branch does instead of vanishing
SELECT d.doc_id,
       CAST(coalesce(a.n_chunks, 0) AS BIGINT) AS n_chunks,
       CAST(coalesce(a.n_removed, 0) AS BIGINT) AS n_removed,
       coalesce(a.text_scrubbed, '') AS text_scrubbed
FROM documents d LEFT JOIN agg a USING (doc_id)"""


def _attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First/last-touch conversion attribution (sequences.attribution):
    one user-partitioned window for both endpoints, |channels|-row
    partial-aggregable rollup."""
    from whiterrabbit_spark.extensions.sequences import attribution

    ev = read_parquet_table(spark, sf_dir, "events")
    return attribution(ev, "purchase")


_ATTRIBUTION_SQL = """
WITH t AS (
  SELECT event_type,
         first_value(CASE WHEN event_type <> 'purchase' THEN event_type END
                     IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS ft,
         last_value(CASE WHEN event_type <> 'purchase' THEN event_type END
                    IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS lt
  FROM events
), conv AS (
  SELECT coalesce(ft, '(none)') AS ft, coalesce(lt, '(none)') AS lt
  FROM t WHERE event_type = 'purchase'
), melted AS (
  SELECT ft AS channel, 1 AS fc, 0 AS lc FROM conv
  UNION ALL
  SELECT lt AS channel, 0 AS fc, 1 AS lc FROM conv
)
SELECT channel,
       CAST(sum(fc) AS BIGINT) AS first_touch_credits,
       CAST(sum(lc) AS BIGINT) AS last_touch_credits
FROM melted GROUP BY channel"""


def _source_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language source-diversity indices (profile.group_diversity):
    two partial-aggregable groupBys, |langs| result rows."""
    from whiterrabbit_spark.profile import group_diversity

    docs = read_parquet_table(spark, sf_dir, "documents")
    out = group_diversity(docs, "lang", "source")
    return out.select(
        "lang", "n_rows", "n_values",
        F.round("entropy", R).alias("entropy"),
        F.round("effective_values", R).alias("effective_values"),
        F.round("gini_simpson", R).alias("gini_simpson"),
    )


_SOURCE_DIVERSITY_SQL = f"""
WITH counts AS (
  SELECT lang, source, count(*) AS n FROM documents
  WHERE lang IS NOT NULL AND source IS NOT NULL GROUP BY 1, 2
), g AS (
  SELECT lang, CAST(sum(n) AS BIGINT) AS n_rows,
         CAST(count(*) AS BIGINT) AS n_values,
         greatest(0.0, ln(sum(n)::DOUBLE)
                  - sum(n::DOUBLE * ln(n::DOUBLE)) / sum(n)::DOUBLE) AS h,
         greatest(0.0,
                  1.0 - sum(n::DOUBLE * n) / (sum(n)::DOUBLE * sum(n))) AS gs
  FROM counts GROUP BY lang
)
SELECT lang, n_rows, n_values, (round(h, {R}) + 0.0) AS entropy,
       (round(exp(h), {R}) + 0.0) AS effective_values,
       (round(gs, {R}) + 0.0) AS gini_simpson
FROM g"""


def _mannwhitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U between open and fulfilled orders on o_totalprice
    (profile.mann_whitney_u): histogram ranks with the adaptive
    prefix-sum — never a per-row global sort."""
    from whiterrabbit_spark.profile import mann_whitney_u

    orders = read_parquet_table(spark, sf_dir, "orders")
    out = mann_whitney_u(orders, "o_totalprice", "o_orderstatus", "O", "F")
    return out.select(
        "n_a", "n_b",
        F.round("auc", R).alias("auc"),
        F.round("z", R).alias("z"),
    )


_MANNWHITNEY_SQL = f"""
WITH base AS (
  SELECT o_totalprice::DOUBLE AS v,
         CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END AS is_a
  FROM orders
  WHERE o_orderstatus IN ('O', 'F') AND o_totalprice IS NOT NULL
), h AS (
  SELECT v, sum(is_a) AS n_a, count(*) AS n FROM base GROUP BY 1
), c AS (
  SELECT v, n_a, n, n - n_a AS n_b,
         coalesce(sum(n) OVER (ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS before
  FROM h
), s AS (
  SELECT sum(n_a * (before + (n + 1) / 2.0)) AS r_a,
         sum(n_a) AS na, sum(n_b) AS nb,
         sum(n::DOUBLE * n * n - n) AS t, sum(n) AS nn
  FROM c
)
SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
       (round((r_a - na * (na + 1) / 2.0) / (na::DOUBLE * nb), {R}) + 0.0) AS auc,
       (round((r_a - na * (na + 1) / 2.0 - na::DOUBLE * nb / 2.0)
             / sqrt(na::DOUBLE * nb / 12.0
                    * ((nn + 1) - t / (nn::DOUBLE * (nn - 1)))), {R}) + 0.0) AS z
FROM s"""


def _quantize_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """int8 scalar-quantization fidelity per vector
    (similarity.quantization_error): a |dim|-row stats aggregate inlined
    as literals + one map-only JVM-fold projection."""
    from whiterrabbit_spark.extensions.similarity import quantization_error

    emb = read_parquet_table(spark, sf_dir, "embeddings")
    out = quantization_error(emb, "embedding", "vec_id", bits=8)
    return out.select(
        "vec_id",
        F.round(F.log10("mse"), R).alias("log10_mse"),
        F.round(F.log10("max_abs_err"), R).alias("log10_max_abs_err"),
        F.round("cosine_fidelity", R).alias("cosine_fidelity"),
    )


_QUANTIZE_SQL = f"""
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
  FROM embeddings
), d AS (
  SELECT vec_id, unnest(v) AS val, generate_subscripts(v, 1) AS i FROM e
), stats AS (
  SELECT i, min(val) AS lo, max(val) - min(val) AS span FROM d GROUP BY i
), q AS (
  SELECT vec_id, val,
         CASE WHEN span > 0
              THEN lo + (round((val - lo) / span * 255.0, 0) + 0.0) * span / 255.0
              ELSE lo END AS deq
  FROM d JOIN stats USING (i)
), per_vec AS (
  SELECT vec_id,
         avg((deq - val) * (deq - val)) AS mse,
         max(abs(deq - val)) AS max_abs_err,
         sum(val * deq)
           / (sqrt(sum(val * val)) * sqrt(sum(deq * deq))) AS cosine_fidelity
  FROM q GROUP BY vec_id
)
SELECT vec_id, (round(log10(mse), {R}) + 0.0) AS log10_mse,
       (round(log10(max_abs_err), {R}) + 0.0) AS log10_max_abs_err,
       (round(cosine_fidelity, {R}) + 0.0) AS cosine_fidelity
FROM per_vec"""


_COPURCHASE_EDGES_SQL = """
base AS (
  SELECT DISTINCT l_orderkey AS g, l_partkey AS i FROM lineitem
  WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL
    AND l_orderkey % 4 = 0
), e AS (
  SELECT DISTINCT a.i AS src, b.i AS dst
  FROM base a JOIN base b ON a.g = b.g AND a.i < b.i
)"""


def _copurchase_edges(spark: SparkSession, sf_dir: str):
    """Registered graph queries run on a DETERMINISTIC quarter of the
    orders (l_orderkey % 4 = 0 — pushed to the scan): the triangle
    two-hop and the PageRank iterations are superlinear in edges, and
    the full random-co-purchase graph at sf0.1 is a dense-noise worst
    case; the sampled subgraph keeps the bench headline honest while
    the API (graph.cooccurrence_edges) stays full-graph."""
    from whiterrabbit_spark.extensions.graph import cooccurrence_edges

    li = read_parquet_table(spark, sf_dir, "lineitem")
    return cooccurrence_edges(
        li.where(F.col("l_orderkey") % 4 == 0), "l_orderkey", "l_partkey"
    )


def _neyman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman sample allocation across return flags
    (splits.neyman_allocation): n_h ∝ N_h·σ_h with largest-remainder
    rounding summing exactly to the budget."""
    from whiterrabbit_spark.extensions.splits import neyman_allocation

    li = read_parquet_table(spark, sf_dir, "lineitem")
    out = neyman_allocation(li, "l_returnflag", "l_extendedprice", 1000)
    return out.select(
        "stratum", "n_rows",
        F.round("stddev", 4).alias("stddev"),
        F.round("alloc_raw", 4).alias("alloc_raw"),
        "n_alloc",
    )


_NEYMAN_SQL = """
WITH stats AS (
  SELECT l_returnflag AS stratum, count(*) AS n_rows,
         coalesce(stddev_samp(l_extendedprice::DOUBLE), 0.0) AS sd
  FROM lineitem
  WHERE l_extendedprice IS NOT NULL AND l_returnflag IS NOT NULL
  GROUP BY 1
), raw AS (
  SELECT stratum, n_rows, sd,
         1000 * n_rows * sd / sum(n_rows * sd) OVER () AS alloc_raw,
         floor(1000 * n_rows * sd / sum(n_rows * sd) OVER ())::BIGINT AS fl
  FROM stats
), ranked AS (
  SELECT *,
         row_number() OVER (ORDER BY alloc_raw - fl DESC, stratum) AS rk,
         (1000 - sum(fl) OVER ())::BIGINT AS short
  FROM raw
)
SELECT stratum, CAST(n_rows AS BIGINT) AS n_rows,
       (round(sd, 4) + 0.0) AS stddev,
       (round(alloc_raw, 4) + 0.0) AS alloc_raw,
       CAST(least(fl + CASE WHEN rk <= short THEN 1 ELSE 0 END, n_rows)
            AS BIGINT) AS n_alloc
FROM ranked"""


ACF_MAX_LAG = 7


def _acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily autocorrelation of events.value (profile.acf_daily): rows
    collapse once to the |days| series; each lag is a tiny self-join."""
    from whiterrabbit_spark.profile import acf_daily

    ev = read_parquet_table(spark, sf_dir, "events")
    out = acf_daily(ev, "ts", "value", max_lag=ACF_MAX_LAG)
    return out.select("lag", "n_pairs", F.round("acf", R).alias("acf"))


def _acf_sql() -> str:
    parts = []
    for k in range(1, ACF_MAX_LAG + 1):
        parts.append(f"""
SELECT CAST({k} AS BIGINT) AS lag, CAST(count(*) AS BIGINT) AS n_pairs,
       (round(corr(a.v, b.v), {R}) + 0.0) AS acf
FROM series a JOIN series b
  ON a.bucket_ts = b.bucket_ts + INTERVAL {k} DAY""")
    branches = " UNION ALL ".join(parts)
    return f"""
WITH series AS (
  SELECT date_trunc('day', ts) AS bucket_ts, avg(value) AS v
  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
  GROUP BY 1
)
{branches}"""


def _zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus Zipf fit (textstats.zipf_fit): vocabulary-sized rank
    window + regr fold — whole-corpus authenticity probe."""
    docs = read_parquet_table(spark, sf_dir, "documents")
    out = ts.zipf_fit(docs, "text")
    return out.select(
        "n_terms", "n_tokens",
        F.round("zipf_slope", R).alias("zipf_slope"),
        F.round("r2", R).alias("r2"),
    )


_ZIPF_SQL = f"""
WITH toks AS (
  SELECT unnest(list_filter(
           string_split_regex(lower(trim(text)), '\\s+'), t -> t <> ''))
           AS term
  FROM documents
), freq AS (
  SELECT term, count(*) AS f FROM toks GROUP BY term
), ranked AS (
  SELECT f, row_number() OVER (ORDER BY f DESC, term) AS r FROM freq
)
SELECT CAST(count(*) AS BIGINT) AS n_terms,
       CAST(sum(f) AS BIGINT) AS n_tokens,
       (round(regr_slope(ln(f::DOUBLE), ln(r::DOUBLE)), {R}) + 0.0) AS zipf_slope,
       (round(regr_r2(ln(f::DOUBLE), ln(r::DOUBLE)), {R}) + 0.0) AS r2
FROM ranked"""


def _term_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-term burstiness / VMR (textstats.term_burstiness): TF table
    + vocab-sized top-k + per-term moment fold."""
    docs = read_parquet_table(spark, sf_dir, "documents")
    out = ts.term_burstiness(docs, "text", "doc_id", top_k=20)
    return out.select(
        "term", "total_count", "n_docs_with",
        F.round("mean_per_doc", R).alias("mean_per_doc"),
        F.round("vmr", R).alias("vmr"),
    )


_BURSTINESS_SQL = f"""
WITH toks AS (
  SELECT doc_id, unnest(list_filter(
           string_split_regex(lower(trim(text)), '\\s+'), t -> t <> ''))
           AS term
  FROM documents
), tf AS (
  SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2
), top AS (
  SELECT term FROM tf GROUP BY term
  ORDER BY sum(tf) DESC, term LIMIT 20
), nd AS (
  SELECT count(DISTINCT doc_id)::DOUBLE AS n FROM documents
), m AS (
  SELECT term, sum(tf) AS total_count, count(*) AS n_docs_with,
         sum(tf::DOUBLE) AS s, sum(tf::DOUBLE * tf) AS q
  FROM tf JOIN top USING (term) GROUP BY term
)
SELECT term, CAST(total_count AS BIGINT) AS total_count,
       CAST(n_docs_with AS BIGINT) AS n_docs_with,
       (round(s / nd.n, {R}) + 0.0) AS mean_per_doc,
       (round(CASE WHEN s > 0
                  THEN (q / nd.n - (s / nd.n) * (s / nd.n)) / (s / nd.n)
             END, {R}) + 0.0) AS vmr
FROM m CROSS JOIN nd
ORDER BY total_count DESC, term"""


_BOOT_B = 32


def _bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson-bootstrap CI for mean(o_totalprice)
    (profile.poisson_bootstrap): B=32 replicates in ONE scan via
    per-row hashed Poisson(1) weights; CI = percentile interval over
    replicate means. Money-scale outputs round to 4 (cross-engine float
    sums agree to ~1e-6 relative)."""
    from whiterrabbit_spark.profile import poisson_bootstrap

    orders = read_parquet_table(spark, sf_dir, "orders")
    out = poisson_bootstrap(
        orders, "o_totalprice", "o_orderkey", n_replicates=_BOOT_B
    )
    return out.select(
        "n_rows",
        F.round("mean", 4).alias("mean"),
        F.round("boot_se", 4).alias("boot_se"),
        F.round("ci_lo", 4).alias("ci_lo"),
        F.round("ci_hi", 4).alias("ci_hi"),
    )


def _bootstrap_ci_sql() -> str:
    import math as _m

    from whiterrabbit_spark.profile import _POIS1_CUM

    ladder = " ".join(
        f"WHEN u < {repr(t)} THEN {k}" for k, t in enumerate(_POIS1_CUM)
    )
    b = _BOOT_B

    def t7(p):
        h = (b - 1) * p + 1.0
        k1, k2 = int(_m.floor(h)), int(_m.ceil(h))
        return (f"(ms[{k1}] + {repr(h - k1)} * (ms[{k2}] - ms[{k1}]))")

    return f"""
WITH reps AS (
  SELECT unnest(generate_series(0, {b - 1})) AS r
), src AS (
  SELECT o_orderkey, o_totalprice::DOUBLE AS v FROM orders
  WHERE o_totalprice IS NOT NULL AND o_orderkey IS NOT NULL
), u AS (
  SELECT r.r, s.v,
         ((('0x' || substr(md5(s.o_orderkey::VARCHAR || ':boot:'
                               || r.r::VARCHAR), 1, 15))::BIGINT
           % 1000003)::DOUBLE + 0.5) / 1000003 AS u
  FROM src s CROSS JOIN reps r
), ww AS (
  SELECT r, v, (CASE {ladder} ELSE 8 END)::DOUBLE AS w FROM u
), m AS (
  SELECT r, sum(w * v) / sum(w) AS mr FROM ww GROUP BY r
), arr AS (
  SELECT list_sort(list(mr)) AS ms,
         sum(mr) / {b} AS mean_of,
         (sum(mr * mr) / {b} - (sum(mr) / {b}) * (sum(mr) / {b}))
           * {b}.0 / {b - 1} AS var_of
  FROM m
), base AS (
  SELECT CAST(count(*) AS BIGINT) AS n_rows, avg(v) AS mean FROM src
)
SELECT n_rows, (round(mean, 4) + 0.0) AS mean,
       (round(sqrt(var_of), 4) + 0.0) AS boot_se,
       (round({t7(0.025)}, 4) + 0.0) AS ci_lo,
       (round({t7(0.975)}, 4) + 0.0) AS ci_hi
FROM base CROSS JOIN arr"""


def _ab_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B mean-difference bootstrap (profile.ab_test_bootstrap): open
    vs fulfilled orders on o_totalprice, replicate differences CI'd in
    the same single pass."""
    from whiterrabbit_spark.profile import ab_test_bootstrap

    orders = read_parquet_table(spark, sf_dir, "orders")
    out = ab_test_bootstrap(
        orders, "o_totalprice", "o_orderstatus", "O", "F", "o_orderkey",
        n_replicates=_BOOT_B,
    )
    return out.select(
        "n_a", "n_b",
        F.round("mean_a", 4).alias("mean_a"),
        F.round("mean_b", 4).alias("mean_b"),
        F.round("diff", 4).alias("diff"),
        F.round("ci_lo", 4).alias("ci_lo"),
        F.round("ci_hi", 4).alias("ci_hi"),
        "significant",
    )


def _ab_test_sql() -> str:
    import math as _m

    from whiterrabbit_spark.profile import _POIS1_CUM

    ladder = " ".join(
        f"WHEN u < {repr(t)} THEN {k}" for k, t in enumerate(_POIS1_CUM)
    )
    b = _BOOT_B

    def t7(p):
        h = (b - 1) * p + 1.0
        k1, k2 = int(_m.floor(h)), int(_m.ceil(h))
        return (f"(ds[{k1}] + {repr(h - k1)} * (ds[{k2}] - ds[{k1}]))")

    return f"""
WITH reps AS (
  SELECT unnest(generate_series(0, {b - 1})) AS r
), src AS (
  SELECT o_orderkey, o_totalprice::DOUBLE AS v,
         CASE WHEN o_orderstatus = 'O' THEN 1.0 ELSE 0.0 END AS ia,
         CASE WHEN o_orderstatus = 'F' THEN 1.0 ELSE 0.0 END AS ib
  FROM orders
  WHERE o_totalprice IS NOT NULL AND o_orderkey IS NOT NULL
    AND o_orderstatus IN ('O', 'F')
), u AS (
  SELECT r.r, s.v, s.ia, s.ib,
         ((('0x' || substr(md5(s.o_orderkey::VARCHAR || ':boot:'
                               || r.r::VARCHAR), 1, 15))::BIGINT
           % 1000003)::DOUBLE + 0.5) / 1000003 AS u
  FROM src s CROSS JOIN reps r
), ww AS (
  SELECT r, v, ia, ib, (CASE {ladder} ELSE 8 END)::DOUBLE AS w FROM u
), m AS (
  SELECT r, sum(w * v * ia) / sum(w * ia)
             - sum(w * v * ib) / sum(w * ib) AS dr
  FROM ww GROUP BY r
), arr AS (
  SELECT list_sort(list(dr)) AS ds FROM m
), base AS (
  SELECT CAST(sum(ia) AS BIGINT) AS n_a, CAST(sum(ib) AS BIGINT) AS n_b,
         sum(v * ia) / sum(ia) AS mean_a,
         sum(v * ib) / sum(ib) AS mean_b
  FROM src
)
SELECT n_a, n_b, (round(mean_a, 4) + 0.0) AS mean_a, (round(mean_b, 4) + 0.0) AS mean_b,
       (round(mean_a - mean_b, 4) + 0.0) AS diff,
       (round({t7(0.025)}, 4) + 0.0) AS ci_lo,
       (round({t7(0.975)}, 4) + 0.0) AS ci_hi,
       ({t7(0.025)} > 0 OR {t7(0.975)} < 0) AS significant
FROM base CROSS JOIN arr"""


def _ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN recall@5 evaluation: the LSH path's top-5 measured against
    the exact brute-force top-5 per query — the accept/tune gate every
    approximate index needs before production. Both sides are the
    registered operators with identical parameters; the oracle
    recomputes both in SQL (plane constants inlined), so the recall
    numbers themselves are cross-engine verified."""
    df = read_parquet_table(spark, sf_dir, "embeddings")
    q = df.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    # persisted: the brute side is a full GEMM corpus pass and feeds
    # BOTH the overlap join and the per-query size aggregate — without
    # the cache it would execute twice
    brute = pin(sim.cosine_topk_blocked(df, q, k=5).select(
        "query_id", "neighbor_id"
    ))
    ann = sim.random_hyperplane_ann(
        df, q, dim=EMB_DIM, k=5,
        n_planes=ANN_LSH_PLANES, n_tables=ANN_LSH_TABLES, seed=ANN_LSH_SEED,
    ).select("query_id", F.col("neighbor_id").alias("__ann_n"))
    overlap = brute.join(
        ann,
        (brute["query_id"] == ann["query_id"])
        & (F.col("neighbor_id") == F.col("__ann_n")),
    ).groupBy(brute["query_id"]).agg(F.count(F.lit(1)).alias("n_overlap"))
    per_q = (
        brute.groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_brute"))
        .join(overlap, "query_id", "left")
        .select(
            "query_id",
            "n_brute",
            F.coalesce(F.col("n_overlap"), F.lit(0)).alias("n_overlap"),
            (
                F.coalesce(F.col("n_overlap"), F.lit(0))
                / F.col("n_brute")
            ).alias("recall_at_5"),
        )
    )
    return per_q.select(
        "query_id", "n_brute", "n_overlap",
        F.round("recall_at_5", R).alias("recall_at_5"),
    )


def _ann_recall_sql() -> str:
    brute = _ANN_SQL.strip()
    lsh = _ann_hyperplane_sql().strip()
    return f"""
WITH brute AS ({brute}), lsh AS ({lsh}),
o AS (
  SELECT b.query_id, count(*) AS n_overlap
  FROM brute b JOIN lsh l
    ON b.query_id = l.query_id AND b.neighbor_id = l.neighbor_id
  GROUP BY 1
), nb AS (
  SELECT query_id, count(*) AS n_brute FROM brute GROUP BY 1
)
SELECT query_id, CAST(n_brute AS BIGINT) AS n_brute,
       CAST(coalesce(n_overlap, 0) AS BIGINT) AS n_overlap,
       (round(coalesce(n_overlap, 0) * 1.0 / n_brute, {R}) + 0.0) AS recall_at_5
FROM nb LEFT JOIN o USING (query_id)"""


def _graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact triangles in the part co-purchase graph (graph.
    cooccurrence_edges + triangle_count): oriented two-hop join, each
    triangle counted once."""
    from whiterrabbit_spark.extensions.graph import triangle_count

    return triangle_count(_copurchase_edges(spark, sf_dir))


_GRAPH_TRIANGLES_SQL = f"""
WITH {_COPURCHASE_EDGES_SQL},
nodes AS (
  SELECT src AS n FROM e UNION SELECT dst FROM e
), tri AS (
  SELECT count(*) AS n_triangles
  FROM e ab JOIN e bc ON ab.dst = bc.src
            JOIN e ac ON ac.src = ab.src AND ac.dst = bc.dst
)
SELECT (SELECT CAST(count(*) AS BIGINT) FROM nodes) AS n_nodes,
       (SELECT CAST(count(*) AS BIGINT) FROM e) AS n_edges,
       CAST(n_triangles AS BIGINT) AS n_triangles
FROM tri"""


def _grouped_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type robust daily trend (profile.grouped_theil_sen)."""
    from whiterrabbit_spark.profile import grouped_theil_sen

    ev = read_parquet_table(spark, sf_dir, "events")
    return grouped_theil_sen(ev, "event_type", "ts", "value")


_GROUPED_THEIL_SEN_SQL = """
WITH s AS (
  SELECT event_type AS g, CAST(date_trunc('day', ts) AS DATE) AS d,
         avg(value) AS x
  FROM events
  WHERE ts IS NOT NULL AND value IS NOT NULL AND event_type IS NOT NULL
  GROUP BY 1, 2
), pairs AS (
  SELECT a.g, (b.x - a.x) / CAST(b.d - a.d AS DOUBLE) AS slope
  FROM s a JOIN s b ON a.g = b.g AND a.d < b.d
), days AS (
  SELECT g, CAST(count(*) AS BIGINT) AS n_days FROM s GROUP BY g
), ts_out AS (
  SELECT g, CAST(count(*) AS BIGINT) AS n_pairs,
         (round(quantile_cont(slope, 0.5), 6) + 0.0) AS slope_per_day
  FROM pairs GROUP BY g
)
SELECT days.g AS "group", n_days, n_pairs, slope_per_day
FROM days JOIN ts_out USING (g)"""


def _lang_id_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID confusion matrix: the heuristic detector's
    prediction against the corpus's own lang column — the accuracy gate
    for the curation pipeline's language stage."""
    docs = read_parquet_table(spark, sf_dir, "documents")
    pred = ts.lang_id(docs, "text", "doc_id").select(
        "doc_id", "detected_lang"
    )
    return (
        docs.select("doc_id", F.col("lang").alias("true_lang"))
        .join(pred, "doc_id")
        .groupBy("true_lang", F.col("detected_lang").alias("pred_lang"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


def _lang_id_eval_sql() -> str:
    return f"""
WITH pred AS ({_lang_id_sql().strip()})
SELECT d.lang AS true_lang, p.detected_lang AS pred_lang,
       CAST(count(*) AS BIGINT) AS n
FROM documents d JOIN pred p USING (doc_id)
GROUP BY 1, 2"""


def _dow_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week-adjusted daily anomalies over event value
    (profile.dow_adjusted_outliers, z > 3)."""
    from whiterrabbit_spark.profile import dow_adjusted_outliers

    ev = read_parquet_table(spark, sf_dir, "events")
    return dow_adjusted_outliers(ev, "ts", "value")


_DOW_OUTLIERS_SQL = """
WITH s AS (
  SELECT CAST(date_trunc('day', ts) AS DATE) AS d, avg(value) AS x
  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
  GROUP BY 1
), sd AS (
  SELECT d, x, CAST(dayofweek(d) + 1 AS BIGINT) AS dow FROM s
), dm AS (
  SELECT dow, avg(x) AS dow_mean FROM sd GROUP BY dow
), r AS (
  SELECT sd.d, sd.x, sd.dow, dm.dow_mean, sd.x - dm.dow_mean AS residual
  FROM sd JOIN dm USING (dow)
), g AS (
  SELECT coalesce(stddev_samp(residual), 0) AS sdv FROM r
)
SELECT strftime(d, '%Y-%m-%d') AS day,
       (round(x, 6) + 0.0) AS daily_mean,
       dow,
       (round(dow_mean, 6) + 0.0) AS dow_mean,
       (round(residual, 6) + 0.0) AS residual,
       (round(CASE WHEN sdv > 0 THEN residual / sdv END, 6) + 0.0) AS z,
       abs(coalesce(CASE WHEN sdv > 0 THEN residual / sdv END, 0)) > 3.0
         AS is_outlier
FROM r, g"""


def _forecast_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecasting bake-off on the daily event-value series
    (profile.forecast_eval_daily): naive vs seasonal-naive(7) vs
    EWMA(0.3) one-step MAE/MASE."""
    from whiterrabbit_spark.profile import forecast_eval_daily

    ev = read_parquet_table(spark, sf_dir, "events")
    return forecast_eval_daily(ev, "ts", "value")


def _forecast_eval_sql() -> str:
    method_block = """
SELECT '{m}' AS method, CAST(count(*) AS BIGINT) AS n_evals,
       (round(avg(abs(x - p_{m})), 6) + 0.0) AS mae,
       (round(avg(abs(x - p_{m})) / b.mb, 6) + 0.0) AS mase
FROM e, b GROUP BY b.mb"""
    blocks = [method_block.format(m=m) for m in ("naive", "snaive", "ewma")]
    return (
        """
WITH s AS (
  SELECT CAST(date_trunc('day', ts) AS DATE) AS d, avg(value) AS x
  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
  GROUP BY 1
), w AS (
  SELECT d, x, CAST(row_number() OVER (ORDER BY d) AS DOUBLE) AS rn
  FROM s
), sc AS (
  SELECT d, x, rn,
         lag(x, 1) OVER (ORDER BY d) AS p_naive,
         lag(x, 7) OVER (ORDER BY d) AS p_snaive,
         (sum(x * pow(0.7, -rn)) OVER (ORDER BY d
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
          * pow(0.7, rn - 1))
         / (sum(pow(0.7, -rn)) OVER (ORDER BY d
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
            * pow(0.7, rn - 1)) AS p_ewma
  FROM w
), e AS (SELECT * FROM sc WHERE rn > 7),
b AS (SELECT avg(abs(x - p_naive)) AS mb FROM e)
"""
        + blocks[0]
        + "".join("\nUNION ALL\n" + bl for bl in blocks[1:])
    )


def _embedding_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding A/B drift report (similarity.embedding_drift): even
    vs odd vec_id halves stand in for two snapshot runs; per-label
    centroid shift + variance ratio."""
    emb = read_parquet_table(spark, sf_dir, "embeddings")
    return sim.embedding_drift(emb, F.col("vec_id") % 2 == 0)


_EMBEDDING_DRIFT_SQL = """
WITH base AS (
  SELECT label AS lab,
         CASE WHEN vec_id % 2 = 0 THEN 'a' ELSE 'b' END AS h,
         embedding
  FROM embeddings WHERE label IS NOT NULL AND embedding IS NOT NULL
), dims AS (
  SELECT lab, h, generate_subscripts(embedding, 1) AS i,
         unnest(embedding) AS x
  FROM base
), stats AS (
  SELECT lab, h, i, (round(avg(CAST(x AS DOUBLE)), 9) + 0.0) AS c,
         coalesce(var_samp(CAST(x AS DOUBLE)), 0) AS vv,
         count(*) AS n
  FROM dims GROUP BY 1, 2, 3
)
SELECT CAST(a.lab AS BIGINT) AS label,
       CAST(max(a.n) AS BIGINT) AS n_a,
       CAST(max(b.n) AS BIGINT) AS n_b,
       (round(sqrt(sum((a.c - b.c) * (a.c - b.c))), 6) + 0.0) AS centroid_shift,
       (round(sum(a.vv) / sum(b.vv), 6) + 0.0) AS var_ratio
FROM stats a
JOIN stats b ON a.lab = b.lab AND a.i = b.i AND a.h = 'a' AND b.h = 'b'
GROUP BY a.lab"""


def _rank_movers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User activity rank shifts between the first and second half of
    January (profile.rank_movers) — the trending/collapsing report."""
    from whiterrabbit_spark.profile import rank_movers

    ev = read_parquet_table(spark, sf_dir, "events")
    return rank_movers(
        ev, "user_id", F.col("ts") < F.lit("2024-01-16"), True, False
    )


_RANK_MOVERS_SQL = """
WITH counts AS (
  SELECT user_id AS key,
         CAST(sum(CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00'
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
         CAST(sum(CASE WHEN NOT (ts < TIMESTAMP '2024-01-16 00:00:00')
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_b
  FROM events WHERE user_id IS NOT NULL
  GROUP BY 1
)
SELECT key, n_a,
       CASE WHEN n_a > 0 THEN CAST(row_number() OVER
         (ORDER BY n_a DESC, key ASC) AS BIGINT) END AS rank_a,
       n_b,
       CASE WHEN n_b > 0 THEN CAST(row_number() OVER
         (ORDER BY n_b DESC, key ASC) AS BIGINT) END AS rank_b,
       (CASE WHEN n_a > 0 THEN CAST(row_number() OVER
          (ORDER BY n_a DESC, key ASC) AS BIGINT) END)
       - (CASE WHEN n_b > 0 THEN CAST(row_number() OVER
            (ORDER BY n_b DESC, key ASC) AS BIGINT) END) AS rank_change
FROM counts"""


def _apdex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apdex SLA summary per event type (profile.apdex_score,
    satisfied ≤ 40, tolerating ≤ 120 over the value column)."""
    from whiterrabbit_spark.profile import apdex_score

    ev = read_parquet_table(spark, sf_dir, "events")
    return apdex_score(ev, "event_type", "value", 40.0, 120.0)


_APDEX_SQL = """
SELECT event_type AS "group",
       CAST(count(*) AS BIGINT) AS n_total,
       CAST(sum(CASE WHEN value <= 40.0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_satisfied,
       CAST(sum(CASE WHEN value > 40.0 AND value <= 120.0
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_tolerating,
       (round((sum(CASE WHEN value <= 40.0 THEN 1 ELSE 0 END)
              + sum(CASE WHEN value > 40.0 AND value <= 120.0
                         THEN 1 ELSE 0 END) / 2.0)
             / CAST(count(*) AS DOUBLE), 6) + 0.0) AS apdex
FROM events
WHERE event_type IS NOT NULL AND value IS NOT NULL
GROUP BY 1"""


def _wilson_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-priority finished-rate with Wilson 95% intervals
    (profile.wilson_ci) — the error bar that stays in [0,1]."""
    from whiterrabbit_spark.profile import wilson_ci

    orders = read_parquet_table(spark, sf_dir, "orders")
    return wilson_ci(
        orders, "o_orderpriority", F.col("o_orderstatus") == "F"
    )


def _wilson_sql() -> str:
    z = 1.959963984540054
    z2 = z * z
    return f"""
WITH per AS (
  SELECT o_orderpriority AS "group",
         CAST(count(*) AS BIGINT) AS n_trials,
         CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
              AS BIGINT) AS n_success
  FROM orders
  WHERE o_orderpriority IS NOT NULL AND o_orderstatus IS NOT NULL
  GROUP BY 1
)
SELECT "group", n_trials, n_success,
       (round(n_success / CAST(n_trials AS DOUBLE), 6) + 0.0) AS rate,
       (round(greatest(0.0,
         ((n_success / CAST(n_trials AS DOUBLE))
          + {z2!r} / (2.0 * CAST(n_trials AS DOUBLE)))
         / (1.0 + {z2!r} / CAST(n_trials AS DOUBLE))
         - {z!r} * sqrt(
             (n_success / CAST(n_trials AS DOUBLE))
             * (1.0 - n_success / CAST(n_trials AS DOUBLE))
             / CAST(n_trials AS DOUBLE)
             + {z2!r} / (4.0 * CAST(n_trials AS DOUBLE)
                         * CAST(n_trials AS DOUBLE)))
           / (1.0 + {z2!r} / CAST(n_trials AS DOUBLE))), 6) + 0.0) AS ci_low,
       (round(least(1.0,
         ((n_success / CAST(n_trials AS DOUBLE))
          + {z2!r} / (2.0 * CAST(n_trials AS DOUBLE)))
         / (1.0 + {z2!r} / CAST(n_trials AS DOUBLE))
         + {z!r} * sqrt(
             (n_success / CAST(n_trials AS DOUBLE))
             * (1.0 - n_success / CAST(n_trials AS DOUBLE))
             / CAST(n_trials AS DOUBLE)
             + {z2!r} / (4.0 * CAST(n_trials AS DOUBLE)
                         * CAST(n_trials AS DOUBLE)))
           / (1.0 + {z2!r} / CAST(n_trials AS DOUBLE))), 6) + 0.0) AS ci_high
FROM per"""


def _concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrent 30-minute activity spans per day
    (sequences.concurrency_profile): +1/−1 boundary sweep with
    per-bucket windows and a |buckets|-row carry chain."""
    from whiterrabbit_spark.extensions.sequences import concurrency_profile

    ev = read_parquet_table(spark, sf_dir, "events")
    iv = ev.where(F.col("ts").isNotNull()).select(
        F.col("ts").alias("s"),
        (F.col("ts") + F.expr("INTERVAL 30 MINUTES")).alias("e"),
    )
    return concurrency_profile(iv, "s", "e", bucket="day")


_CONCURRENCY_SQL = """
WITH iv AS (
  SELECT ts AS s, ts + INTERVAL 30 MINUTE AS e
  FROM events WHERE ts IS NOT NULL
), ev AS (
  SELECT s AS t, 1 AS d FROM iv
  UNION ALL
  SELECT e AS t, -1 AS d FROM iv
), r AS (
  SELECT date_trunc('day', t) AS bkt, d,
         sum(d) OVER (PARTITION BY date_trunc('day', t)
                      ORDER BY t, d DESC
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS run_in
  FROM ev
), pb AS (
  SELECT bkt,
         CAST(sum(CASE WHEN d = 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_starts,
         max(run_in) AS peak_in,
         sum(d) AS net
  FROM r GROUP BY bkt
), c AS (
  SELECT *, coalesce(sum(net) OVER (ORDER BY bkt
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            AS carry
  FROM pb
)
SELECT strftime(bkt, '%Y-%m-%d') AS bucket_start, n_starts,
       CAST(peak_in + carry AS BIGINT) AS peak_concurrency
FROM c"""


def _neyman_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman allocation EXECUTED (splits.neyman_allocation →
    splits.allocated_sample): budget 300 over returnflag strata by
    extendedprice variance, drawn as exact per-stratum md5-rank
    samples. The sampled frame carries only the int/string identity
    columns so the row hash is engine-stable."""
    from whiterrabbit_spark.extensions.splits import (
        allocated_sample,
        neyman_allocation,
    )

    li = read_parquet_table(spark, sf_dir, "lineitem")
    alloc = neyman_allocation(li, "l_returnflag", "l_extendedprice", 300)
    keys = li.select("l_orderkey", "l_linenumber", "l_returnflag")
    return allocated_sample(keys, "l_returnflag", alloc)


_NEYMAN_SAMPLE_SQL = """
WITH stats AS (
  SELECT l_returnflag AS stratum, count(*) AS n_rows,
         coalesce(stddev_samp(l_extendedprice), 0) AS sd
  FROM lineitem
  WHERE l_extendedprice IS NOT NULL AND l_returnflag IS NOT NULL
  GROUP BY 1
), w AS (
  SELECT *, 300 * n_rows * sd / sum(n_rows * sd) OVER () AS raw
  FROM stats
), r AS (
  SELECT *, CAST(floor(raw) AS BIGINT) AS fl, raw - floor(raw) AS rem
  FROM w
), s AS (
  SELECT *, CAST(300 - sum(fl) OVER () AS BIGINT) AS short,
         row_number() OVER (ORDER BY rem DESC, stratum) AS rk
  FROM r
), alloc AS (
  SELECT stratum,
         least(fl + CASE WHEN rk <= short THEN 1 ELSE 0 END,
               n_rows) AS n_alloc
  FROM s
), ranked AS (
  SELECT l_orderkey, l_linenumber, l_returnflag,
         row_number() OVER (PARTITION BY l_returnflag
           ORDER BY ('0x' || substr(md5(concat_ws(chr(31), 'alloc',
                     l_orderkey::VARCHAR, l_linenumber::VARCHAR,
                     l_returnflag)), 1, 15))::BIGINT) AS rnk
  FROM lineitem
)
SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
       l_returnflag, CAST(rnk AS BIGINT) AS sample_rank
FROM ranked JOIN alloc ON l_returnflag = stratum
WHERE rnk <= n_alloc"""


def _lateness_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark advisor (streaming.lateness_profile): event-time
    lateness distribution in event_id arrival order — the p99 IS the
    watermark to configure."""
    from whiterrabbit_spark.extensions.streaming import lateness_profile

    ev = read_parquet_table(spark, sf_dir, "events")
    return lateness_profile(ev, "event_id", "ts")


_LATENESS_SQL = """
WITH o AS (
  SELECT epoch_us(ts) AS t,
         max(epoch_us(ts)) OVER (ORDER BY event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS gm
  FROM events WHERE event_id IS NOT NULL AND ts IS NOT NULL
), l AS (SELECT greatest(0, gm - t) AS late FROM o)
SELECT CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CASE WHEN late > 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_late,
       (round(sum(CASE WHEN late > 0 THEN 1 ELSE 0 END)
             / CAST(count(*) AS DOUBLE), 6) + 0.0) AS late_fraction,
       (round(quantile_cont(late, 0.5) / 1e6, 6) + 0.0) AS p50_lateness_s,
       (round(quantile_cont(late, 0.95) / 1e6, 6) + 0.0) AS p95_lateness_s,
       (round(quantile_cont(late, 0.99) / 1e6, 6) + 0.0) AS p99_lateness_s,
       (round(max(late) / 1e6, 6) + 0.0) AS max_lateness_s
FROM l"""


def _nearest_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-centroid confusion matrix over the labeled embeddings
    (classifier.nearest_centroid_eval) — the zero-training baseline an
    embedding column should beat chance on. Centroids rounded to 9 dp
    before distances so the argmin is engine-deterministic."""
    from whiterrabbit_spark.extensions.classifier import (
        nearest_centroid_eval,
    )

    emb = read_parquet_table(spark, sf_dir, "embeddings")
    return nearest_centroid_eval(emb)


_NEAREST_CENTROID_SQL = """
WITH dims AS (
  SELECT label AS lab, generate_subscripts(embedding, 1) AS i,
         unnest(embedding) AS x
  FROM embeddings
), cent AS (
  SELECT lab, i, (round(avg(CAST(x AS DOUBLE)), 9) + 0.0) AS c
  FROM dims GROUP BY 1, 2
), cvec AS (
  SELECT lab, list(c ORDER BY i) AS cv FROM cent GROUP BY lab
), scored AS (
  SELECT e.vec_id AS vid, e.label AS true_label, c.lab,
         list_sum(list_transform(generate_series(1, len(e.embedding)),
           i -> (CAST(e.embedding[i] AS DOUBLE) - c.cv[i])
                * (CAST(e.embedding[i] AS DOUBLE) - c.cv[i]))) AS d2
  FROM embeddings e CROSS JOIN cvec c
), best AS (
  SELECT vid, true_label, lab,
         row_number() OVER (PARTITION BY vid
                            ORDER BY d2 ASC, lab ASC) AS rn
  FROM scored
)
SELECT CAST(true_label AS BIGINT) AS true_label,
       CAST(lab AS BIGINT) AS pred_label,
       CAST(count(*) AS BIGINT) AS n
FROM best WHERE rn = 1
GROUP BY 1, 2"""


def _streaming_sliding_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL Structured Streaming sliding-window rate (1h window / 30m
    slide — the overlapping-window family member next to the tumbling
    profile and gap sessionize): file stream → complete mode → memory
    sink. Oracle = the batch double-membership expansion (each event
    lands in exactly window/slide = 2 windows)."""
    import uuid

    from whiterrabbit_spark.extensions import streaming as st

    src = st.stream_events_from_parquet(spark, sf_dir)
    rates = st.sliding_rate(src, window="1 hour", slide="30 minutes")
    name = f"wrs_slide_{uuid.uuid4().hex[:8]}"
    st.run_stream_to_memory(rates, name, mode="complete")
    out = spark.table(name)
    return out.select(
        F.date_format("window_start", "yyyy-MM-dd HH:mm:ss").alias(
            "window_start"
        ),
        F.date_format("window_end", "yyyy-MM-dd HH:mm:ss").alias(
            "window_end"
        ),
        "n_events",
    )


_SLIDING_RATE_SQL = """
SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start,
       strftime(ws + INTERVAL 1 HOUR, '%Y-%m-%d %H:%M:%S') AS window_end,
       CAST(count(*) AS BIGINT) AS n_events
FROM (
  SELECT make_timestamp(
           (CAST(floor(epoch(ts) / 1800) AS BIGINT) * 1800
            - k * 1800) * 1000000) AS ws
  FROM events CROSS JOIN (VALUES (0), (1)) t(k)
  WHERE ts IS NOT NULL
) w
GROUP BY ws"""


def _rolling_distinct_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate 7-day rolling distinct users via per-day HLL
    sketches + sliding union (profile.rolling_distinct_hll_daily),
    EVALUATED against the exact fan-out form per day (VERDICT r3 #4
    pattern, applied in r4 — was rows-only): per day the exact rolling
    distinct (SQL-recomputable) plus ``est_within_3pct`` — the sketch
    estimate within the 3% bound the unit tests pin (measured ~1.1%
    at lg_k=14). The oracle recomputes the exact side and pins the
    flag TRUE, so sketch drift driver-reds."""
    from whiterrabbit_spark.profile import (rolling_distinct_daily,
                                            rolling_distinct_hll_daily)

    ev = read_parquet_table(spark, sf_dir, "events")
    est = rolling_distinct_hll_daily(ev, "ts", "user_id", 7)
    exact = rolling_distinct_daily(ev, "ts", "user_id", 7)
    return (
        exact.join(est, "day")
        .select(
            "day",
            "rolling_distinct",
            (
                F.abs(
                    F.col("rolling_distinct_est") - F.col("rolling_distinct")
                )
                <= F.greatest(
                    F.lit(2.0), F.col("rolling_distinct") * 0.03
                )
            ).alias("est_within_3pct"),
        )
        .orderBy("day")
    )


_ROLLING_DISTINCT_HLL_SQL = """
WITH pairs AS (
  SELECT DISTINCT CAST(date_trunc('day', ts) AS DATE) AS d, user_id AS k
  FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
), days AS (SELECT DISTINCT d FROM pairs)
SELECT strftime(days.d, '%Y-%m-%d') AS day,
       CAST(count(DISTINCT pairs.k) AS BIGINT) AS rolling_distinct,
       TRUE AS est_within_3pct
FROM days JOIN pairs ON pairs.d <= days.d AND pairs.d > days.d - 7
GROUP BY days.d
ORDER BY days.d"""


def _km_survival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan–Meier user-lifetime curve WITH right-censoring
    (profile.km_survival): users whose last event sits within 3 days of
    the corpus edge are censored (still at risk), not churned — the
    correction lifetime_survival can't make."""
    from whiterrabbit_spark.profile import km_survival

    ev = read_parquet_table(spark, sf_dir, "events")
    spans = (
        ev.where(F.col("user_id").isNotNull() & F.col("ts").isNotNull())
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_ts"), F.max("ts").alias("last_ts"))
    )
    edge = ev.agg(F.max("ts").alias("edge"))
    base = spans.crossJoin(F.broadcast(edge)).select(
        F.floor(
            (F.unix_timestamp("last_ts") - F.unix_timestamp("first_ts"))
            / 86400.0
        ).alias("duration"),
        (
            F.unix_timestamp("edge") - F.unix_timestamp("last_ts")
            > 3 * 86400
        ).alias("churned"),
    )
    return km_survival(base, "duration", "churned")


_KM_SQL = """
WITH spans AS (
  SELECT user_id, min(ts) AS first_ts, max(ts) AS last_ts
  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
  GROUP BY user_id
), edge AS (SELECT max(ts) AS e FROM events),
base AS (
  SELECT CAST(floor((epoch(last_ts) - epoch(first_ts)) / 86400.0)
              AS BIGINT) AS t,
         (epoch(e) - epoch(last_ts)) > 3 * 86400 AS churned
  FROM spans, edge
), hist AS (
  SELECT t, CAST(count(*) AS BIGINT) AS n_t,
         CAST(sum(CASE WHEN churned THEN 1 ELSE 0 END) AS BIGINT) AS d_t
  FROM base GROUP BY t
), risk AS (
  SELECT t, d_t,
         sum(n_t) OVER (ORDER BY t ROWS BETWEEN CURRENT ROW
                        AND UNBOUNDED FOLLOWING) AS n_at_risk
  FROM hist
), cum AS (
  SELECT t, d_t, n_at_risk,
         exp(sum(ln(1.0 - d_t / CAST(n_at_risk AS DOUBLE)))
             OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                   AND CURRENT ROW)) AS survival
  FROM risk
)
SELECT t, CAST(n_at_risk AS BIGINT) AS n_at_risk, d_t AS n_events,
       (round(survival, 6) + 0.0) AS survival
FROM cum WHERE d_t > 0"""


def _impute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-conditioned median imputation (profile.impute_nulls): a
    deterministic 10% of l_quantity is masked to NULL (md5 bucket of
    the line identity — the testdata has no organic nulls) and refilled
    with the per-returnflag exact type-7 median."""
    from whiterrabbit_spark.extensions.splits import hash_bucket_expr
    from whiterrabbit_spark.profile import impute_nulls

    li = read_parquet_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_returnflag", "l_quantity"
    )
    key = F.concat_ws("#", F.col("l_orderkey"), F.col("l_linenumber"))
    masked = li.withColumn(
        "l_quantity",
        F.when(
            hash_bucket_expr(key, "mask") < 1000, F.lit(None)
        ).otherwise(F.col("l_quantity")),
    )
    out = impute_nulls(
        masked, ["l_quantity"], strategy="median",
        group_col="l_returnflag",
    )
    return out.select(
        "l_orderkey", "l_linenumber", "l_returnflag",
        F.round("l_quantity", 6).alias("l_quantity"),
        F.col("l_quantity_imputed"),
    )


_IMPUTE_SQL = """
WITH masked AS (
  SELECT l_orderkey, l_linenumber, l_returnflag,
         CASE WHEN ('0x' || substr(md5(concat_ws('#', l_orderkey,
                    l_linenumber) || 'mask'), 1, 15))::BIGINT
                   % 10000 < 1000
              THEN NULL ELSE l_quantity END AS q
  FROM lineitem
), fills AS (
  SELECT l_returnflag AS g, quantile_cont(q, 0.5) AS fill
  FROM masked GROUP BY 1
)
SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
       l_returnflag,
       (round(coalesce(q, fill), 6) + 0.0) AS l_quantity,
       q IS NULL AS l_quantity_imputed
FROM masked JOIN fills ON l_returnflag = g"""


def _merge_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer order-coverage islands (sequences.merge_intervals):
    each order opens a 30-day window; overlapping windows flatten into
    disjoint coverage spans."""
    from whiterrabbit_spark.extensions.sequences import merge_intervals

    orders = read_parquet_table(spark, sf_dir, "orders")
    iv = orders.select(
        "o_custkey",
        F.col("o_orderdate").cast("date").alias("s"),
        F.date_add(F.col("o_orderdate").cast("date"), 30).alias("e"),
    )
    out = merge_intervals(iv, "o_custkey", "s", "e")
    return out.select(
        F.col("key").alias("o_custkey"),
        "island",
        F.date_format("start", "yyyy-MM-dd").alias("start"),
        F.date_format("end", "yyyy-MM-dd").alias("end"),
        "n_merged",
    )


_MERGE_INTERVALS_SQL = """
WITH iv AS (
  SELECT o_custkey, CAST(o_orderdate AS DATE) AS s,
         CAST(o_orderdate AS DATE) + 30 AS e
  FROM orders
), marked AS (
  SELECT o_custkey, s, e,
         CASE WHEN s > max(e) OVER (PARTITION BY o_custkey
                ORDER BY s, e ROWS BETWEEN UNBOUNDED PRECEDING
                AND 1 PRECEDING)
              THEN 1 ELSE 0 END AS brk
  FROM iv
), islands AS (
  SELECT o_custkey, s, e,
         sum(brk) OVER (PARTITION BY o_custkey ORDER BY s, e
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           + 1 AS island
  FROM marked
)
SELECT o_custkey, CAST(island AS BIGINT) AS island,
       strftime(min(s), '%Y-%m-%d') AS start,
       strftime(max(e), '%Y-%m-%d') AS "end",
       CAST(count(*) AS BIGINT) AS n_merged
FROM islands
GROUP BY o_custkey, island"""


def _woe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-of-evidence / information-value screen of order priority
    against the finished-status label (profile.woe_encoding)."""
    from whiterrabbit_spark.profile import woe_encoding

    orders = read_parquet_table(spark, sf_dir, "orders")
    return woe_encoding(
        orders, "o_orderpriority", F.col("o_orderstatus") == "F"
    )


_WOE_SQL = """
WITH per AS (
  SELECT o_orderpriority AS level,
         CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
              AS BIGINT) AS n_pos,
         CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 0 ELSE 1 END)
              AS BIGINT) AS n_neg
  FROM orders
  WHERE o_orderpriority IS NOT NULL AND o_orderstatus IS NOT NULL
  GROUP BY 1
), tot AS (SELECT sum(n_pos) AS t_pos, sum(n_neg) AS t_neg FROM per)
SELECT level, n_pos, n_neg,
       (round(ln(((n_pos + 0.5) / (t_pos + 1.0))
                / ((n_neg + 0.5) / (t_neg + 1.0))), 6) + 0.0) AS woe,
       (round((((n_pos + 0.5) / (t_pos + 1.0))
              - ((n_neg + 0.5) / (t_neg + 1.0)))
             * ln(((n_pos + 0.5) / (t_pos + 1.0))
                  / ((n_neg + 0.5) / (t_neg + 1.0))), 6) + 0.0) AS iv_contrib
FROM per, tot"""


def _target_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out target encoding of order priority by total price
    (profile.target_encode_loo) — the leakage-safe mean encode."""
    from whiterrabbit_spark.profile import target_encode_loo

    orders = read_parquet_table(spark, sf_dir, "orders")
    out = target_encode_loo(orders, "o_orderpriority", "o_totalprice")
    # timestamp_ntz passthrough would dtype-mismatch the oracle hash
    return out.withColumn(
        "o_orderdate", F.date_format("o_orderdate", "yyyy-MM-dd")
    )


_TARGET_ENCODE_SQL = """
SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
       strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
       o_orderpriority,
       (round(CASE WHEN n > 1
                  THEN (s - t) / ((n - 1) * 100.0) END, 6) + 0.0) AS te_loo
FROM (
  SELECT *, CAST((round(o_totalprice * 100) + 0.0) AS BIGINT) AS t,
         sum(CAST((round(o_totalprice * 100) + 0.0) AS BIGINT))
           OVER (PARTITION BY o_orderpriority) AS s,
         count(*) OVER (PARTITION BY o_orderpriority) AS n
  FROM orders
  WHERE o_orderpriority IS NOT NULL AND o_totalprice IS NOT NULL
) q"""


def _blocking_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linkage blocking diagnostic (linkage.blocking_report) on the
    (nation, segment) key — pair-reduction ratio and block-size shape
    before any quadratic verify runs."""
    from whiterrabbit_spark.extensions.linkage import blocking_report

    cust = read_parquet_table(spark, sf_dir, "customer")
    return blocking_report(
        cust,
        F.concat_ws("|", F.col("c_nationkey"), F.col("c_mktsegment")),
        "c_custkey",
    )


_BLOCKING_SQL = """
WITH blk AS (
  SELECT concat_ws('|', c_nationkey, c_mktsegment) AS b,
         CAST(count(*) AS BIGINT) AS nb
  FROM customer WHERE c_custkey IS NOT NULL
  GROUP BY 1
)
SELECT CAST(sum(nb) AS BIGINT) AS n_records,
       CAST(count(*) AS BIGINT) AS n_blocks,
       CAST(max(nb) AS BIGINT) AS max_block,
       quantile_cont(CAST(nb AS DOUBLE), 0.5) AS p50_block,
       quantile_cont(CAST(nb AS DOUBLE), 0.99) AS p99_block,
       CAST(sum(nb * (nb - 1) / 2) AS BIGINT) AS candidate_pairs,
       (round(sum(nb * (nb - 1) / 2)
             / (sum(nb) * (sum(nb) - 1) / 2.0), 6) + 0.0) AS pair_reduction
FROM blk"""


_Z_BOUNDS = [("l_quantity", 1.0, 50.0), ("l_extendedprice", 900.0, 105000.0)]
_Z_BITS = 8


def _zorder_layouts():
    from whiterrabbit_spark.profile import zorder_key_expr

    cols = [c for c, _, _ in _Z_BOUNDS]
    los = [lo for _, lo, _ in _Z_BOUNDS]
    his = [hi for _, _, hi in _Z_BOUNDS]
    return {
        "by_qty": "l_quantity",
        "by_price": "l_extendedprice",
        "by_zorder": zorder_key_expr(cols, los, his, _Z_BITS),
    }


def _zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order clustering payoff (profile.zorder_key_expr +
    layout_prune_report): chunk-scan fractions for a quantity probe AND
    a price probe under single-column sorts vs the Morton-interleaved
    key — single-column clustering prunes only its own probes; z-order
    prunes both."""
    from whiterrabbit_spark.profile import layout_prune_report_multi

    li = read_parquet_table(spark, sf_dir, "lineitem")
    probes = [
        ("l_quantity", 10.0, 15.0),
        ("l_extendedprice", 20000.0, 30000.0),
    ]
    # ONE fused call: both probes' histograms melt out of a single
    # fact-table scan + checkpoint instead of one per probe (r8)
    return layout_prune_report_multi(
        li, probes, _zorder_layouts(), chunk_rows=4096
    )


def _zorder_key_sql() -> str:
    n = len(_Z_BOUNDS)
    terms = []
    for ci, (c, lo, hi) in enumerate(_Z_BOUNDS):
        span = hi - lo
        bucket = (
            f"least({(1 << _Z_BITS) - 1}, greatest(0, CAST(floor("
            f"(CAST({c} AS DOUBLE) - {lo}) / {span} * {1 << _Z_BITS})"
            f" AS BIGINT)))"
        )
        for b in range(_Z_BITS):
            terms.append(f"((({bucket} >> {b}) & 1) << {b * n + ci})")
    return " | ".join(terms)


def _zorder_sql() -> str:
    probes = [("l_quantity", 10.0, 15.0), ("l_extendedprice", 20000.0, 30000.0)]
    keys = {
        "by_qty": "CAST(l_quantity AS DOUBLE)",
        "by_price": "CAST(l_extendedprice AS DOUBLE)",
        "by_zorder": f"CAST(({_zorder_key_sql()}) AS DOUBLE)",
    }
    blocks = []
    for col, lo, hi in probes:
        for name, key in keys.items():
            blocks.append(f"""
SELECT '{col}' AS probe_col, '{name}' AS layout,
       (SELECT CAST(count(*) AS BIGINT) FROM b) AS n_rows,
       (SELECT CAST(count(*) AS BIGINT) FROM b
        WHERE v >= {lo} AND v <= {hi}) AS rows_matched,
       CAST(count(*) AS BIGINT) AS n_chunks,
       CAST(sum(CASE WHEN cmax >= {lo} AND cmin <= {hi}
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_chunks_scanned,
       (round(sum(CASE WHEN cmax >= {lo} AND cmin <= {hi}
                      THEN 1 ELSE 0 END) * 1.0 / count(*), 6) + 0.0)
         AS scan_fraction
FROM (
  SELECT chunk, min(vmin) AS cmin, max(vmax) AS cmax
  FROM (
    SELECT unnest(generate_series(
             CAST(floor(before / 4096) AS BIGINT),
             CAST(floor((before + cnt - 1) / 4096) AS BIGINT))) AS chunk,
           vmin, vmax
    FROM (
      SELECT k, cnt, vmin, vmax,
             CAST(coalesce(sum(cnt) OVER (ORDER BY k
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS before
      FROM (SELECT k, count(*) AS cnt, min(v) AS vmin, max(v) AS vmax
            FROM b GROUP BY k) h
    ) c
  ) e
  GROUP BY chunk
) ch""".replace(
                "FROM b", f"FROM base_{col}_{name}"
            ))
    bases = []
    for col, _, _ in probes:
        for name, key in keys.items():
            bases.append(
                f"base_{col}_{name} AS (SELECT CAST({col} AS DOUBLE) AS v,"
                f" {key} AS k FROM lineitem WHERE {col} IS NOT NULL)"
            )
    return (
        "WITH "
        + ",\n".join(bases)
        + blocks[0]
        + "".join("\nUNION ALL\n" + bl for bl in blocks[1:])
    )


def _balanced_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-k-per-class balanced downsample by md5 rank
    (splits.balanced_sample, k=30 per lang): hash-threshold prefilter +
    bounded window — the hottest class never owns a window partition."""
    from whiterrabbit_spark.extensions.splits import balanced_sample

    docs = read_parquet_table(spark, sf_dir, "documents")
    return balanced_sample(docs, "lang", k=30)


_BALANCED_SAMPLE_SQL = """
WITH ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY lang
    ORDER BY ('0x' || substr(md5(concat_ws(chr(31), 'bal',
              doc_id::VARCHAR, text, lang, source, n_chars::VARCHAR)),
              1, 15))::BIGINT
  ) AS sample_rank
  FROM documents WHERE lang IS NOT NULL
)
SELECT doc_id, text, lang, source, n_chars,
       CAST(sample_rank AS BIGINT) AS sample_rank
FROM ranked WHERE sample_rank <= 30"""


def _layout_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Layout advisor (profile.layout_prune_report): chunk-scan fraction
    for a quantity-range probe under key-clustered vs value-clustered
    layouts — quantifies what sorting buys min/max pruning before any
    rewrite."""
    from whiterrabbit_spark.profile import layout_prune_report

    li = read_parquet_table(spark, sf_dir, "lineitem")
    return layout_prune_report(
        li,
        "l_quantity",
        {"by_orderkey": "l_orderkey", "by_quantity": "l_quantity"},
        chunk_rows=4096,
        probe_lo=10.0,
        probe_hi=15.0,
    )


def _layout_prune_layout_sql(name: str, sort_col: str) -> str:
    return f"""
SELECT '{name}' AS layout,
       (SELECT CAST(count(*) AS BIGINT) FROM base_{name}) AS n_rows,
       (SELECT CAST(count(*) AS BIGINT) FROM base_{name}
        WHERE v >= 10.0 AND v <= 15.0) AS rows_matched,
       CAST(count(*) AS BIGINT) AS n_chunks,
       CAST(sum(CASE WHEN cmax >= 10.0 AND cmin <= 15.0
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_chunks_scanned,
       (round(sum(CASE WHEN cmax >= 10.0 AND cmin <= 15.0
                      THEN 1 ELSE 0 END) * 1.0 / count(*), 6) + 0.0)
         AS scan_fraction
FROM (
  SELECT chunk, min(vmin) AS cmin, max(vmax) AS cmax
  FROM (
    SELECT unnest(generate_series(
             CAST(floor(before / 4096) AS BIGINT),
             CAST(floor((before + cnt - 1) / 4096) AS BIGINT))) AS chunk,
           vmin, vmax
    FROM (
      SELECT k, cnt, vmin, vmax,
             CAST(coalesce(sum(cnt) OVER (ORDER BY k
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS before
      FROM (SELECT k, count(*) AS cnt, min(v) AS vmin, max(v) AS vmax
            FROM base_{name} GROUP BY k) h
    ) c
  ) e
  GROUP BY chunk
) ch"""


def _layout_prune_sql() -> str:
    bases = """
WITH base_by_orderkey AS (
  SELECT CAST(l_quantity AS DOUBLE) AS v, CAST(l_orderkey AS DOUBLE) AS k
  FROM lineitem WHERE l_quantity IS NOT NULL AND l_orderkey IS NOT NULL
), base_by_quantity AS (
  SELECT CAST(l_quantity AS DOUBLE) AS v, CAST(l_quantity AS DOUBLE) AS k
  FROM lineitem WHERE l_quantity IS NOT NULL
)"""
    return (
        bases
        + _layout_prune_layout_sql("by_orderkey", "l_orderkey")
        + "\nUNION ALL\n"
        + _layout_prune_layout_sql("by_quantity", "l_quantity")
    )


def _minhash_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH recall evaluation: the banded index's found-pair set
    measured against the exact inverted-index Jaccard pairs at the same
    threshold — the accept/tune gate for (num_hashes, rows_per_band),
    sibling of ann_recall (embeddings) and matryoshka_eval (dims). Both
    sides are the registered operators with identical parameters; the
    oracle recomputes both in SQL, so the recall itself is cross-engine
    verified."""
    docs = read_parquet_table(spark, sf_dir, "documents")
    exact = pin(
        X.ngram_jaccard_pairs(docs, "text", "doc_id", k=3, threshold=0.5)
        .select("id1", "id2")
    )
    lsh = X.minhash_dedup_pairs(
        docs, "text", "doc_id", k=3, num_hashes=32,
        rows_per_band=2, threshold=0.5, seed=CFG.seed,
        max_bucket_size=2_000,  # same hot-cluster guard as _dedup_minhash
    ).select(F.col("id1").alias("l1"), F.col("id2").alias("l2"))
    found = exact.join(
        lsh,
        (F.col("id1") == F.col("l1")) & (F.col("id2") == F.col("l2")),
        "left_semi",
    )
    n_exact = exact.agg(F.count(F.lit(1)).alias("n_exact_pairs"))
    n_found = found.agg(F.count(F.lit(1)).alias("n_lsh_found"))
    return (
        n_exact.crossJoin(n_found)
        .select(
            "n_exact_pairs",
            "n_lsh_found",
            F.round(
                F.col("n_lsh_found") / F.col("n_exact_pairs").cast("double"),
                6,
            ).alias("recall"),
        )
    )


def _minhash_recall_sql() -> str:
    return f"""
WITH exact AS ({_NGRAM_SQL.strip()}),
lsh AS ({_minhash_sql().strip()}),
f AS (
  SELECT count(*) AS n_lsh_found
  FROM exact e JOIN lsh l ON e.id1 = l.id1 AND e.id2 = l.id2
), n AS (SELECT count(*) AS n_exact_pairs FROM exact)
SELECT CAST(n_exact_pairs AS BIGINT) AS n_exact_pairs,
       CAST(n_lsh_found AS BIGINT) AS n_lsh_found,
       (round(n_lsh_found * 1.0 / n_exact_pairs, 6) + 0.0) AS recall
FROM n, f"""


def _ship_delay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-to-ship lead-time distribution per priority: the queueing/
    SLA report shape (fact-fact join on the natural key, integer-day
    delays, exact type-7 percentiles per group). One shuffle for the
    join, one for the rollup."""
    li = read_parquet_table(spark, sf_dir, "lineitem")
    orders = read_parquet_table(spark, sf_dir, "orders")
    delay = F.datediff(
        F.col("l_shipdate").cast("date"), F.col("o_orderdate").cast("date")
    ).cast("double")
    return (
        orders.join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_lineitems"),
            F.round(F.avg(delay), R).alias("mean_delay_days"),
            F.percentile(delay, 0.5).alias("p50_delay_days"),
            F.percentile(delay, 0.9).alias("p90_delay_days"),
            F.max(delay).alias("max_delay_days"),
        )
    )


_SHIP_DELAY_SQL = f"""
SELECT o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_lineitems,
       (round(avg(delay), {R}) + 0.0) AS mean_delay_days,
       quantile_cont(delay, 0.5) AS p50_delay_days,
       quantile_cont(delay, 0.9) AS p90_delay_days,
       max(delay) AS max_delay_days
FROM (
  SELECT o_orderpriority,
         CAST(CAST(l_shipdate AS DATE) - CAST(o_orderdate AS DATE)
              AS DOUBLE) AS delay
  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
) t
GROUP BY o_orderpriority"""


def _srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio-mismatch audit of the default 80/10/10 hash split
    over customers (splits.srm_check)."""
    from whiterrabbit_spark.extensions.splits import srm_check

    cust = read_parquet_table(spark, sf_dir, "customer")
    return srm_check(
        cust, "c_custkey", {"train": 0.8, "val": 0.1, "test": 0.1}
    )


_SRM_SQL = """
WITH assigned AS (
  SELECT CASE
           WHEN ('0x' || substr(md5(c_custkey::VARCHAR), 1, 15))::BIGINT
                % 10000 < 8000 THEN 'train'
           WHEN ('0x' || substr(md5(c_custkey::VARCHAR), 1, 15))::BIGINT
                % 10000 < 9000 THEN 'val'
           ELSE 'test'
         END AS split
  FROM customer WHERE c_custkey IS NOT NULL
), obs AS (
  SELECT split, CAST(count(*) AS BIGINT) AS n_obs FROM assigned GROUP BY 1
), tot AS (SELECT sum(n_obs) AS n_total FROM obs),
per AS (
  SELECT split, n_obs,
         n_total * (CASE split WHEN 'train' THEN 0.8::DOUBLE
                    WHEN 'val' THEN 0.1::DOUBLE
                    ELSE 0.1::DOUBLE END) AS n_expected
  FROM obs, tot
), c AS (
  SELECT sum((n_obs - n_expected) * (n_obs - n_expected) / n_expected)
           AS chi2
  FROM per
)
SELECT split, n_obs, (round(n_expected, 6) + 0.0) AS n_expected,
       (round(chi2, 6) + 0.0) AS chi2, chi2 > 13.816 AS srm_detected
FROM per, c"""


def _streaming_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT streaming daily active users: file stream → one
    complete-mode (day, user) presence aggregation (state = distinct
    pairs, the bound presence sets, not traffic) → memory sink → batch
    finishing pass. Oracle = batch daily COUNT(DISTINCT)."""
    import uuid

    from whiterrabbit_spark.extensions import streaming as st

    src = st.stream_events_from_parquet(spark, sf_dir)
    pairs = st.streaming_user_days(src)
    name = f"wrs_dau_{uuid.uuid4().hex[:8]}"
    st.run_stream_to_memory(pairs, name, mode="complete")
    out = st.finish_daily_active(spark.table(name))
    return out.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "n_active_users",
        "n_events",
    )


_STREAMING_DAU_SQL = """
SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_active_users,
       CAST(count(*) AS BIGINT) AS n_events
FROM events
WHERE ts IS NOT NULL AND user_id IS NOT NULL
GROUP BY 1"""


def _matryoshka(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka truncation quality: does the 16-dim prefix of the
    64-dim embedding preserve nearest neighbors? Exact top-1 under both
    dims for 20 query vectors (brute force — the eval set is small by
    definition), reporting top-1 agreement and the true-cosine cost of
    the truncated pick. The dimension-reduction accept/tune gate, like
    ann_recall for the LSH index."""
    df = read_parquet_table(spark, sf_dir, "embeddings")
    q = df.where(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    full = sim.cosine_topk(df, q, k=1).select(
        "query_id",
        F.col("neighbor_id").alias("full_nn"),
        F.col("cosine").alias("cos_full"),
    )
    trunc = sim.cosine_topk(
        df.withColumn("embedding", F.slice("embedding", 1, 16)),
        q.withColumn("embedding", F.slice("embedding", 1, 16)),
        k=1,
    ).select(
        "query_id",
        F.col("neighbor_id").alias("trunc_nn"),
    )
    # true (full-dim) cosine of the truncated pick — the real cost of
    # trusting the prefix. Fetched by joining the 20 picked neighbor
    # ids back to the vector table (broadcast picks, one id-equi-join)
    # instead of scoring every (query, corpus) pair with an unbounded
    # top-k (the r4 form used k=10M — a 20×n scored frame feeding a
    # driver-sized heap at scale, for 20 needed rows).
    pick_vecs = trunc.join(
        df.select(
            F.col("vec_id").alias("trunc_nn"),
            F.col("embedding").alias("__nn_emb"),
        ),
        "trunc_nn",
    )
    qv = q.select("query_id", F.col("embedding").alias("__q_emb"))
    all_cos = pick_vecs.join(F.broadcast(qv), "query_id").select(
        "query_id",
        "trunc_nn",
        (
            sim._dot(sim._to_double(F.col("__q_emb")),
                     sim._to_double(F.col("__nn_emb")))
            / (sim._norm(sim._to_double(F.col("__q_emb")))
               * sim._norm(sim._to_double(F.col("__nn_emb"))))
        ).alias("cos_of_trunc_pick"),
    )
    joined = full.join(trunc, "query_id").join(
        all_cos, ["query_id", "trunc_nn"]
    )
    return joined.agg(
        F.count(F.lit(1)).alias("n_queries"),
        F.round(
            F.avg((F.col("full_nn") == F.col("trunc_nn")).cast("double")), 6
        ).alias("top1_agreement"),
        F.round(F.avg("cos_full"), 6).alias("mean_cos_full_nn"),
        F.round(F.avg("cos_of_trunc_pick"), 6).alias("mean_cos_trunc_pick"),
    )


def _matryoshka_sql() -> str:
    return """
WITH q AS (
  SELECT vec_id AS query_id, list_transform(embedding, x -> x::DOUBLE) AS qv
  FROM embeddings WHERE vec_id < 20
), c AS (
  SELECT vec_id AS neighbor_id, list_transform(embedding, x -> x::DOUBLE) AS cv
  FROM embeddings
), s AS (
  SELECT query_id, neighbor_id,
         list_dot_product(qv, cv) /
         (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv)))
           AS cos_full,
         list_dot_product(qv[1:16], cv[1:16]) /
         (sqrt(list_dot_product(qv[1:16], qv[1:16]))
          * sqrt(list_dot_product(cv[1:16], cv[1:16]))) AS cos_trunc
  FROM c, q WHERE neighbor_id <> query_id
), r AS (
  SELECT query_id, neighbor_id, cos_full,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos_full DESC, neighbor_id ASC)
           AS rank_full,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos_trunc DESC, neighbor_id ASC)
           AS rank_trunc
  FROM s
), fn AS (
  SELECT query_id, neighbor_id AS full_nn, cos_full FROM r
  WHERE rank_full = 1
), tn AS (
  SELECT query_id, neighbor_id AS trunc_nn FROM r WHERE rank_trunc = 1
), tc AS (
  SELECT s.query_id, s.cos_full AS cos_of_trunc_pick
  FROM s JOIN tn ON s.query_id = tn.query_id AND s.neighbor_id = tn.trunc_nn
)
SELECT CAST(count(*) AS BIGINT) AS n_queries,
       (round(avg(CASE WHEN full_nn = trunc_nn THEN 1.0 ELSE 0.0 END), 6) + 0.0)
         AS top1_agreement,
       (round(avg(fn.cos_full), 6) + 0.0) AS mean_cos_full_nn,
       (round(avg(tc.cos_of_trunc_pick), 6) + 0.0) AS mean_cos_trunc_pick
FROM fn
JOIN tn USING (query_id)
JOIN tc USING (query_id)"""


def _table_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-insensitive content checksums over the non-float orders
    columns (profile.table_checksum) — the snapshot-equality
    certificate."""
    from whiterrabbit_spark.profile import table_checksum

    orders = read_parquet_table(spark, sf_dir, "orders")
    return table_checksum(
        orders,
        ["o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority",
         "o_orderdate"],
    )


def _checksum_col_sql(c: str) -> str:
    return f"""
SELECT '{c}' AS column_name,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(v) AS BIGINT) AS n_nonnull,
       COALESCE(bit_xor(h), 0) AS checksum_xor,
       CAST(COALESCE(sum(h % 1000000007), 0) AS BIGINT) AS checksum_sum
FROM (SELECT {c}::VARCHAR AS v,
             ('0x' || substr(md5({c}::VARCHAR), 1, 15))::BIGINT AS h
      FROM orders)"""


_TABLE_CHECKSUM_SQL = " UNION ALL ".join(
    _checksum_col_sql(c)
    for c in ["o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority",
              "o_orderdate"]
)


def _cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC merge (cdc.apply_cdc): snapshot = latest pre-1999 order per
    customer; changelog = 1999+ orders as upserts, with finished ('F')
    statuses treated as deletes; latest-wins on (o_orderdate,
    o_orderkey)."""
    from whiterrabbit_spark.extensions.cdc import apply_cdc

    orders = read_parquet_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_orderstatus", "o_orderpriority",
        "o_orderdate",
    )
    cut = F.col("o_orderdate") < F.lit("1999-01-01")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").desc(), F.col("o_orderkey").desc()
    )
    snapshot = (
        orders.where(cut)
        .withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )
    changes = orders.where(~cut).withColumn(
        "op",
        F.when(F.col("o_orderstatus") == "F", F.lit("D")).otherwise(
            F.lit("U")
        ),
    )
    out = apply_cdc(
        snapshot, changes,
        key_cols=["o_custkey"],
        seq_cols=["o_orderdate", "o_orderkey"],
    )
    return out.select(
        "o_custkey", "o_orderkey", "o_orderstatus", "o_orderpriority",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
    )


_CDC_SQL = """
WITH snap AS (
  SELECT o_custkey, o_orderkey, o_orderstatus, o_orderpriority, o_orderdate
  FROM (SELECT o_custkey, o_orderkey, o_orderstatus, o_orderpriority,
               o_orderdate,
               row_number() OVER (PARTITION BY o_custkey
                  ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
        FROM orders
        WHERE o_orderdate < TIMESTAMP '1999-01-01 00:00:00') t
  WHERE rn = 1
), latest AS (
  SELECT *, CASE WHEN o_orderstatus = 'F' THEN 'D' ELSE 'U' END AS op
  FROM (SELECT o_custkey, o_orderkey, o_orderstatus, o_orderpriority,
               o_orderdate,
               row_number() OVER (PARTITION BY o_custkey
                  ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1999-01-01 00:00:00') t
  WHERE rn = 1
)
SELECT o_custkey, o_orderkey, o_orderstatus, o_orderpriority,
       strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate
FROM latest WHERE op <> 'D'
UNION ALL
SELECT o_custkey, o_orderkey, o_orderstatus, o_orderpriority,
       strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate
FROM snap
WHERE o_custkey NOT IN (SELECT o_custkey FROM latest)"""


def _theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil–Sen robust daily trend of event value
    (profile.theil_sen_daily)."""
    from whiterrabbit_spark.profile import theil_sen_daily

    ev = read_parquet_table(spark, sf_dir, "events")
    return theil_sen_daily(ev, "ts", "value")


_THEIL_SEN_SQL = """
WITH s AS (
  SELECT CAST(date_trunc('day', ts) AS DATE) AS d, avg(value) AS x
  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
  GROUP BY 1
), pairs AS (
  SELECT (b.x - a.x) / CAST(b.d - a.d AS DOUBLE) AS slope
  FROM s a JOIN s b ON a.d < b.d
), ols AS (
  SELECT CAST(count(*) AS BIGINT) AS n_days,
         covar_samp(CAST(d - DATE '1970-01-01' AS DOUBLE), x)
           / var_samp(CAST(d - DATE '1970-01-01' AS DOUBLE)) AS ols_slope
  FROM s
)
SELECT n_days,
       CAST((SELECT count(*) FROM pairs) AS BIGINT) AS n_pairs,
       (round((SELECT quantile_cont(slope, 0.5) FROM pairs), 6) + 0.0)
         AS slope_per_day,
       (round(ols_slope, 6) + 0.0) AS ols_slope
FROM ols"""


def _negative_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ring negative sampling, k=3
    (splits.negative_sampling)."""
    from whiterrabbit_spark.extensions.splits import negative_sampling

    docs = read_parquet_table(spark, sf_dir, "documents")
    return negative_sampling(docs, "doc_id", k=3)


_NEG_SAMPLING_SQL = """
WITH ids AS (
  SELECT DISTINCT doc_id AS id FROM documents WHERE doc_id IS NOT NULL
), pos AS (
  SELECT id,
         row_number() OVER (
           ORDER BY ('0x' || substr(md5(id::VARCHAR || 'neg'), 1, 15))::BIGINT
         ) - 1 AS pos
  FROM ids
), tot AS (SELECT count(*) AS n FROM ids)
SELECT a.id AS anchor_id, b.id AS partner_id, CAST(m AS BIGINT) AS pair_rank
FROM pos a
CROSS JOIN tot
CROSS JOIN (VALUES (1), (2), (3)) t(m)
JOIN pos b
  ON b.pos = (a.pos + greatest(1, CAST(floor(n * m / 4.0) AS BIGINT))) % n"""


def _token_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse count-vector cosine near-pairs at t=0.9
    (similarity.token_cosine_pairs): inverted token index, integer
    dot/norms, exact integer threshold test."""
    docs = read_parquet_table(spark, sf_dir, "documents")
    return sim.token_cosine_pairs(docs, "doc_id", "text", threshold=0.9)


_TOKEN_COSINE_SQL = """
WITH tf AS (
  SELECT doc_id AS id, tok, CAST(count(*) AS BIGINT) AS tf
  FROM (SELECT doc_id,
               unnest(string_split_regex(lower(trim(text)), '\\s+')) AS tok
        FROM documents WHERE text IS NOT NULL AND trim(text) <> '')
  WHERE tok <> ''
  GROUP BY 1, 2
), dfreq AS (
  SELECT tok, count(*) AS df_t FROM tf GROUP BY tok
), kept AS (
  SELECT tf.* FROM tf JOIN dfreq USING (tok)
  WHERE df_t BETWEEN 2 AND 10000
), norms AS (
  SELECT id, sum(tf * tf) AS s FROM kept GROUP BY id
), dots AS (
  SELECT a.id AS id_1, b.id AS id_2, sum(a.tf * b.tf) AS dot
  FROM kept a JOIN kept b ON a.tok = b.tok AND a.id < b.id
  GROUP BY 1, 2
)
SELECT id_1, id_2, CAST(dot AS BIGINT) AS dot,
       (round(dot / sqrt(CAST(n1.s AS DOUBLE) * n2.s), 6) + 0.0) AS cosine
FROM dots
JOIN norms n1 ON id_1 = n1.id
JOIN norms n2 ON id_2 = n2.id
WHERE dot * dot * 1000000 >= 810000 * n1.s * n2.s"""


def _segment_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL-sketch pairwise audience overlap between event types
    (profile.segment_overlap_sketch), EVALUATED against the exact
    set intersections — the accept/tune gate for the sketch path, the
    ANN-recall pattern applied to sketches (VERDICT r3 #4 — was
    rows-only). Per segment pair: exact |A|, |B|, |A∩B|, Jaccard, plus
    ``est_within_tol`` = every sketch estimate within 5% relative
    (±2 absolute slack for near-disjoint pairs) of its exact value.
    The oracle recomputes the exact side in SQL and pins the flag TRUE,
    so sketch drift past tolerance driver-reds. The exact self-join is
    the O(|segments|·|keys|) baseline the sketch exists to avoid at
    100 TB — affordable here exactly because it is the evaluation."""
    from whiterrabbit_spark.profile import segment_overlap_sketch

    ev = read_parquet_table(spark, sf_dir, "events")
    sk = segment_overlap_sketch(ev, "event_type", "user_id")

    base = pin(
        ev.where(F.col("event_type").isNotNull() & F.col("user_id").isNotNull())
        .select("event_type", "user_id")
        .distinct()
    )
    a = base.select(F.col("event_type").alias("segment_1"), "user_id")
    b = base.select(F.col("event_type").alias("segment_2"), "user_id")
    inter = (
        a.join(b, "user_id")
        .where(F.col("segment_1") < F.col("segment_2"))
        .groupBy("segment_1", "segment_2")
        .agg(F.count(F.lit(1)).alias("n_overlap"))
    )
    sizes = base.groupBy(F.col("event_type").alias("seg")).agg(
        F.count(F.lit(1)).alias("n")
    )
    exact = (
        inter.join(
            sizes.select(F.col("seg").alias("segment_1"), F.col("n").alias("n_1")),
            "segment_1",
        )
        .join(
            sizes.select(F.col("seg").alias("segment_2"), F.col("n").alias("n_2")),
            "segment_2",
        )
    )

    def within(est, truth):
        return F.abs(est - truth) <= F.greatest(
            F.lit(2.0), truth.cast("double") * 0.05
        )

    return (
        exact.alias("ex")
        .join(sk.alias("sk"), ["segment_1", "segment_2"])
        .select(
            "segment_1",
            "segment_2",
            F.col("ex.n_1").alias("n_1"),
            F.col("ex.n_2").alias("n_2"),
            "n_overlap",
            F.round(
                F.col("n_overlap")
                / (
                    F.col("ex.n_1") + F.col("ex.n_2") - F.col("n_overlap")
                ).cast("double"),
                6,
            ).alias("jaccard"),
            (
                within(F.col("sk.n_1"), F.col("ex.n_1"))
                & within(F.col("sk.n_2"), F.col("ex.n_2"))
                & within(F.col("intersect_est"), F.col("n_overlap"))
            ).alias("est_within_tol"),
        )
    )


_SEGMENT_OVERLAP_SQL = """
WITH base AS (
  SELECT DISTINCT event_type, user_id FROM events
  WHERE event_type IS NOT NULL AND user_id IS NOT NULL
), sizes AS (
  SELECT event_type, count(*) AS n FROM base GROUP BY 1
), inter AS (
  SELECT a.event_type AS segment_1, b.event_type AS segment_2,
         CAST(count(*) AS BIGINT) AS n_overlap
  FROM base a JOIN base b USING (user_id)
  WHERE a.event_type < b.event_type
  GROUP BY 1, 2
)
SELECT segment_1, segment_2,
       CAST(s1.n AS BIGINT) AS n_1,
       CAST(s2.n AS BIGINT) AS n_2,
       n_overlap,
       (round(n_overlap * 1.0 / (s1.n + s2.n - n_overlap), 6) + 0.0) AS jaccard,
       TRUE AS est_within_tol
FROM inter
JOIN sizes s1 ON s1.event_type = inter.segment_1
JOIN sizes s2 ON s2.event_type = inter.segment_2"""


def _pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto concentration of order revenue over customers
    (profile.pareto_concentration): integer fixed-point totals, bucketed
    distributed prefix sum, broadcast decile thresholds."""
    from whiterrabbit_spark.profile import pareto_concentration

    orders = read_parquet_table(spark, sf_dir, "orders")
    return pareto_concentration(orders, "o_custkey", "o_totalprice")


_PARETO_SQL = """
WITH per_key AS (
  SELECT o_custkey,
         sum(CAST((round(o_totalprice * 100) + 0.0) AS BIGINT)) AS w
  FROM orders
  WHERE o_custkey IS NOT NULL AND o_totalprice IS NOT NULL
  GROUP BY o_custkey
), tot AS (
  SELECT count(*) AS n, sum(w) AS s FROM per_key
), ranked AS (
  SELECT w,
         row_number() OVER (ORDER BY w DESC) AS rn,
         sum(w) OVER (ORDER BY w DESC
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum
  FROM per_key
), cuts(p) AS (VALUES (1.0), (5.0), (10.0), (20.0), (50.0))
SELECT CAST(p AS DOUBLE) AS pct_keys,
       CAST(ceil(p / 100.0 * tot.n) AS BIGINT) AS n_top_keys,
       (round(cum * 1.0 / tot.s, 6) + 0.0) AS weight_share
FROM cuts
CROSS JOIN tot
JOIN ranked ON rn = CAST(ceil(p / 100.0 * tot.n) AS BIGINT)"""


def _rolling_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """7-day rolling distinct users (profile.rolling_distinct_daily):
    day-level pair fan-out, never a sliding set union."""
    from whiterrabbit_spark.profile import rolling_distinct_daily

    ev = read_parquet_table(spark, sf_dir, "events")
    return rolling_distinct_daily(ev, "ts", "user_id", window_days=7)


_ROLLING_DISTINCT_SQL = """
WITH pairs AS (
  SELECT DISTINCT CAST(date_trunc('day', ts) AS DATE) AS d, user_id AS k
  FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
), days AS (SELECT DISTINCT d FROM pairs)
SELECT strftime(days.d, '%Y-%m-%d') AS day,
       CAST(count(DISTINCT pairs.k) AS BIGINT) AS rolling_distinct
FROM days JOIN pairs ON pairs.d <= days.d AND pairs.d > days.d - 7
GROUP BY days.d"""


def _ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EWMA smoothing of the daily event-value mean
    (profile.ewma_daily, alpha=0.3)."""
    from whiterrabbit_spark.profile import ewma_daily

    ev = read_parquet_table(spark, sf_dir, "events")
    return ewma_daily(ev, "ts", "value", alpha=0.3)


_EWMA_SQL = """
WITH s AS (
  SELECT CAST(date_trunc('day', ts) AS DATE) AS d, avg(value) AS x
  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
  GROUP BY 1
), w AS (
  SELECT d, x, CAST(row_number() OVER (ORDER BY d) AS DOUBLE) AS rn
  FROM s
)
SELECT strftime(d, '%Y-%m-%d') AS day,
       (round(x, 6) + 0.0) AS daily_mean,
       (round(
         (sum(x * pow(0.7, -rn)) OVER (ORDER BY rn
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          * pow(0.7, rn))
         / (sum(pow(0.7, -rn)) OVER (ORDER BY rn
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            * pow(0.7, rn)), 6) + 0.0) AS ewma
FROM w"""


def _graph_degree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top co-purchase hubs by degree (graph.degree_stats): endpoint
    union + one groupBy + TakeOrdered top-10."""
    from whiterrabbit_spark.extensions.graph import degree_stats

    out = degree_stats(_copurchase_edges(spark, sf_dir), top_k=10)
    return out.select(
        "node", "degree", F.round("degree_share", R).alias("degree_share")
    )


_GRAPH_DEGREE_SQL = f"""
WITH {_COPURCHASE_EDGES_SQL},
ends AS (
  SELECT src AS node FROM e UNION ALL SELECT dst FROM e
), deg AS (
  SELECT node, count(*) AS degree FROM ends GROUP BY node
)
SELECT node, CAST(degree AS BIGINT) AS degree,
       (round(degree * 1.0 / (SELECT sum(degree) FROM deg), {R}) + 0.0)
         AS degree_share
FROM deg ORDER BY degree DESC, node LIMIT 10"""


def _synth_block_png(key: str, wpx: int, hpx: int, noise: bool = False) -> bytes:
    """Shared renderer for the synthetic image/video E2E corpora: a
    wpx×hpx grayscale PNG of 8×8 blocks whose dark/bright (40/216)
    pattern is the 64-bit md5 of ``key``; ``noise`` bumps block (0,0)
    by +3 (the clone perturbation that must NOT flip an aHash bit).
    Byte-exact behavior is load-bearing — the image_near_dups /
    image_keep_best / image_dims_profile / video_* queries AND their
    arithmetic oracles all assume this one definition."""
    import hashlib

    from whiterrabbit_spark.extensions import stdlib_codecs as sc

    hb = hashlib.md5(key.encode()).digest()[:8]
    bits = [(hb[i // 8] >> (7 - i % 8)) & 1 for i in range(64)]
    px = bytearray()
    for y in range(hpx):
        for x in range(wpx):
            v = 216 if bits[(y * 8 // hpx) * 8 + (x * 8 // wpx)] else 40
            if noise and y < hpx // 8 and x < wpx // 8:
                v = min(255, v + 3)
            px.append(v)
    return sc.png_encode(wpx, hpx, "L", bytes(px))


@functools.lru_cache(maxsize=4)
def _synth_tones(blk: int):
    """Per-block-length tone bank for the synthetic audio corpora —
    cached so per-row rendering doesn't recompute 8 sinusoids."""
    import numpy as np

    t = np.arange(blk) / 8000
    return np.stack([np.sin(2 * np.pi * (400 + b * 400) * t) for b in range(8)])


def _synth_tone_wav(key: str, blk: int, noise_seed: int | None = None) -> bytes:
    """Shared renderer for the synthetic audio E2E corpora: an 8-block
    PCM WAV whose 8×8 time-block × frequency-band tone pattern is the
    64-bit md5 of ``key``; ``noise_seed`` adds the seeded low-level
    noise that must NOT flip a spectral-hash bit. Byte-exact contract
    shared by audio_near_dups / audio_keep_best and their oracles."""
    import hashlib

    import numpy as np

    from whiterrabbit_spark.extensions import stdlib_codecs as sc

    tones = _synth_tones(blk)
    hb = hashlib.md5(key.encode()).digest()[:8]
    bits = [(hb[i // 8] >> (7 - i % 8)) & 1 for i in range(64)]
    x = np.zeros(8 * blk)
    for tb in range(8):
        sel = [b for b in range(8) if bits[tb * 8 + b]]
        if sel:
            x[tb * blk:(tb + 1) * blk] = 0.2 * tones[sel].sum(axis=0)
    if noise_seed is not None:
        x = x + 0.01 * np.random.RandomState(noise_seed).randn(len(x))
    return sc.wav_encode(
        np.clip(x * 32767, -32767, 32767).astype("<i2"), 8000
    )



def _image_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual image dedup E2E (multimodal.image_ahash +
    ahash_near_pairs): a deterministic synthetic image corpus — each
    doc renders a 32×24 PNG of 8×8 blocks whose dark/bright pattern is
    the 64-bit md5 of its content group; every doc_id ≡ 1 (mod 10) is
    a lightly-noised re-render of doc_id−1's image. The full pipeline
    (stdlib PNG encode → decode → luma → bilinear 8×8 → threshold →
    banded Hamming join) must recover EXACTLY the planted clone pairs:
    block values (40/216) sit far from the mean, so noise (+3 on one
    block) flips no hash bit, unplanted collisions need two 64-bit
    md5 prefixes within Hamming 3 (P ≈ 3e-10 at sf0.1), and the oracle
    reconstructs the planted pair set arithmetically."""
    from whiterrabbit_spark.extensions import multimodal as mm

    docs = read_parquet_table(spark, sf_dir, "documents").select("doc_id")

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            ids, payloads = [], []
            for d in pdf["doc_id"]:
                d = int(d)
                clone = d % 10 == 1
                grp = d - 1 if clone else d
                ids.append(d)
                payloads.append(
                    _synth_block_png(str(grp), 32, 24, noise=clone)
                )
            yield pd.DataFrame({"media_id": ids, "payload": payloads})

    media = docs.mapInPandas(gen, "media_id long, payload binary")
    return (
        mm.ahash_near_pairs(media, max_hamming=3)
        .select("id1", "id2")
        .orderBy("id1")
    )


_IMAGE_NEAR_DUPS_SQL = """
SELECT CAST(doc_id - 1 AS BIGINT) AS id1,
       CAST(doc_id AS BIGINT) AS id2
FROM documents
WHERE doc_id % 10 = 1
  AND doc_id - 1 IN (SELECT doc_id FROM documents)
ORDER BY id1"""


def _image_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical image dedup E2E (multimodal.image_keep_best): the
    image_near_dups corpus, except every clone (doc_id ≡ 1 mod 10)
    re-renders its group's block pattern at 16×16 instead of the
    original 32×24 — same aHash (blocks survive the bilinear 8×8
    resample exactly at both sizes), lower resolution. keep-best must
    then (a) recover exactly the planted pairs via the banded Hamming
    join, (b) cluster them (cluster_id = min id), and (c) keep the
    32×24 original (score 768 px) over the 16×16 clone (256 px), with
    singletons passing through kept. The score pass is the JVM-only
    PNG-header sniff — the oracle reconstructs all four columns
    arithmetically from doc_id."""
    from whiterrabbit_spark.extensions import multimodal as mm

    docs = read_parquet_table(spark, sf_dir, "documents").select("doc_id")

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            ids, payloads = [], []
            for d in pdf["doc_id"]:
                d = int(d)
                clone = d % 10 == 1
                grp = d - 1 if clone else d
                wpx, hpx = (16, 16) if clone else (32, 24)
                ids.append(d)
                payloads.append(
                    _synth_block_png(str(grp), wpx, hpx, noise=clone)
                )
            yield pd.DataFrame({"media_id": ids, "payload": payloads})

    media = docs.mapInPandas(gen, "media_id long, payload binary")
    out = mm.image_keep_best(media, max_hamming=3)
    # -1 sentinel for "no cluster" (compare harness sorts row tuples)
    return out.select(
        "media_id",
        F.coalesce("cluster_id", F.lit(-1)).alias("cluster_id"),
        "score", "kept",
    ).orderBy("media_id")


_IMAGE_KEEP_BEST_SQL = """
WITH d AS (
  SELECT doc_id,
         doc_id % 10 = 1 AS is_clone,
         doc_id % 10 = 1
           AND doc_id - 1 IN (SELECT doc_id FROM documents) AS paired_clone,
         doc_id % 10 = 0
           AND doc_id + 1 IN (SELECT doc_id FROM documents) AS paired_orig
  FROM documents
)
SELECT CAST(doc_id AS BIGINT) AS media_id,
       CAST(CASE WHEN paired_clone THEN doc_id - 1
                 WHEN paired_orig THEN doc_id
                 ELSE -1 END AS BIGINT) AS cluster_id,
       CAST(CASE WHEN is_clone THEN 256.0 ELSE 768.0 END AS DOUBLE) AS score,
       NOT paired_clone AS kept
FROM d
ORDER BY media_id"""


def _image_dims_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-pass resolution histogram
    (multimodal.image_dims_profile) over the mixed-resolution
    image_keep_best corpus (32×24 originals, 16×16 clones): dims come
    from the JVM-only PNG IHDR sniff — no decode anywhere — and the
    oracle reconstructs the histogram arithmetically from the doc_id
    residues that drove the synthesis."""
    from whiterrabbit_spark.extensions import multimodal as mm

    docs = read_parquet_table(spark, sf_dir, "documents").select("doc_id")

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            ids, payloads = [], []
            for d in pdf["doc_id"]:
                d = int(d)
                clone = d % 10 == 1
                grp = d - 1 if clone else d
                wpx, hpx = (16, 16) if clone else (32, 24)
                ids.append(d)
                payloads.append(_synth_block_png(str(grp), wpx, hpx))
            yield pd.DataFrame({"media_id": ids, "payload": payloads})

    media = docs.mapInPandas(gen, "media_id long, payload binary")
    return mm.image_dims_profile(media)


_IMAGE_DIMS_PROFILE_SQL = """
WITH t AS (SELECT count(*) AS total FROM documents),
k AS (
  SELECT CAST(32 AS BIGINT) AS width, CAST(24 AS BIGINT) AS height,
         CAST(sum(CASE WHEN doc_id % 10 <> 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_images
  FROM documents
  UNION ALL
  SELECT 16, 16,
         CAST(sum(CASE WHEN doc_id % 10 = 1 THEN 1 ELSE 0 END) AS BIGINT)
  FROM documents
)
SELECT width, height, n_images,
       (round(n_images / total, 6) + 0.0) AS pct_images
FROM k, t
ORDER BY n_images DESC, width, height"""


def _audio_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio near-duplicate detection E2E (multimodal.audio_spectral_hash
    + audio_near_pairs): the audio twin of image_near_dups — each doc
    renders a ~2 s PCM WAV whose 8×8 time-block × frequency-band tone
    pattern is the 64-bit md5 of its content group; every doc_id ≡ 2
    (mod 10) is a noise-added re-render of doc_id−2's audio. The full
    pipeline (WAV encode → decode → framed FFT → banded energy grid →
    threshold → banded Hamming join) must recover exactly the planted
    clone pairs; the oracle reconstructs the planted set
    arithmetically. Tones sit at band centers with silence elsewhere,
    so the grid threshold is far from every cell's energy and low-level
    noise flips no bit."""
    import numpy as np  # noqa: F401  (worker-side import below)

    from whiterrabbit_spark.extensions import multimodal as mm

    docs = read_parquet_table(spark, sf_dir, "documents").select("doc_id")

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            ids, payloads = [], []
            for d in pdf["doc_id"]:
                d = int(d)
                clone = d % 10 == 2
                grp = d - 2 if clone else d
                ids.append(d)
                payloads.append(
                    _synth_tone_wav(
                        str(grp), 2048, noise_seed=d if clone else None
                    )
                )
            yield pd.DataFrame({"media_id": ids, "payload": payloads})

    media = docs.mapInPandas(gen, "media_id long, payload binary")
    return (
        mm.audio_near_pairs(media, max_hamming=3)
        .select("id1", "id2")
        .orderBy("id1")
    )


_AUDIO_NEAR_DUPS_SQL = """
SELECT CAST(doc_id - 2 AS BIGINT) AS id1,
       CAST(doc_id AS BIGINT) AS id2
FROM documents
WHERE doc_id % 10 = 2
  AND doc_id - 2 IN (SELECT doc_id FROM documents)
ORDER BY id1"""


def _audio_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical audio dedup E2E (multimodal.audio_keep_best): the
    audio_near_dups corpus, except every clone (doc_id ≡ 2 mod 10)
    renders its group's 8×8 tone grid at HALF duration (1024-sample
    time blocks vs 2048) — the spectral hash is duration-invariant
    (per-time-eighth content scales with the file), so the clone still
    pairs, and keep-best must keep the longer original (16384 samples
    vs 8192) with the score read by the pure-JVM WAV header sniff.
    The oracle reconstructs clusters, scores and kept flags
    arithmetically."""
    import numpy as np  # noqa: F401  (worker-side import below)

    from whiterrabbit_spark.extensions import multimodal as mm

    docs = read_parquet_table(spark, sf_dir, "documents").select("doc_id")

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            ids, payloads = [], []
            for d in pdf["doc_id"]:
                d = int(d)
                clone = d % 10 == 2
                grp = d - 2 if clone else d
                ids.append(d)
                payloads.append(
                    _synth_tone_wav(str(grp), 1024 if clone else 2048)
                )
            yield pd.DataFrame({"media_id": ids, "payload": payloads})

    media = docs.mapInPandas(gen, "media_id long, payload binary")
    out = mm.audio_keep_best(media, max_hamming=3)
    # -1 sentinel for "no cluster" (compare harness sorts row tuples)
    return out.select(
        "media_id",
        F.coalesce("cluster_id", F.lit(-1)).alias("cluster_id"),
        "score", "kept",
    ).orderBy("media_id")


_AUDIO_KEEP_BEST_SQL = """
WITH d AS (
  SELECT doc_id,
         doc_id % 10 = 2 AS is_clone,
         doc_id % 10 = 2
           AND doc_id - 2 IN (SELECT doc_id FROM documents) AS paired_clone,
         doc_id % 10 = 0
           AND doc_id + 2 IN (SELECT doc_id FROM documents) AS paired_orig
  FROM documents
)
SELECT CAST(doc_id AS BIGINT) AS media_id,
       CAST(CASE WHEN paired_clone THEN doc_id - 2
                 WHEN paired_orig THEN doc_id
                 ELSE -1 END AS BIGINT) AS cluster_id,
       CAST(CASE WHEN is_clone THEN 8192.0 ELSE 16384.0 END AS DOUBLE)
         AS score,
       NOT paired_clone AS kept
FROM d
ORDER BY media_id"""


def _video_scene_cuts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video shot-boundary detection E2E (multimodal.video_scene_cuts):
    per doc a synthetic 12-frame 'video' — frames are block-pattern
    PNGs keyed by md5(doc, scene), scenes changing at doc-dependent
    planted positions (c1 = 3 + doc_id%3, c2 = 8 + doc_id%2), with a
    small per-frame jitter inside each shot. The frame-hash + lag
    window pipeline must mark exactly the planted boundaries: jitter
    keeps within-shot Hamming ≈ 0, scene rewrites ≈ half the grid, and
    the oracle reconstructs the cut set arithmetically."""
    from whiterrabbit_spark.extensions import multimodal as mm

    docs = read_parquet_table(spark, sf_dir, "documents").select("doc_id")

    def gen(batches):
        import hashlib

        import numpy as np
        import pandas as pd

        from whiterrabbit_spark.extensions import stdlib_codecs as sc

        for pdf in batches:
            vids, idxs, payloads = [], [], []
            for d in pdf["doc_id"]:
                d = int(d)
                c1, c2 = 3 + d % 3, 8 + d % 2
                for i in range(12):
                    scene = 0 if i < c1 else (1 if i < c2 else 2)
                    hb = hashlib.md5(f"{d}-{scene}".encode()).digest()[:8]
                    bits = np.array(
                        [(hb[k // 8] >> (7 - k % 8)) & 1 for k in range(64)]
                    ).reshape(8, 8)
                    img = np.kron(bits * 176 + 40, np.ones((3, 4))).astype(
                        np.uint8
                    )
                    if i % 3:
                        img = img.copy()
                        img[:2, :3] = np.minimum(255, img[:2, :3] + 4)
                    vids.append(d)
                    idxs.append(i)
                    payloads.append(
                        sc.png_encode(32, 24, "L", img.tobytes())
                    )
            yield pd.DataFrame(
                {"media_id": vids, "frame_idx": idxs, "payload": payloads}
            )

    frames = docs.mapInPandas(gen, "media_id long, frame_idx long, payload binary")
    # threshold 8: within-shot jitter flips ZERO hash bits (blocks sit
    # far from the mean), while two independent md5 scene patterns land
    # at Hamming ~32; at 16 the ~5e-5/boundary collision odds actually
    # bit once in the 10,000 boundaries at sf0.1, at 8 they are ~2e-9
    out = mm.video_scene_cuts(frames, hamming_threshold=8)
    return (
        out.where(F.col("is_cut"))
        .select("media_id", "frame_idx")
        .orderBy("media_id", "frame_idx")
    )


def _video_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video near-duplicate detection E2E (multimodal.video_near_pairs):
    per doc an 8-frame 'video' of 32×24 block-pattern PNGs keyed by
    md5(group:frame); every doc_id ≡ 3 (mod 10) re-renders frames 0–6
    of doc_id−3's video and adds one frame of its own — frame-set
    Jaccard 7/9 against the original, 0 against everything else. The
    full pipeline (PNG encode → aHash per frame → inverted-index
    set-intersection join) must emit exactly the planted pairs with
    the exact 7/9 Jaccard; the oracle reconstructs pair set and value
    arithmetically."""
    from whiterrabbit_spark.extensions import multimodal as mm

    docs = read_parquet_table(spark, sf_dir, "documents").select("doc_id")

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            vids, idxs, payloads = [], [], []
            for d in pdf["doc_id"]:
                d = int(d)
                clone = d % 10 == 3
                grp = d - 3 if clone else d
                for j in range(8):
                    key = (
                        f"{d}:own" if clone and j == 7 else f"{grp}:{j}"
                    )
                    vids.append(d)
                    idxs.append(j)
                    payloads.append(_synth_block_png(key, 32, 24))
            yield pd.DataFrame(
                {"media_id": vids, "frame_idx": idxs, "payload": payloads}
            )

    frames = docs.mapInPandas(gen, "media_id long, frame_idx long, payload binary")
    return (
        mm.video_near_pairs(frames, min_jaccard=0.5)
        .orderBy("id1")
    )


_VIDEO_NEAR_DUPS_SQL = """
SELECT CAST(doc_id - 3 AS BIGINT) AS id1,
       CAST(doc_id AS BIGINT) AS id2,
       CAST(7 AS BIGINT) AS n_common,
       (round(7.0 / 9.0, 6) + 0.0) AS jaccard
FROM documents
WHERE doc_id % 10 = 3
  AND doc_id - 3 IN (SELECT doc_id FROM documents)
ORDER BY id1"""


def _video_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical video dedup E2E (multimodal.video_keep_best): the
    video_near_dups corpus, except clones render only 7 frames (6
    shared + 1 own — Jaccard 6/9 against the 8-frame original, still
    above the 0.5 threshold), so keep-best must keep the more complete
    8-frame original by pure frame count. Clusters, scores and kept
    flags reconstructed arithmetically by the oracle."""
    from whiterrabbit_spark.extensions import multimodal as mm

    docs = read_parquet_table(spark, sf_dir, "documents").select("doc_id")

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            vids, idxs, payloads = [], [], []
            for d in pdf["doc_id"]:
                d = int(d)
                clone = d % 10 == 3
                grp = d - 3 if clone else d
                n = 7 if clone else 8
                for j in range(n):
                    key = f"{d}:own" if clone and j == 6 else f"{grp}:{j}"
                    vids.append(d)
                    idxs.append(j)
                    payloads.append(_synth_block_png(key, 32, 24))
            yield pd.DataFrame(
                {"media_id": vids, "frame_idx": idxs, "payload": payloads}
            )

    frames = docs.mapInPandas(gen, "media_id long, frame_idx long, payload binary")
    out = mm.video_keep_best(frames, min_jaccard=0.5)
    # -1 sentinel for "no cluster" (compare harness sorts row tuples)
    return out.select(
        "media_id",
        F.coalesce("cluster_id", F.lit(-1)).alias("cluster_id"),
        "score", "kept",
    ).orderBy("media_id")


_VIDEO_KEEP_BEST_SQL = """
WITH d AS (
  SELECT doc_id,
         doc_id % 10 = 3 AS is_clone,
         doc_id % 10 = 3
           AND doc_id - 3 IN (SELECT doc_id FROM documents) AS paired_clone,
         doc_id % 10 = 0
           AND doc_id + 3 IN (SELECT doc_id FROM documents) AS paired_orig
  FROM documents
)
SELECT CAST(doc_id AS BIGINT) AS media_id,
       CAST(CASE WHEN paired_clone THEN doc_id - 3
                 WHEN paired_orig THEN doc_id
                 ELSE -1 END AS BIGINT) AS cluster_id,
       CAST(CASE WHEN is_clone THEN 7.0 ELSE 8.0 END AS DOUBLE) AS score,
       NOT paired_clone AS kept
FROM d
ORDER BY media_id"""


_VIDEO_SCENE_CUTS_SQL = """
SELECT CAST(doc_id AS BIGINT) AS media_id,
       CAST(3 + doc_id % 3 AS BIGINT) AS frame_idx
FROM documents
UNION ALL
SELECT CAST(doc_id AS BIGINT), CAST(8 + doc_id % 2 AS BIGINT)
FROM documents
ORDER BY 1, 2"""


_SHUFFLE_P = 1_000_000_007


def _shuffle_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global training-order shuffle
    (splits.shuffle_shards): md5-keyed shard + order assignment, zero
    RNG state. The report groups per shard — doc count, distinct
    source languages (every shard should interleave all of them) and a
    modular checksum of the shuffle keys, so the oracle verifies the
    exact per-row shard placement, not just counts."""
    from whiterrabbit_spark.extensions import splits as sp

    docs = read_parquet_table(spark, sf_dir, "documents")
    sh = sp.shuffle_shards(docs, "doc_id", 8)
    return (
        sh.groupBy("shard_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("lang").alias("n_langs"),
            (F.sum(F.col("shuffle_key") % _SHUFFLE_P) % _SHUFFLE_P).alias(
                "key_checksum"
            ),
        )
        .orderBy("shard_id")
    )


_SHUFFLE_SHARDS_SQL = f"""
WITH h AS (
  SELECT lang,
         ('0x' || substr(md5(doc_id::VARCHAR || 'shuffle'), 1, 15))::BIGINT
           AS k
  FROM documents
)
SELECT CAST(k % 8 AS BIGINT) AS shard_id,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
       CAST(sum(k % {_SHUFFLE_P}) % {_SHUFFLE_P} AS BIGINT) AS key_checksum
FROM h
GROUP BY 1
ORDER BY 1"""


_EPOCH_WEIGHTS = {"en": 2.0, "de": 1.5, "fr": 0.5, "zh": 1.0}


def _epoch_upsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted multi-epoch mixture (splits.epoch_upsample): fractional
    per-source repeat factors realized as floor(w) copies plus a
    deterministic hash-fraction extra copy. Per language: source docs,
    emitted rows, the realized rate (→ w as corpus grows) and the max
    epoch index — the oracle recomputes each doc's exact copy count, so
    the check is placement-exact."""
    from whiterrabbit_spark.extensions import splits as sp

    docs = read_parquet_table(spark, sf_dir, "documents")
    up = sp.epoch_upsample(docs, "doc_id", "lang", _EPOCH_WEIGHTS)
    emitted = up.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_emitted"),
        F.max("epoch_idx").alias("max_epoch"),
    )
    totals = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n_source_docs"))
    return (
        totals.join(emitted, "lang", "left")
        .select(
            "lang",
            "n_source_docs",
            F.coalesce(F.col("n_emitted"), F.lit(0)).alias("n_emitted"),
            F.round(
                F.coalesce(F.col("n_emitted"), F.lit(0))
                / F.col("n_source_docs").cast("double"),
                6,
            ).alias("realized_rate"),
            F.coalesce(F.col("max_epoch"), F.lit(0)).cast("long").alias(
                "max_epoch"
            ),
        )
        .orderBy("lang")
    )


def _epoch_upsample_sql() -> str:
    case = "CASE lang " + " ".join(
        f"WHEN '{g}' THEN {w}" for g, w in _EPOCH_WEIGHTS.items()
    ) + " ELSE 1.0 END"
    return f"""
WITH b AS (
  SELECT lang,
         ('0x' || substr(md5(doc_id::VARCHAR || 'epoch'), 1, 15))::BIGINT
           % 10000 AS bucket,
         {case} AS w
  FROM documents
), n AS (
  SELECT lang,
         CAST(floor(w) + CASE WHEN bucket < (round((w - floor(w)) * 10000) + 0.0)
                              THEN 1 ELSE 0 END AS BIGINT) AS n
  FROM b
)
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_source_docs,
       CAST(sum(n) AS BIGINT) AS n_emitted,
       (round(sum(n) * 1.0 / count(*), 6) + 0.0) AS realized_rate,
       CAST(max(n) AS BIGINT) AS max_epoch
FROM n
GROUP BY lang
ORDER BY lang"""


_PAD_EDGES = [64, 128, 256, 512]


def _curriculum_stages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum staging (splits.curriculum_stages): every document
    assigned to a quality-quartile stage — exact type-7 thresholds
    from a bounded-state percentile over 6-dp-rounded scores (state ≤
    10^6+1 entries at ANY corpus size), one broadcast threshold row,
    map-side assignment; no global sort, no window. The rollup audits
    the resulting curriculum: per stage the doc count, score band and
    char mass. The oracle recomputes thresholds with quantile_cont
    (same type-7 interpolation) and must agree on every row's stage."""
    from whiterrabbit_spark.extensions import splits as sp
    from whiterrabbit_spark.extensions import textstats as ts

    docs = read_parquet_table(spark, sf_dir, "documents")
    scored = (
        ts.quality_score(docs, "text", "doc_id")
        .select("doc_id", "quality_score")
        .join(docs.select("doc_id", "n_chars"), "doc_id")
    )
    staged = sp.curriculum_stages(scored, "quality_score", "doc_id", n_stages=4)
    s6 = F.round(F.col("quality_score"), 6)
    return (
        staged.groupBy("stage")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.min(s6), 6).alias("min_score"),
            F.round(F.max(s6), 6).alias("max_score"),
            F.round(F.avg(s6), 6).alias("mean_score"),
            F.sum("n_chars").alias("total_chars"),
        )
        .orderBy("stage")
    )


def _curriculum_stages_sql() -> str:
    return f"""
WITH {_quality_core_sql()},
r AS (
  SELECT s.doc_id, (round(s.quality_score, 6) + 0.0) AS score, d.n_chars
  FROM sc s JOIN documents d USING (doc_id)
),
th AS (
  SELECT (round(quantile_cont(score, 0.25), 6) + 0.0) AS t1,
         (round(quantile_cont(score, 0.50), 6) + 0.0) AS t2,
         (round(quantile_cont(score, 0.75), 6) + 0.0) AS t3
  FROM r
),
a AS (
  SELECT score, n_chars,
         1 + (score > t1)::INT + (score > t2)::INT + (score > t3)::INT
           AS stage
  FROM r, th
)
SELECT CAST(stage AS BIGINT) AS stage,
       CAST(count(*) AS BIGINT) AS n_docs,
       (round(min(score), 6) + 0.0) AS min_score,
       (round(max(score), 6) + 0.0) AS max_score,
       (round(avg(score), 6) + 0.0) AS mean_score,
       CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM a
GROUP BY stage
ORDER BY stage"""


def _padding_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bucketed batching payoff (splits.padding_efficiency):
    per length bucket the pad-to-edge waste fraction vs the pad-to-
    global-max single-bucket baseline — the report that justifies (or
    rejects) bucketed batching for a corpus. Lengths are BPE-ish
    pretokenizer counts (SQL-identical regex both sides)."""
    from whiterrabbit_spark.extensions import splits as sp

    docs = read_parquet_table(spark, sf_dir, "documents")
    return sp.padding_efficiency(
        docs, ts.bpe_token_count(F.col("text")), _PAD_EDGES
    ).orderBy("bucket_edge")


def _padding_efficiency_sql() -> str:
    re_ = ts.BPE_TOKEN_RE.replace("'", "''")
    edges = sorted(_PAD_EDGES)
    edge_case = "CASE " + " ".join(
        f"WHEN l <= {e} THEN {e}" for e in edges
    ) + " ELSE NULL END"
    return f"""
WITH l AS (
  SELECT len(regexp_extract_all(text, '{re_}')) AS l FROM documents
), e AS (
  SELECT l, {edge_case} AS edge FROM l
), g AS (
  SELECT max(l) AS gmax, sum(l) AS gsum, count(*) AS gn FROM l
), per AS (
  SELECT edge, count(*) AS n_rows, sum(l) AS real_tokens,
         max(l) AS bmax
  FROM e GROUP BY edge
)
SELECT CAST(coalesce(edge, bmax) AS BIGINT) AS bucket_edge,
       CAST(n_rows AS BIGINT) AS n_rows,
       CAST(real_tokens AS BIGINT) AS real_tokens,
       CAST(n_rows * coalesce(edge, bmax) AS BIGINT) AS padded_tokens,
       (round((n_rows * coalesce(edge, bmax) - real_tokens) * 1.0
             / (n_rows * coalesce(edge, bmax)), 6) + 0.0) AS waste_frac,
       (round((g.gn * g.gmax - g.gsum) * 1.0 / (g.gn * g.gmax), 6) + 0.0)
         AS baseline_waste_frac
FROM per, g
ORDER BY 1"""


def _pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the part co-purchase graph (graph.pagerank):
    power method capped at 10 iterations with L1-delta early exit
    (tol=1e-3 across each 2-iteration checkpoint window). Oracle-backed
    as of r5 (VERDICT r4 #4): the iteration count is a deterministic
    function of the data, so the oracle UNROLLS all 10 iterations as
    chained CTEs, computes the same checkpoint-window L1 deltas, and
    selects the first window that clears tol — bitwise the same
    recurrence, rounded to R digits on both sides."""
    from whiterrabbit_spark.extensions.graph import pagerank

    out = pagerank(
        _copurchase_edges(spark, sf_dir),
        n_iter=10,
        top_k=20,
        checkpoint_every=2,
        tol=1e-3,
        # cooccurrence_edges emits one row per (src < dst) pair, so the
        # symmetrized list needs no dedup shuffle (r8)
        edges_distinct=True,
    )
    return out.select("node", F.round("rank", R).alias("rank"))


def _pagerank_sql() -> str:
    """Unrolled power iteration mirroring graph.pagerank exactly:
    r0 = 1/N; r_k = (1-d)/N + d * Σ_in r_{k-1}/deg; boundary deltas
    d_b = Σ|r_b - r_{b-2}| at b ∈ {2,4,6,8} (never at the final
    iteration, matching the `i+1 < n_iter` guard); the result is the
    first boundary with d_b < tol, else r10."""
    d, n_iter, ck, tol = 0.85, 10, 2, 1e-3
    its = []
    for k in range(1, n_iter + 1):
        its.append(f"""r{k} AS (
  SELECT n.node, n.deg,
         (1.0 - {d}) / (SELECT n FROM nn) + {d} * coalesce(c.inc, 0.0) AS pr
  FROM nodes n LEFT JOIN (
    SELECT b.dst AS node, sum(r.pr / r.deg) AS inc
    FROM sym b JOIN r{k - 1} r ON b.src = r.node GROUP BY b.dst
  ) c ON n.node = c.node
)""")
    deltas = [
        f"d{b} AS (SELECT sum(abs(a.pr - p.pr)) AS d "
        f"FROM r{b} a JOIN r{b - ck} p ON a.node = p.node)"
        for b in range(ck, n_iter, ck)
    ]
    branches, prior = [], []
    for b in range(ck, n_iter, ck):
        cond = " AND ".join(prior + [f"(SELECT d FROM d{b}) < {tol}"])
        branches.append(f"SELECT node, pr FROM r{b} WHERE {cond}")
        prior.append(f"NOT ((SELECT d FROM d{b}) < {tol})")
    branches.append(
        f"SELECT node, pr FROM r{n_iter} WHERE " + " AND ".join(prior)
    )
    final = " UNION ALL ".join(branches)
    return f"""
WITH {_COPURCHASE_EDGES_SQL},
sym AS (
  SELECT src, dst FROM e UNION SELECT dst AS src, src AS dst FROM e
), nodes AS (
  SELECT src AS node, count(*) AS deg FROM sym GROUP BY src
), nn AS (
  SELECT count(*) AS n FROM nodes
), r0 AS (
  SELECT node, deg, 1.0 / (SELECT n FROM nn) AS pr FROM nodes
),
{", ".join(its)},
{", ".join(deltas)},
final AS ({final})
SELECT node, (round(pr, {R}) + 0.0) AS rank
FROM final ORDER BY pr DESC, node LIMIT 20"""


def _running_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-key running z-score anomaly scores (streaming.running_zscore
    batch form): strictly-prior window per key — the no-lookahead score
    an online monitor emits; the stateful Welford twin is pinned equal
    in unit tests."""
    from whiterrabbit_spark.extensions.streaming import running_zscore

    ev = read_parquet_table(spark, sf_dir, "events")
    out = running_zscore(ev, min_history=10, z_threshold=3.0)
    return out.select(
        "event_id", "event_type", "n_prior",
        F.round("z", R).alias("z"), "is_anomaly",
    )


_RUNNING_Z_SQL = f"""
WITH w AS (
  SELECT event_id, event_type,
         count(value) OVER win AS n_prior,
         avg(value) OVER win AS mean_prev,
         stddev_samp(value) OVER win AS sd_prev,
         value
  FROM events
  WINDOW win AS (PARTITION BY event_type ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
)
SELECT event_id, event_type, CAST(n_prior AS BIGINT) AS n_prior,
       (round(CASE WHEN n_prior >= 10 AND sd_prev > 0
                  THEN (value - mean_prev) / sd_prev END, {R}) + 0.0) AS z,
       coalesce(abs(CASE WHEN n_prior >= 10 AND sd_prev > 0
                         THEN (value - mean_prev) / sd_prev END) > 3.0,
                false) AS is_anomaly
FROM w"""


QQ_PROBS = (0.05, 0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9, 0.95)


def _qq_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QQ comparison of o_totalprice between open and fulfilled orders
    (profile.qq_drift): one grouped-quantiles pass, then a 2×|probs|
    frame — localizes WHERE distributions diverge."""
    from whiterrabbit_spark.profile import qq_drift

    orders = read_parquet_table(spark, sf_dir, "orders")
    out = qq_drift(orders, "o_totalprice", "o_orderstatus", "O", "F",
                   probs=QQ_PROBS)
    return out.select(
        F.round("prob", R).alias("prob"),
        F.round("q_a", R).alias("q_a"),
        F.round("q_b", R).alias("q_b"),
        F.round("diff", R).alias("diff"),
    )


def _qq_drift_sql() -> str:
    probs_sql = ", ".join(str(p) for p in QQ_PROBS)
    return f"""
WITH q AS (
  SELECT o_orderstatus AS g,
         quantile_cont(o_totalprice, [{probs_sql}]) AS qs
  FROM orders WHERE o_orderstatus IN ('O', 'F')
    AND o_totalprice IS NOT NULL
  GROUP BY 1
), u AS (
  SELECT g, unnest(qs) AS q, generate_subscripts(qs, 1) AS i FROM q
), m AS (
  SELECT g, q, CAST([{probs_sql}][i] AS DOUBLE) AS prob FROM u
)
SELECT (round(a.prob, {R}) + 0.0) AS prob, (round(a.q, {R}) + 0.0) AS q_a,
       (round(b.q, {R}) + 0.0) AS q_b, (round(b.q - a.q, {R}) + 0.0) AS diff
FROM m a JOIN m b ON a.prob = b.prob AND a.g = 'O' AND b.g = 'F'"""


SPEARMAN_PAIRS = [
    ("l_quantity", "l_extendedprice"),
    ("l_quantity", "l_discount"),
    ("l_extendedprice", "l_tax"),
]


def _spearman_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation for a set of lineitem pairs — the
    monotone-association matrix. profile.spearman_matrix builds ALL
    pairs' joint value histograms from ONE fact scan (posexplode melt
    + checkpointed joint hist; ranks and moments re-aggregate from the
    hist) instead of one ~3-scan spearman_corr per pair."""
    from whiterrabbit_spark.profile import spearman_matrix

    li = read_parquet_table(spark, sf_dir, "lineitem")
    out = spearman_matrix(li, SPEARMAN_PAIRS)
    return out.select(
        "col_a", "col_b", F.round("spearman", R).alias("spearman"), "n"
    )


def _spearman_matrix_sql() -> str:
    parts = []
    for a, b in SPEARMAN_PAIRS:
        parts.append(f"""
SELECT '{a}' AS col_a, '{b}' AS col_b,
       (round(corr(ra, rb), {R}) + 0.0) AS spearman, count(*) AS n
FROM (
  SELECT cume_dist() OVER (ORDER BY a) AS ra,
         cume_dist() OVER (ORDER BY b) AS rb
  FROM (
    SELECT {a} AS a, {b} AS b FROM lineitem
    WHERE {a} IS NOT NULL AND {b} IS NOT NULL
  )
)""")
    return " UNION ALL ".join(parts)


MI_RANK_TARGET = "o_orderstatus"
MI_RANK_FEATURES = ["o_orderpriority", "o_custkey", "o_totalprice"]


def _mi_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-association ranking: MI of each candidate column against
    the o_orderstatus label (profile.mutual_information over string
    casts) — the which-columns-predict-the-label / leakage screen. One
    cells-groupBy per pair, ≤ |levels|² state each."""
    from whiterrabbit_spark.profile import mutual_information

    orders = read_parquet_table(spark, sf_dir, "orders")
    out = mutual_information(
        orders, [(c, MI_RANK_TARGET) for c in MI_RANK_FEATURES]
    )
    return out.select(
        F.col("col_a").alias("feature"),
        "n_rows",
        F.round("mi", R).alias("mi"),
        F.round("mi_norm", R).alias("mi_norm"),
    )


def _mi_ranking_sql() -> str:
    parts = []
    for c in MI_RANK_FEATURES:
        parts.append(f"""
SELECT '{c}' AS feature, n_rows,
       (round(greatest(mi, 0.0), {R}) + 0.0) AS mi,
       (round(CASE WHEN least(ha, hb) > 0
                  THEN greatest(mi, 0.0) / least(ha, hb) END, {R}) + 0.0) AS mi_norm
FROM (
  SELECT sum((n/nt) * ln((n/nt) / ((na/nt)*(nb/nt)))) AS mi,
         sum(-((na/nt) * ln(na/nt)) / ca) AS ha,
         sum(-((nb/nt) * ln(nb/nt)) / cb) AS hb,
         sum(n)::BIGINT AS n_rows
  FROM (
    SELECT n,
           sum(n) OVER () AS nt,
           sum(n) OVER (PARTITION BY a) AS na,
           sum(n) OVER (PARTITION BY b) AS nb,
           count(*) OVER (PARTITION BY a) AS ca,
           count(*) OVER (PARTITION BY b) AS cb
    FROM (
      SELECT CAST({c} AS VARCHAR) AS a,
             CAST({MI_RANK_TARGET} AS VARCHAR) AS b,
             count(*)::DOUBLE AS n
      FROM orders
      WHERE {c} IS NOT NULL AND {MI_RANK_TARGET} IS NOT NULL
      GROUP BY 1, 2
    )
  )
)""")
    return " UNION ALL ".join(parts)


GINI_COLS = ["l_extendedprice", "l_quantity"]


def _gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini concentration per lineitem money/quantity column
    (profile.gini_coefficient): tied-rank identity over the value
    histogram + the shared bucketed prefix sum."""
    from whiterrabbit_spark.profile import gini_coefficient

    li = read_parquet_table(spark, sf_dir, "lineitem")
    out = gini_coefficient(li, GINI_COLS)
    return out.select(
        "column_name", "n_rows", F.round("gini", R).alias("gini")
    )


def _gini_sql() -> str:
    parts = []
    for c in GINI_COLS:
        parts.append(f"""
SELECT '{c}' AS column_name, CAST(n AS BIGINT) AS n_rows,
       (round(CASE WHEN t > 0 AND n > 0
                  THEN greatest(0.0, 2.0 * rw / (n * t) - (n + 1.0) / n)
                  ELSE 0.0 END, {R}) + 0.0) AS gini
FROM (
  SELECT sum(v * c) AS t, sum(c) AS n,
         sum(v * (c * b + c * (c + 1) / 2.0)) AS rw
  FROM (
    SELECT v, c,
           coalesce(sum(c) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
                                 PRECEDING AND 1 PRECEDING), 0)::DOUBLE AS b
    FROM (
      SELECT {c}::DOUBLE AS v, count(*)::DOUBLE AS c FROM lineitem
      WHERE {c} IS NOT NULL AND {c} >= 0 GROUP BY 1
    )
  )
)""")
    return " UNION ALL ".join(parts)


def _tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped pricing summary: the canonical single-scan
    multi-aggregate groupBy (map-side combine carries everything; the
    Exchange moves 4 groups). All money sums run in integer fixed-point
    (cents / e4 / e6) — double accumulation is order-dependent and a
    ~1e8 sum can't hash-match at 6 dp; integer sums are exact on both
    engines, and the averages derive from those exact sums."""
    li = read_parquet_table(spark, sf_dir, "lineitem")
    qty = F.round(F.col("l_quantity")).cast("long")
    price_e2 = F.round(F.col("l_extendedprice") * 100).cast("long")
    disc_e2 = F.round(F.col("l_discount") * 100).cast("long")
    tax_e2 = F.round(F.col("l_tax") * 100).cast("long")
    disc_price_e4 = price_e2 * (100 - disc_e2)
    charge_e6 = disc_price_e4 * (100 + tax_e2)
    cnt = F.count(F.lit(1))
    return (
        li.where(F.col("l_shipdate") <= F.lit("2001-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(qty).alias("sum_qty"),
            F.round(F.sum(price_e2) / 100.0, R).alias("sum_base_price"),
            F.round(F.sum(disc_price_e4) / 1e4, R).alias("sum_disc_price"),
            F.round(F.sum(charge_e6) / 1e6, R).alias("sum_charge"),
            F.round(F.sum(qty) / cnt, R).alias("avg_qty"),
            F.round(F.sum(price_e2) / 100.0 / cnt, R).alias("avg_price"),
            F.round(F.sum(disc_e2) / 100.0 / cnt, R).alias("avg_disc"),
            cnt.alias("count_order"),
        )
    )


_TPCH_Q1_SQL = f"""
SELECT l_returnflag, l_linestatus,
  CAST(sum(CAST((round(l_quantity) + 0.0) AS BIGINT)) AS BIGINT) AS sum_qty,
  (round(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) / 100.0, {R}) + 0.0)
    AS sum_base_price,
  (round(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
            * (100 - CAST(round(l_discount * 100) AS BIGINT))) / 1e4, {R}) + 0.0)
    AS sum_disc_price,
  (round(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
            * (100 - CAST(round(l_discount * 100) AS BIGINT))
            * (100 + CAST(round(l_tax * 100) AS BIGINT))) / 1e6, {R}) + 0.0)
    AS sum_charge,
  (round(sum(CAST(round(l_quantity) AS BIGINT)) * 1.0 / count(*), {R}) + 0.0)
    AS avg_qty,
  (round(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) / 100.0
        / count(*), {R}) + 0.0) AS avg_price,
  (round(sum(CAST(round(l_discount * 100) AS BIGINT)) / 100.0
        / count(*), {R}) + 0.0) AS avg_disc,
  CAST(count(*) AS BIGINT) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2001-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus"""


def _tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-shaped shipping priority: segment-filtered 3-way join
    with both date predicates pushed to the scans, revenue in integer
    fixed-point, top-10 via TakeOrderedAndProject with a total order
    (revenue DESC, orderdate, orderkey) so the LIMIT boundary is
    engine-independent. The customer side broadcasts; the fact-fact
    join shuffles on the order key."""
    li = read_parquet_table(spark, sf_dir, "lineitem")
    orders = read_parquet_table(spark, sf_dir, "orders")
    cust = read_parquet_table(spark, sf_dir, "customer")
    d = "1998-03-15"
    rev_e4 = (
        F.round(F.col("l_extendedprice") * 100).cast("long")
        * (100 - F.round(F.col("l_discount") * 100).cast("long"))
    )
    out = (
        li.where(F.col("l_shipdate") > F.lit(d))
        .join(
            orders.where(F.col("o_orderdate") < F.lit(d)),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(
            F.broadcast(
                cust.where(F.col("c_mktsegment") == "BUILDING")
            ),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.round(F.sum(rev_e4) / 1e4, R).alias("revenue"))
    )
    return (
        out.orderBy(
            F.col("revenue").desc(), "o_orderdate", "l_orderkey"
        )
        .limit(10)
        .select(
            "l_orderkey",
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
            "o_orderpriority",
        )
    )


_TPCH_Q3_SQL = f"""
SELECT l_orderkey,
       (round(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                 * (100 - CAST(round(l_discount * 100) AS BIGINT))) / 1e4,
             {R}) + 0.0) AS revenue,
       strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
       o_orderpriority
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
  AND l_shipdate > TIMESTAMP '1998-03-15 00:00:00'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, o_orderdate, l_orderkey
LIMIT 10"""


def _tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6-shaped revenue forecast: the pure filter-and-aggregate
    probe — every predicate (date range, discount band, quantity cap)
    must reach the parquet scan, and the whole query is one map-side
    fold to a single row. Revenue in integer fixed-point e4."""
    li = read_parquet_table(spark, sf_dir, "lineitem")
    rev_e4 = (
        F.round(F.col("l_extendedprice") * 100).cast("long")
        * F.round(F.col("l_discount") * 100).cast("long")
    )
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit("1996-01-01"))
            & (F.col("l_shipdate") < F.lit("1997-01-01"))
            # raw-column range, NOT round(x*100) BETWEEN — an expression
            # predicate can't reach the parquet reader; the raw range is
            # row-group-prunable and selects the same 2-decimal values
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(F.sum(rev_e4) / 1e4, R).alias("revenue"),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
    )


_TPCH_Q6_SQL = f"""
SELECT (round(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                 * CAST(round(l_discount * 100) AS BIGINT)) / 1e4, {R}) + 0.0)
         AS revenue,
       CAST(count(*) AS BIGINT) AS n_lineitems
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
  AND l_discount >= 0.05 AND l_discount <= 0.07
  AND l_quantity < 24"""


def _lifetime_survival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User-lifetime survival curve (profile.lifetime_survival): rows
    collapse to one span per user, then to the ≤ max-lifetime-in-days
    histogram; reverse running sum over that tiny series."""
    from whiterrabbit_spark.profile import lifetime_survival

    ev = read_parquet_table(spark, sf_dir, "events")
    out = lifetime_survival(ev, "user_id", "ts", unit_seconds=86_400)
    return out.select(
        "t", "n_entities_at_least_t",
        F.round("survival", R).alias("survival"),
    )


_LIFETIME_SQL = f"""
WITH span AS (
  SELECT CAST(floor((epoch(max(ts)) - epoch(min(ts))) / 86400.0) AS BIGINT)
           AS t
  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
  GROUP BY user_id
), h AS (
  SELECT t, count(*) AS n FROM span GROUP BY t
), tot AS (
  SELECT sum(n) AS nt FROM h
)
SELECT t,
       CAST(sum(n) OVER (ORDER BY t ROWS BETWEEN CURRENT ROW
                         AND UNBOUNDED FOLLOWING) AS BIGINT)
         AS n_entities_at_least_t,
       (round(sum(n) OVER (ORDER BY t ROWS BETWEEN CURRENT ROW
                          AND UNBOUNDED FOLLOWING) * 1.0 / tot.nt, {R}) + 0.0)
         AS survival
FROM h CROSS JOIN tot"""


_WHITEN_K = 8


def _whiten_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitening INVARIANT frame (similarity.whiten_embeddings, k=8) —
    VERDICT r5 #5: whitening's defining property IS SQL-checkable
    without an eigensolver, so the registered entry emits the property
    itself: for the whitened output, population covariance == I (unit
    diagonal, zero off-diagonal) and per-dimension mean == 0. One
    pass over the whitened vectors computes E[wi], E[wi·wj] as 44
    shuffle-free partial aggregates; the (i ≤ j) pairs explode out of
    the single agg row. Rounding IS the tolerance: cov to 4 decimals
    (the eps=1e-8 eigenvalue shift perturbs the diagonal by ~4e-7 at
    λ≈0.027 — measured), mean to 6 (float error ~1e-13). The oracle
    is the literal identity frame plus the table's row count."""
    from whiterrabbit_spark.extensions.similarity import whiten_embeddings

    emb = read_parquet_table(spark, sf_dir, "embeddings")
    k = _WHITEN_K
    out = whiten_embeddings(emb, "embedding", k=k)
    w = F.col("embedding")
    proj = out.select(
        *[F.element_at(w, i + 1).alias(f"w{i}") for i in range(k)]
    )
    aggs = [F.count(F.lit(1)).alias("n")]
    aggs += [F.avg(f"w{i}").alias(f"m{i}") for i in range(k)]
    aggs += [
        F.avg(F.col(f"w{i}") * F.col(f"w{j}")).alias(f"p{i}_{j}")
        for i in range(k)
        for j in range(i, k)
    ]
    one = proj.agg(*aggs)
    pairs = F.array(
        *[
            F.struct(
                F.lit(i).alias("dim_i"),
                F.lit(j).alias("dim_j"),
                F.round(
                    F.col(f"p{i}_{j}") - F.col(f"m{i}") * F.col(f"m{j}"), 4
                ).alias("cov"),
                F.round(F.col(f"m{i}"), R).alias("mean_i"),
            )
            for i in range(k)
            for j in range(i, k)
        ]
    )
    return (
        one.select(F.col("n"), F.explode(pairs).alias("s"))
        .select("s.dim_i", "s.dim_j", "s.cov", "s.mean_i", "n")
        .orderBy("dim_i", "dim_j")
    )


_WHITEN_SQL = f"""
WITH dims AS (
  SELECT CAST(unnest(generate_series(0, {_WHITEN_K - 1})) AS BIGINT) AS d
), n AS (
  SELECT CAST(count(*) AS BIGINT) AS n FROM embeddings
)
SELECT a.d AS dim_i, b.d AS dim_j,
       (CASE WHEN a.d = b.d THEN 1.0 ELSE 0.0 END)::DOUBLE AS cov,
       0.0::DOUBLE AS mean_i, n.n
FROM dims a JOIN dims b ON b.d >= a.d, n
ORDER BY dim_i, dim_j"""


def _item_associations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise association rules over (user, event_type) baskets
    (sequences.item_associations): distinct melt → basket self-join →
    broadcast margins."""
    from whiterrabbit_spark.extensions.sequences import item_associations

    ev = read_parquet_table(spark, sf_dir, "events")
    out = item_associations(ev, "user_id", "event_type", min_support=0.01)
    return out.select(
        "item_a", "item_b", "n_baskets",
        F.round("support", R).alias("support"),
        F.round("conf_a_to_b", R).alias("conf_a_to_b"),
        F.round("conf_b_to_a", R).alias("conf_b_to_a"),
        F.round("lift", R).alias("lift"),
    )


_ITEM_ASSOC_SQL = f"""
WITH base AS (
  SELECT DISTINCT user_id AS b, event_type AS i FROM events
  WHERE user_id IS NOT NULL AND event_type IS NOT NULL
), nb AS (
  SELECT count(DISTINCT b) AS n FROM base
), m AS (
  SELECT i, count(*) AS cnt FROM base GROUP BY 1
), p AS (
  SELECT a.i AS item_a, b2.i AS item_b, count(*) AS n_pair
  FROM base a JOIN base b2 ON a.b = b2.b AND a.i < b2.i
  GROUP BY 1, 2
)
SELECT item_a, item_b, CAST(n_pair AS BIGINT) AS n_baskets,
       (round(n_pair * 1.0 / nb.n, {R}) + 0.0) AS support,
       (round(n_pair * 1.0 / ma.cnt, {R}) + 0.0) AS conf_a_to_b,
       (round(n_pair * 1.0 / mb.cnt, {R}) + 0.0) AS conf_b_to_a,
       (round(n_pair * 1.0 * nb.n / (ma.cnt * mb.cnt), {R}) + 0.0) AS lift
FROM p
CROSS JOIN nb
JOIN m ma ON item_a = ma.i
JOIN m mb ON item_b = mb.i
WHERE n_pair * 1.0 / nb.n >= 0.01"""


def _boilerplate_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document repeated-line report (dedup.boilerplate_lines).
    The driver's documents are single-line word streams, so the
    registered row uses the word delimiter (repeated-token report —
    identical plan); true multi-line semantics are pinned by unit
    tests."""
    from whiterrabbit_spark.extensions import dedup as dd

    docs = read_parquet_table(spark, sf_dir, "documents")
    out = dd.boilerplate_lines(docs, "text", "doc_id", delimiter=" ",
                               min_chars=1, min_docs=2, top_k=50)
    return out.select(
        "line", "n_occurrences", "n_docs",
        F.round("avg_repeats_per_doc", R).alias("avg_repeats_per_doc"),
    )


_BOILERPLATE_SQL = f"""
WITH l AS (
  SELECT doc_id, trim(u.w) AS line
  FROM documents, unnest(string_split(text, ' ')) AS u(w)
  WHERE length(trim(u.w)) >= 1
)
SELECT line, CAST(count(*) AS BIGINT) AS n_occurrences,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
       (round(count(*) * 1.0 / count(DISTINCT doc_id), {R}) + 0.0)
         AS avg_repeats_per_doc
FROM l GROUP BY line HAVING count(DISTINCT doc_id) >= 2
ORDER BY n_occurrences DESC, line LIMIT 50"""


def _cross_source_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-pair near-duplication matrix
    (dedup.cross_source_dup_matrix): the banded Jaccard pair pass
    rolled up to who-copies-from-whom counts."""
    from whiterrabbit_spark.extensions import dedup as dd

    docs = read_parquet_table(spark, sf_dir, "documents")
    out = dd.cross_source_dup_matrix(docs, "text", "doc_id", "source",
                                     k=3, threshold=0.5)
    return out.select(
        "src_a", "src_b", "n_pairs",
        F.round("avg_jaccard", R).alias("avg_jaccard"),
    )


_CROSS_SOURCE_SQL = f"""
WITH toks AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS w
  FROM documents
), sh AS (
  SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS shingle
  FROM toks, unnest(generate_series(1, greatest(len(w)-2, 1))) AS t(i)
), sizes AS (
  SELECT doc_id, count(*) AS n FROM sh GROUP BY 1
), rare AS (
  SELECT shingle FROM sh GROUP BY 1 HAVING count(*) <= 100
), cands AS (
  SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
  FROM sh a
  JOIN rare r ON a.shingle = r.shingle
  JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
), pairs AS (
  SELECT c.id1, c.id2, count(*) AS inter
  FROM cands c
  JOIN sh a ON a.doc_id = c.id1
  JOIN sh b ON b.doc_id = c.id2 AND b.shingle = a.shingle
  GROUP BY 1, 2
), scored AS (
  SELECT id1, id2, inter * 1.0 / (s1.n + s2.n - inter) AS jaccard
  FROM pairs
  JOIN sizes s1 ON id1 = s1.doc_id
  JOIN sizes s2 ON id2 = s2.doc_id
  WHERE inter * 1.0 / (s1.n + s2.n - inter) >= 0.5
), tagged AS (
  SELECT least(d1.source, d2.source) AS src_a,
         greatest(d1.source, d2.source) AS src_b,
         jaccard
  FROM scored
  JOIN documents d1 ON id1 = d1.doc_id
  JOIN documents d2 ON id2 = d2.doc_id
)
SELECT src_a, src_b, CAST(count(*) AS BIGINT) AS n_pairs,
       (round(avg(jaccard), {R}) + 0.0) AS avg_jaccard
FROM tagged GROUP BY 1, 2"""


def _grouped_trimmed_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-returnflag 10-90% trimmed mean of extendedprice
    (profile.grouped_trimmed_mean): grouped type-7 bounds broadcast
    back, one conditional aggregate. Means rounded to 4 decimals —
    a 200k-element double sum only guarantees ~1e-6 absolute
    agreement across engines at sf0.1."""
    from whiterrabbit_spark.profile import grouped_trimmed_mean

    li = read_parquet_table(spark, sf_dir, "lineitem")
    out = grouped_trimmed_mean(li, "l_returnflag", "l_extendedprice",
                               lo=0.1, hi=0.9)
    return out.select(
        "group_key", "n_rows", "n_used",
        F.round("mean_raw", 4).alias("mean_raw"),
        F.round("mean_trimmed", 4).alias("mean_trimmed"),
    )


_TRIMMED_MEAN_SQL = """
WITH b AS (
  SELECT l_returnflag AS group_key,
         quantile_cont(l_extendedprice, 0.1) AS qlo,
         quantile_cont(l_extendedprice, 0.9) AS qhi
  FROM lineitem WHERE l_extendedprice IS NOT NULL GROUP BY 1
), t AS (
  SELECT l_returnflag AS group_key, l_extendedprice::DOUBLE AS v
  FROM lineitem WHERE l_extendedprice IS NOT NULL
)
SELECT group_key, CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(*) FILTER (v BETWEEN qlo AND qhi) AS BIGINT) AS n_used,
       (round(avg(v), 4) + 0.0) AS mean_raw,
       (round(avg(v) FILTER (v BETWEEN qlo AND qhi), 4) + 0.0) AS mean_trimmed
FROM t JOIN b USING (group_key)
GROUP BY group_key"""


def _session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top within-session event-type journeys (sequences.session_paths):
    one session_window groupBy + one |paths| rollup + top-k. Oracle
    rebuilds sessions with the independent lag+cumsum construction."""
    from whiterrabbit_spark.extensions.sequences import session_paths

    ev = read_parquet_table(spark, sf_dir, "events")
    out = session_paths(ev, gap=f"{SESSION_GAP_S} seconds",
                        max_len=10, top_k=20)
    return out.select(
        "path", "n_sessions",
        F.round("avg_session_len", R).alias("avg_session_len"),
    )


_SESSION_PATHS_SQL = f"""
WITH o AS (
  SELECT user_id, ts, event_id, event_type,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch(ts) - lag(epoch(ts)) OVER w > {SESSION_GAP_S}
              THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), s AS (
  SELECT user_id, ts, event_id, event_type,
         sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS UNBOUNDED PRECEDING) AS sid
  FROM o
), r AS (
  SELECT user_id, sid, event_type, ts, event_id,
         row_number() OVER (PARTITION BY user_id, sid
                            ORDER BY ts, event_id) AS rn,
         count(*) OVER (PARTITION BY user_id, sid) AS slen
  FROM s
), p AS (
  SELECT user_id, sid, any_value(slen) AS slen,
         string_agg(event_type, '>' ORDER BY rn) AS path
  FROM r WHERE rn <= 10 GROUP BY 1, 2
)
SELECT path, CAST(count(*) AS BIGINT) AS n_sessions,
       (round(avg(slen), {R}) + 0.0) AS avg_session_len
FROM p GROUP BY path
ORDER BY n_sessions DESC, path
LIMIT 20"""


def _cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily CUSUM level-shift localization on events.value
    (profile.cusum_changepoint): rows collapse to the |days| series,
    everything after is series-sized."""
    from whiterrabbit_spark.profile import cusum_changepoint

    ev = read_parquet_table(spark, sf_dir, "events")
    out = cusum_changepoint(ev, "ts", "value", bucket="day")
    return out.select(
        F.date_format("bucket_ts", "yyyy-MM-dd").alias("bucket_day"),
        "n_rows",
        F.round("mean_value", R).alias("mean_value"),
        F.round("cusum", R).alias("cusum"),
        "is_changepoint",
    )


_CUSUM_SQL = f"""
WITH series AS (
  SELECT date_trunc('day', ts) AS bucket_ts, count(*) AS n_rows,
         avg(value) AS mean_value
  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
  GROUP BY 1
), g AS (
  SELECT avg(mean_value) AS gm FROM series
), c AS (
  SELECT bucket_ts, n_rows, mean_value,
         sum(mean_value - gm) OVER (ORDER BY bucket_ts
                                    ROWS UNBOUNDED PRECEDING) AS cusum
  FROM series, g
)
SELECT strftime(bucket_ts, '%Y-%m-%d') AS bucket_day,
       CAST(n_rows AS BIGINT) AS n_rows,
       (round(mean_value, {R}) + 0.0) AS mean_value,
       (round(cusum, {R}) + 0.0) AS cusum,
       row_number() OVER (ORDER BY abs(cusum) DESC, bucket_ts) = 1
         AS is_changepoint
FROM c"""


def _binned_mi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width-binned MI between quantity and extendedprice
    (profile.binned_mutual_information): bounds broadcast lazily, MI
    over ≤ bins² observed cells."""
    from whiterrabbit_spark.profile import binned_mutual_information

    li = read_parquet_table(spark, sf_dir, "lineitem")
    out = binned_mutual_information(li, "l_quantity", "l_extendedprice",
                                    bins=20)
    return out.select(
        "col_a", "col_b", "n_rows", "bins",
        F.round("mi", R).alias("mi"),
        F.round("mi_norm", R).alias("mi_norm"),
    )


_BINNED_MI_SQL = f"""
WITH base AS (
  SELECT l_quantity::DOUBLE AS x, l_extendedprice::DOUBLE AS y
  FROM lineitem WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
), b AS (
  SELECT min(x) AS xlo, max(x) AS xhi, min(y) AS ylo, max(y) AS yhi
  FROM base
), binned AS (
  SELECT CASE WHEN xhi > xlo
              THEN least(floor((x - xlo) / ((xhi - xlo) / 20.0)), 19)
              ELSE 0 END AS a,
         CASE WHEN yhi > ylo
              THEN least(floor((y - ylo) / ((yhi - ylo) / 20.0)), 19)
              ELSE 0 END AS b
  FROM base, b
), cells AS (
  SELECT a, b, count(*)::DOUBLE AS n FROM binned GROUP BY 1, 2
), m AS (
  SELECT n,
         sum(n) OVER () AS nt,
         sum(n) OVER (PARTITION BY a) AS na,
         sum(n) OVER (PARTITION BY b) AS nb,
         count(*) OVER (PARTITION BY a) AS ca,
         count(*) OVER (PARTITION BY b) AS cb
  FROM cells
), s AS (
  SELECT sum((n/nt) * ln((n/nt) / ((na/nt)*(nb/nt)))) AS mi,
         sum(-((na/nt) * ln(na/nt)) / ca) AS ha,
         sum(-((nb/nt) * ln(nb/nt)) / cb) AS hb,
         sum(n)::BIGINT AS n_rows
  FROM m
)
SELECT 'l_quantity' AS col_a, 'l_extendedprice' AS col_b, n_rows,
       CAST(20 AS BIGINT) AS bins,
       (round(greatest(mi, 0.0), {R}) + 0.0) AS mi,
       (round(CASE WHEN least(ha, hb) > 0
                  THEN greatest(mi, 0.0) / least(ha, hb) END, {R}) + 0.0) AS mi_norm
FROM s"""


_DISC_COLS_A = ["c_custkey", "c_nationkey", "c_mktsegment", "c_name"]
_DISC_COLS_B = ["o_orderkey", "o_custkey", "o_orderstatus",
                "o_orderpriority", "o_orderdate"]


def _join_discovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-table join-column discovery (discovery.join_candidates):
    one melt→distinct per table + one value equi-join scores every
    column pair at once. Double columns excluded so the string-cast
    comparison is render-stable across engines."""
    from whiterrabbit_spark.extensions.discovery import join_candidates

    cust = read_parquet_table(spark, sf_dir, "customer")
    orders = read_parquet_table(spark, sf_dir, "orders")
    out = join_candidates(
        cust, orders, _DISC_COLS_A, _DISC_COLS_B, min_containment=0.5
    )
    return out.select(
        "col_a", "col_b", "n_a", "n_b", "n_common",
        F.round("jaccard", R).alias("jaccard"),
        F.round("containment_a", R).alias("containment_a"),
        F.round("containment_b", R).alias("containment_b"),
    )


def _join_discovery_sql() -> str:
    ma = " UNION ALL ".join(
        f"SELECT DISTINCT '{c}' AS col_a, CAST({c} AS VARCHAR) AS value "
        f"FROM customer WHERE {c} IS NOT NULL"
        for c in _DISC_COLS_A
    )
    mb = " UNION ALL ".join(
        f"SELECT DISTINCT '{c}' AS col_b, CAST({c} AS VARCHAR) AS value "
        f"FROM orders WHERE {c} IS NOT NULL"
        for c in _DISC_COLS_B
    )
    return f"""
WITH ma AS ({ma}), mb AS ({mb}),
sa AS (SELECT col_a, count(*) AS n_a FROM ma GROUP BY 1),
sb AS (SELECT col_b, count(*) AS n_b FROM mb GROUP BY 1),
inter AS (
  SELECT col_a, col_b, count(*) AS n_common
  FROM ma JOIN mb USING (value) GROUP BY 1, 2
)
SELECT col_a, col_b, CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
       CAST(n_common AS BIGINT) AS n_common,
       (round(n_common::DOUBLE / (n_a + n_b - n_common), {R}) + 0.0) AS jaccard,
       (round(n_common::DOUBLE / n_a, {R}) + 0.0) AS containment_a,
       (round(n_common::DOUBLE / n_b, {R}) + 0.0) AS containment_b
FROM inter JOIN sa USING (col_a) JOIN sb USING (col_b)
WHERE n_common::DOUBLE / n_a >= 0.5 OR n_common::DOUBLE / n_b >= 0.5"""


def _k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over (c_nationkey, c_mktsegment)
    (discovery.k_anonymity): one QI groupBy + one single-row rollup."""
    from whiterrabbit_spark.extensions.discovery import k_anonymity

    cust = read_parquet_table(spark, sf_dir, "customer")
    out = k_anonymity(cust, ["c_nationkey", "c_mktsegment"], k=5)
    return out.select(
        "n_rows", "n_classes", "min_class_size", "n_rows_below_k",
        F.round("pct_rows_below_k", R).alias("pct_rows_below_k"), "k",
    )


_K_ANON_SQL = f"""
WITH classes AS (
  SELECT c_nationkey, c_mktsegment, count(*) AS n
  FROM customer GROUP BY 1, 2
)
SELECT CAST(sum(n) AS BIGINT) AS n_rows,
       CAST(count(*) AS BIGINT) AS n_classes,
       CAST(min(n) AS BIGINT) AS min_class_size,
       CAST(coalesce(sum(n) FILTER (n < 5), 0) AS BIGINT) AS n_rows_below_k,
       (round(coalesce(sum(n) FILTER (n < 5), 0) * 100.0 / sum(n), {R}) + 0.0)
         AS pct_rows_below_k,
       CAST(5 AS BIGINT) AS k
FROM classes"""


def _extremes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top/bottom-3 values with multiplicities per numeric lineitem
    column — the extension of the reference's bare min/max (N1,
    whiteRRabbit.R:377-388): extremes WITH counts expose sentinel
    spikes (a million -1s) that a min alone hides. One melt + one
    groupBy(col, value) + per-column rank windows over the distinct
    values; the windows never see raw rows."""
    li = read_parquet_table(spark, sf_dir, "lineitem")
    cols = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    pairs = []
    for c in cols:
        pairs += [F.lit(c), F.col(c).cast("double")]
    melted = li.select(
        F.stack(F.lit(len(cols)), *pairs).alias("column_name", "value")
    ).where(F.col("value").isNotNull())
    counts = melted.groupBy("column_name", "value").agg(
        F.count(F.lit(1)).alias("n")
    )
    asc = Window.partitionBy("column_name").orderBy(F.col("value").asc())
    desc = Window.partitionBy("column_name").orderBy(F.col("value").desc())
    ranked = counts.select(
        "column_name", "value", "n",
        F.row_number().over(asc).alias("r_lo"),
        F.row_number().over(desc).alias("r_hi"),
    )
    return (
        ranked.where((F.col("r_lo") <= 3) | (F.col("r_hi") <= 3))
        .select(
            "column_name",
            F.when(F.col("r_lo") <= 3, F.lit("bottom"))
            .otherwise(F.lit("top")).alias("side"),
            F.when(F.col("r_lo") <= 3, F.col("r_lo"))
            .otherwise(F.col("r_hi")).cast("long").alias("rank"),
            "value",
            "n",
        )
        .orderBy("column_name", "side", "rank")
    )


_EXTREMES_SQL = """
WITH melted AS (
  SELECT 'l_quantity' AS column_name, CAST(l_quantity AS DOUBLE) AS value
  FROM lineitem WHERE l_quantity IS NOT NULL
  UNION ALL
  SELECT 'l_extendedprice', CAST(l_extendedprice AS DOUBLE)
  FROM lineitem WHERE l_extendedprice IS NOT NULL
  UNION ALL
  SELECT 'l_discount', CAST(l_discount AS DOUBLE)
  FROM lineitem WHERE l_discount IS NOT NULL
  UNION ALL
  SELECT 'l_tax', CAST(l_tax AS DOUBLE)
  FROM lineitem WHERE l_tax IS NOT NULL
),
counts AS (
  SELECT column_name, value, count(*) AS n
  FROM melted GROUP BY 1, 2
),
ranked AS (
  SELECT column_name, value, n,
         row_number() OVER (PARTITION BY column_name
                            ORDER BY value ASC) AS r_lo,
         row_number() OVER (PARTITION BY column_name
                            ORDER BY value DESC) AS r_hi
  FROM counts
)
SELECT column_name,
       CASE WHEN r_lo <= 3 THEN 'bottom' ELSE 'top' END AS side,
       CAST(CASE WHEN r_lo <= 3 THEN r_lo ELSE r_hi END AS BIGINT)
         AS rank,
       value,
       CAST(n AS BIGINT) AS n
FROM ranked
WHERE r_lo <= 3 OR r_hi <= 3
ORDER BY column_name, side, rank"""


def _row_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-row duplicate audit: how many orders rows are byte-for-byte
    repeats of another — the load-went-twice detector run before any
    aggregate is trusted. One groupBy over ALL columns (count>1 rows
    are the dups), one single-row rollup; partial-aggregable at any
    width because the grouping key is the row itself."""
    orders = read_parquet_table(spark, sf_dir, "orders")
    groups = orders.groupBy(*orders.columns).agg(
        F.count(F.lit(1)).alias("n")
    )
    return groups.agg(
        F.sum("n").alias("n_rows"),
        F.count(F.lit(1)).alias("n_distinct_rows"),
        F.coalesce(
            F.sum(F.when(F.col("n") > 1, F.col("n") - 1)), F.lit(0)
        ).alias("n_redundant_rows"),
        F.sum((F.col("n") > 1).cast("long")).alias("n_dup_groups"),
        F.max("n").alias("max_multiplicity"),
    )


_ROW_DUPS_SQL = """
WITH g AS (
  SELECT count(*) AS n
  FROM orders
  GROUP BY o_orderkey, o_custkey, o_orderstatus, o_totalprice,
           o_orderdate, o_orderpriority
)
SELECT CAST(sum(n) AS BIGINT) AS n_rows,
       CAST(count(*) AS BIGINT) AS n_distinct_rows,
       CAST(coalesce(sum(CASE WHEN n > 1 THEN n - 1 END), 0) AS BIGINT)
         AS n_redundant_rows,
       CAST(sum(CASE WHEN n > 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dup_groups,
       CAST(max(n) AS BIGINT) AS max_multiplicity
FROM g"""


def _resample_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear-interpolated resample (sequences.resample_interpolate):
    interior grid gaps blend the surrounding observations by time;
    edges carry the nearest. Same grid plan as resample_fill."""
    from whiterrabbit_spark.extensions.sequences import (
        resample_interpolate,
    )

    events = read_parquet_table(spark, sf_dir, "events")
    out = resample_interpolate(events, "ts", "event_type", "value")
    return out.select(
        "group_key", "bucket_ts", "n_events",
        F.round("v_sum", R).alias("v_sum"),
        F.round("v_interp", R).alias("v_interp"),
    )


_RESAMPLE_INTERP_SQL = """
WITH agg AS (
  SELECT event_type AS group_key, date_trunc('hour', ts) AS bucket_ts,
         count(*) AS n_events, sum(value) AS v_sum
  FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL
  GROUP BY 1, 2
), bounds AS (
  SELECT group_key, min(bucket_ts) AS lo, max(bucket_ts) AS hi
  FROM agg GROUP BY 1
), grid AS (
  SELECT group_key,
         unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS bucket_ts
  FROM bounds
), joined AS (
  SELECT g.group_key, g.bucket_ts,
         coalesce(a.n_events, 0) AS n_events, a.v_sum,
         epoch(g.bucket_ts) AS t
  FROM grid g LEFT JOIN agg a USING (group_key, bucket_ts)
), x AS (
  SELECT group_key, bucket_ts, n_events, v_sum, t,
         last_value(v_sum IGNORE NULLS) OVER wb AS prev_v,
         first_value(v_sum IGNORE NULLS) OVER wa AS next_v,
         last_value(CASE WHEN v_sum IS NOT NULL THEN t END IGNORE NULLS)
           OVER wb AS prev_t,
         first_value(CASE WHEN v_sum IS NOT NULL THEN t END IGNORE NULLS)
           OVER wa AS next_t
  FROM joined
  WINDOW wb AS (PARTITION BY group_key ORDER BY bucket_ts
                ROWS UNBOUNDED PRECEDING),
         wa AS (PARTITION BY group_key ORDER BY bucket_ts
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
)
SELECT group_key, bucket_ts, CAST(n_events AS BIGINT) AS n_events,
       (round(v_sum, 6) + 0.0) AS v_sum,
       (round(CASE
         WHEN prev_v IS NOT NULL AND next_v IS NOT NULL THEN
           prev_v + (next_v - prev_v) *
             (CASE WHEN next_t > prev_t
                   THEN (t - prev_t) / (next_t - prev_t) ELSE 0.0 END)
         ELSE coalesce(prev_v, next_v) END, 6) + 0.0) AS v_interp
FROM x"""


def _var_es(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-at-Risk + Expected Shortfall per order priority: the exact
    type-7 P95 of the spend distribution and the mean of the tail at or
    beyond it — the pair risk desks quote, and for a data platform the
    canonical 'how heavy is the tail really' rollup (ES is coherent
    where VaR alone is not). Exact percentile per group over the
    bounded priority partitions, then one conditional tail average —
    two bounded aggs, no window over raw rows."""
    orders = read_parquet_table(spark, sf_dir, "orders")
    q = (
        orders.where(F.col("o_totalprice").isNotNull())
        .groupBy("o_orderpriority")
        .agg(F.percentile("o_totalprice", F.lit(0.95)).alias("var95"))
    )
    joined = orders.join(F.broadcast(q), "o_orderpriority")
    return (
        joined.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.max("var95"), 6).alias("var_95"),
            F.round(
                F.avg(
                    F.when(
                        F.col("o_totalprice") >= F.col("var95"),
                        F.col("o_totalprice"),
                    )
                ),
                6,
            ).alias("es_95"),
            F.sum(
                (F.col("o_totalprice") >= F.col("var95")).cast("long")
            ).alias("n_tail"),
        )
        .orderBy("o_orderpriority")
    )


_VAR_ES_SQL = """
WITH q AS (
  SELECT o_orderpriority,
         quantile_cont(o_totalprice, 0.95) AS var95
  FROM orders WHERE o_totalprice IS NOT NULL
  GROUP BY 1
)
SELECT o.o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_orders,
       (round(max(q.var95), 6) + 0.0) AS var_95,
       (round(avg(CASE WHEN o.o_totalprice >= q.var95
                      THEN o.o_totalprice END), 6) + 0.0) AS es_95,
       CAST(sum(CASE WHEN o.o_totalprice >= q.var95 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_tail
FROM orders o JOIN q USING (o_orderpriority)
GROUP BY o.o_orderpriority
ORDER BY o.o_orderpriority"""


def _rolling_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """24-hour rolling Pearson correlation between two event types'
    hourly arrival series — the co-movement monitor that flags when
    two signals decouple. Raw events collapse to the bounded (hour,
    type) count grid in one groupBy; the full-outer hour alignment
    and the rolling-moment windows all run on the series frame.
    Pearson from rolling sums (Σx, Σy, Σxy, Σx², Σy²) — one window
    pass, exact integer sums, identical arithmetic in the oracle."""
    events = read_parquet_table(spark, sf_dir, "events")
    top2 = ["click", "view"]
    grid = (
        events.where(F.col("event_type").isin(top2))
        .groupBy(
            F.date_trunc("hour", F.col("ts")).alias("h"),
            "event_type",
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .groupBy("h")
        .pivot("event_type", top2)
        .agg(F.first("n"))
        .select(
            "h",
            F.coalesce(F.col(top2[0]), F.lit(0)).cast("double").alias("x"),
            F.coalesce(F.col(top2[1]), F.lit(0)).cast("double").alias("y"),
        )
    )
    w = Window.orderBy("h").rowsBetween(-23, 0)
    k = F.count(F.lit(1)).over(w)
    sx = F.sum("x").over(w)
    sy = F.sum("y").over(w)
    sxy = F.sum(F.col("x") * F.col("y")).over(w)
    sxx = F.sum(F.col("x") * F.col("x")).over(w)
    syy = F.sum(F.col("y") * F.col("y")).over(w)
    cov = k * sxy - sx * sy
    den = F.sqrt(k * sxx - sx * sx) * F.sqrt(k * syy - sy * sy)
    out = grid.select(
        F.date_format("h", "yyyy-MM-dd HH:mm:ss").alias("hour"),
        k.alias("window_n"),
        F.round(
            F.when(den > 0, cov / den).otherwise(F.lit(0.0)), 6
        ).alias("rolling_corr"),
    )
    return out.where(F.col("window_n") == 24).orderBy("hour")


_ROLLING_CORR_SQL = """
WITH grid AS (
  SELECT h,
         CAST(coalesce(max(CASE WHEN event_type = 'click' THEN n END), 0)
              AS DOUBLE) AS x,
         CAST(coalesce(max(CASE WHEN event_type = 'view' THEN n END), 0)
              AS DOUBLE) AS y
  FROM (
    SELECT date_trunc('hour', ts) AS h, event_type, count(*) AS n
    FROM events WHERE event_type IN ('click', 'view')
    GROUP BY 1, 2
  )
  GROUP BY h
),
r AS (
  SELECT h,
         count(*) OVER w AS k,
         sum(x) OVER w AS sx, sum(y) OVER w AS sy,
         sum(x * y) OVER w AS sxy,
         sum(x * x) OVER w AS sxx, sum(y * y) OVER w AS syy
  FROM grid
  WINDOW w AS (ORDER BY h ROWS BETWEEN 23 PRECEDING AND CURRENT ROW)
)
SELECT strftime(h, '%Y-%m-%d %H:%M:%S') AS hour,
       CAST(k AS BIGINT) AS window_n,
       (round(CASE WHEN sqrt(k * sxx - sx * sx) * sqrt(k * syy - sy * sy) > 0
                  THEN (k * sxy - sx * sy)
                       / (sqrt(k * sxx - sx * sx) * sqrt(k * syy - sy * sy))
                  ELSE 0.0 END, 6) + 0.0) AS rolling_corr
FROM r
WHERE k = 24
ORDER BY hour"""


def _code_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Code-vs-prose routing report (textstats.code_detect): per lang
    the code-like share and mean structural-line fraction — pure JVM
    split + higher-order filter + RE2 counts, SQL-identical."""
    from whiterrabbit_spark.extensions.textstats import code_detect

    docs = read_parquet_table(spark, sf_dir, "documents")
    scored = code_detect(docs, "text", "doc_id").join(
        docs.select("doc_id", "lang"), "doc_id"
    )
    return (
        scored.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("is_code").alias("n_code"),
            F.round(F.avg("structural_frac"), 6).alias(
                "avg_structural_frac"
            ),
            F.round(F.avg("kw_hits"), 6).alias("avg_kw_hits"),
        )
        .orderBy("lang")
    )


_CODE_DETECT_SQL = r"""
WITH s AS (
  SELECT lang,
         greatest(len(string_split(text, chr(10))), 1) AS n_lines,
         len(list_filter(string_split(text, chr(10)),
             x -> regexp_matches(x, '[;{}]\s*$'))) AS symbol_lines,
         len(list_filter(string_split(text, chr(10)),
             x -> regexp_matches(x, '^(    |\t)'))) AS indent_lines,
         len(regexp_extract_all(text,
             '\b(def|return|import|void|class|function|const)\b'))
           AS kw_hits,
         len(regexp_extract_all(text, '=')) AS assign_hits
  FROM documents
),
d AS (
  SELECT lang, kw_hits,
         (symbol_lines + indent_lines) * 1.0 / n_lines AS frac,
         CASE WHEN (symbol_lines + indent_lines) * 1.0 / n_lines > 0.15
                   OR (kw_hits >= 3 AND assign_hits >= 3)
              THEN 1 ELSE 0 END AS is_code
  FROM s
)
SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(is_code) AS BIGINT) AS n_code,
       (round(avg(round(frac, 6)), 6) + 0.0) AS avg_structural_frac,
       (round(avg(kw_hits), 6) + 0.0) AS avg_kw_hits
FROM d
GROUP BY lang
ORDER BY lang"""


def _twap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily time-weighted average of the event value signal: each
    observation holds until the next one THAT DAY (lead window per
    day; the day's last observation carries to midnight), so sparse
    bursts don't bias the mean the way a plain avg does — the TWAP
    fairness metric, and the right daily rollup for any
    sampled-when-it-changes signal. One window over (day, ts) + one
    groupBy; the window partitions by day so state is a day's events."""
    events = read_parquet_table(spark, sf_dir, "events")
    e = events.where(
        F.col("value").isNotNull() & F.col("ts").isNotNull()
    ).select(
        F.to_date("ts").alias("day"),
        F.col("ts").cast("timestamp").cast("double").alias("t"),
        F.col("event_id"),
        "value",
    )
    w = Window.partitionBy("day").orderBy("t", "event_id")
    e = e.withColumn(
        "t_next",
        F.coalesce(
            F.lead("t").over(w),
            # end of day: midnight after the day's start
            (F.unix_timestamp(F.col("day").cast("timestamp"))
             + F.lit(86400)).cast("double"),
        ),
    ).withColumn("dt", F.col("t_next") - F.col("t"))
    return (
        e.groupBy("day")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(
                F.sum(F.col("value") * F.col("dt")) / F.sum("dt"), 6
            ).alias("twap"),
            F.round(F.avg("value"), 6).alias("plain_avg"),
        )
        .orderBy("day")
    )


_TWAP_SQL = """
WITH e AS (
  SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
         epoch(ts) AS t, event_id, value
  FROM events WHERE value IS NOT NULL AND ts IS NOT NULL
),
x AS (
  SELECT day, value,
         coalesce(
           lead(t) OVER (PARTITION BY day ORDER BY t, event_id),
           epoch(CAST(day AS TIMESTAMP)) + 86400
         ) - t AS dt
  FROM e
)
SELECT day, CAST(count(*) AS BIGINT) AS n_events,
       (round(sum(value * dt) / sum(dt), 6) + 0.0) AS twap,
       (round(avg(value), 6) + 0.0) AS plain_avg
FROM x
GROUP BY day
ORDER BY day"""


def _dup_weighted_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplication-aware effective dataset size per source: exact-dup
    clusters down-weight to 1/dup_count per copy, so Σ weight = number
    of UNIQUE texts — the "how much signal am I actually training on"
    report (the count a naive per-source row count overstates). One
    digest groupBy + one source rollup; the cross-source case (one
    text in several sources) splits its unit weight across copies,
    which is exactly the training-time effect of global dedup."""
    docs = read_parquet_table(spark, sf_dir, "documents")
    counts = docs.groupBy(F.md5("text").alias("h")).agg(
        F.count(F.lit(1)).alias("dup_count")
    )
    # counts is one row per DISTINCT text — never broadcast it; the
    # equi-join on the digest shuffles both sides on h and AQE may
    # still elect broadcast at small scale on its own
    weighted = docs.select("source", F.md5("text").alias("h")).join(
        counts, "h"
    )
    return (
        weighted.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(
                F.sum(F.lit(1.0) / F.col("dup_count")), 6
            ).alias("effective_size"),
            F.round(
                F.lit(1.0)
                - F.sum(F.lit(1.0) / F.col("dup_count"))
                / F.count(F.lit(1)),
                6,
            ).alias("redundancy_frac"),
        )
        .orderBy("source")
    )


_DUP_WEIGHTED_SQL = """
WITH c AS (
  SELECT md5(text) AS h, count(*) AS dup_count
  FROM documents GROUP BY 1
),
w AS (
  SELECT d.source, 1.0 / c.dup_count AS wgt
  FROM documents d JOIN c ON md5(d.text) = c.h
)
SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       (round(sum(wgt), 6) + 0.0) AS effective_size,
       (round(1.0 - sum(wgt) / count(*), 6) + 0.0) AS redundancy_frac
FROM w
GROUP BY source
ORDER BY source"""


def _skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto frontier per return flag (profile.skyline_2d): cheapest
    price for at least each quantity level — per-(group, price)
    collapse then one running-max window; no O(n²) dominance join."""
    from whiterrabbit_spark.profile import skyline_2d

    li = read_parquet_table(spark, sf_dir, "lineitem")
    return skyline_2d(li, "l_returnflag", "l_extendedprice", "l_quantity")


_SKYLINE_SQL = """
WITH collapsed AS (
  SELECT l_returnflag, l_extendedprice AS x, max(l_quantity) AS y
  FROM lineitem
  WHERE l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL
  GROUP BY 1, 2
),
s AS (
  SELECT l_returnflag, x, y,
         max(y) OVER (PARTITION BY l_returnflag ORDER BY x
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS prev_best
  FROM collapsed
)
SELECT l_returnflag, x AS l_extendedprice, y AS l_quantity
FROM s
WHERE prev_best IS NULL OR y > prev_best
ORDER BY l_returnflag, l_extendedprice"""


def _generalization_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity generalization ladder (discovery.generalization_
    advisor): every acctbal-bucket grain's equivalence-class histogram
    from ONE GROUPING SETS Expand — |levels|+1 audits for one scan."""
    from whiterrabbit_spark.extensions.discovery import (
        generalization_advisor,
    )

    cust = read_parquet_table(spark, sf_dir, "customer")
    return generalization_advisor(
        cust, "c_nationkey", "c_acctbal", (1, 10, 100, 1000), k=5
    )


_GENERALIZATION_SQL = """
WITH base AS (
  SELECT c_nationkey AS id,
         floor(c_acctbal / 1) * 1 AS g0,
         floor(c_acctbal / 10) * 10 AS g1,
         floor(c_acctbal / 100) * 100 AS g2,
         floor(c_acctbal / 1000) * 1000 AS g3
  FROM customer
),
cls AS (
  SELECT id, g0, g1, g2, g3, count(*) AS n,
         grouping(g0) AS f0, grouping(g1) AS f1,
         grouping(g2) AS f2, grouping(g3) AS f3
  FROM base
  GROUP BY GROUPING SETS ((id, g0), (id, g1), (id, g2), (id, g3), (id))
),
lv AS (
  SELECT CASE WHEN f0 = 0 THEN 0 WHEN f1 = 0 THEN 1 WHEN f2 = 0 THEN 2
              WHEN f3 = 0 THEN 3 ELSE 4 END AS level, n
  FROM cls
),
agg AS (
  SELECT level, count(*) AS n_classes, min(n) AS mn,
         coalesce(sum(CASE WHEN n < 5 THEN n END), 0) AS below,
         sum(n) AS nr
  FROM lv GROUP BY 1
)
SELECT CAST(level AS BIGINT) AS level,
       CAST(CASE level WHEN 0 THEN 1 WHEN 1 THEN 10 WHEN 2 THEN 100
                       WHEN 3 THEN 1000 ELSE -1 END AS BIGINT) AS width,
       CAST(n_classes AS BIGINT) AS n_classes,
       CAST(mn AS BIGINT) AS min_class_size,
       CAST(below AS BIGINT) AS n_rows_below_k,
       (round(below * 100.0 / nr, 6) + 0.0) AS pct_rows_below_k,
       CAST((mn >= 5) AS BIGINT) AS meets_k
FROM agg
ORDER BY level"""


def _centroid_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-confusability matrix (similarity.centroid_similarity_
    matrix): cosine between label centroids — one posexplode pass over
    the vector volume, all pairwise arithmetic on the |labels|·d
    frame."""
    from whiterrabbit_spark.extensions.similarity import (
        centroid_similarity_matrix,
    )

    emb = read_parquet_table(spark, sf_dir, "embeddings")
    return centroid_similarity_matrix(emb, "embedding", "label")


_CENTROID_MATRIX_SQL = """
WITH ex AS (
  SELECT label AS lbl, i AS dim, embedding[i + 1] AS v
  FROM embeddings, unnest(generate_series(0, len(embedding) - 1)) AS t(i)
  WHERE embedding IS NOT NULL AND label IS NOT NULL
),
cent AS (SELECT lbl, dim, avg(v) AS c FROM ex GROUP BY 1, 2),
norms AS (SELECT lbl, sqrt(sum(c * c)) AS nrm FROM cent GROUP BY 1),
sizes AS (
  SELECT label AS lbl, count(*) AS n FROM embeddings
  WHERE embedding IS NOT NULL AND label IS NOT NULL GROUP BY 1
),
dots AS (
  SELECT a.lbl AS label_a, b.lbl AS label_b, sum(a.c * b.c) AS dot
  FROM cent a JOIN cent b ON a.dim = b.dim AND a.lbl < b.lbl
  GROUP BY 1, 2
)
SELECT CAST(label_a AS BIGINT) AS label_a,
       CAST(label_b AS BIGINT) AS label_b,
       CAST(sa.n AS BIGINT) AS n_a, CAST(sb.n AS BIGINT) AS n_b,
       (round(dot / (na.nrm * nb.nrm), 6) + 0.0) AS centroid_cosine
FROM dots
JOIN norms na ON na.lbl = label_a
JOIN norms nb ON nb.lbl = label_b
JOIN sizes sa ON sa.lbl = label_a
JOIN sizes sb ON sb.lbl = label_b
ORDER BY label_a, label_b"""


def _peak_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Traffic-spike report (profile.peak_detection): strict local
    maxima of the hourly series with a trailing-mean lift gate —
    exact, parameter-light, every post-scan stage O(series)."""
    from whiterrabbit_spark.profile import peak_detection

    events = read_parquet_table(spark, sf_dir, "events")
    out = peak_detection(events, "ts", "hour", baseline_window=12,
                         lift=1.2)
    return out.withColumn(
        "bucket_ts", F.date_format("bucket_ts", "yyyy-MM-dd HH:mm:ss")
    )


_PEAK_DETECTION_SQL = """
WITH series AS (
  SELECT date_trunc('hour', ts) AS bucket_ts, count(*) AS n_events
  FROM events GROUP BY 1
),
scored AS (
  SELECT bucket_ts, n_events,
         lag(n_events) OVER (ORDER BY bucket_ts) AS prev,
         lead(n_events) OVER (ORDER BY bucket_ts) AS next,
         avg(n_events) OVER (ORDER BY bucket_ts
                             ROWS BETWEEN 12 PRECEDING AND 1 PRECEDING)
           AS baseline_mean,
         count(n_events) OVER (ORDER BY bucket_ts
                               ROWS BETWEEN 12 PRECEDING AND 1 PRECEDING)
           AS n_base
  FROM series
)
SELECT strftime(bucket_ts, '%Y-%m-%d %H:%M:%S') AS bucket_ts,
       CAST(n_events AS BIGINT) AS n_events,
       (round(baseline_mean, 6) + 0.0) AS baseline_mean,
       (round(n_events / baseline_mean, 6) + 0.0) AS lift_ratio
FROM scored
WHERE prev IS NOT NULL AND next IS NOT NULL
  AND n_events > prev AND n_events > next
  AND n_base = 12
  AND n_events > 1.2 * baseline_mean
ORDER BY bucket_ts"""


def _rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: per customer the recency (days since last
    order), frequency (order count) and monetary (total spend) metrics,
    each scored into quartiles by ntile, rolled up to segment counts —
    the classic CRM cut, expressed as one groupBy + three ntile windows
    over the |customers| frame (raw orders are scanned once; every
    window runs on the aggregated frame). Ntile ties are broken by the
    customer key so both engines rank identically.

    Scale note: a global ntile is a single-reducer sort of the
    AGGREGATED frame — fine to ~MAX_SINGLE_REDUCER customers; past
    that, swap each score for the bounded-state quantile-threshold
    binning curriculum_stages uses (splits.curriculum_stages), which
    this registry already pins at 20M+ rows."""
    orders = read_parquet_table(spark, sf_dir, "orders")
    per_cust = orders.groupBy("o_custkey").agg(
        F.max("o_orderdate").alias("last_order"),
        F.count(F.lit(1)).alias("frequency"),
        F.round(F.sum("o_totalprice"), 2).alias("monetary"),
    )
    anchor = per_cust.agg(F.max("last_order").alias("anchor"))
    scored = (
        per_cust.crossJoin(F.broadcast(anchor))
        .withColumn("recency_days", F.datediff("anchor", "last_order"))
        .withColumn(
            "r_score",
            F.ntile(4).over(
                Window.orderBy(F.col("recency_days").asc(),
                               F.col("o_custkey").asc())
            ),
        )
        .withColumn(
            "f_score",
            F.ntile(4).over(
                Window.orderBy(F.col("frequency").desc(),
                               F.col("o_custkey").asc())
            ),
        )
        .withColumn(
            "m_score",
            F.ntile(4).over(
                Window.orderBy(F.col("monetary").desc(),
                               F.col("o_custkey").asc())
            ),
        )
    )
    return (
        scored.groupBy("r_score", "f_score", "m_score")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.sum("monetary"), 2).alias("segment_value"),
        )
        .orderBy("r_score", "f_score", "m_score")
    )


_RFM_SQL = """
WITH pc AS (
  SELECT o_custkey, max(o_orderdate) AS last_order,
         count(*) AS frequency,
         (round(sum(o_totalprice), 2) + 0.0) AS monetary
  FROM orders GROUP BY 1
),
a AS (SELECT max(last_order) AS anchor FROM pc),
s AS (
  SELECT o_custkey, monetary,
         ntile(4) OVER (ORDER BY date_diff('day', last_order, anchor) ASC,
                        o_custkey ASC) AS r_score,
         ntile(4) OVER (ORDER BY frequency DESC, o_custkey ASC) AS f_score,
         ntile(4) OVER (ORDER BY monetary DESC, o_custkey ASC) AS m_score
  FROM pc, a
)
SELECT CAST(r_score AS BIGINT) AS r_score,
       CAST(f_score AS BIGINT) AS f_score,
       CAST(m_score AS BIGINT) AS m_score,
       CAST(count(*) AS BIGINT) AS n_customers,
       (round(sum(monetary), 2) + 0.0) AS segment_value
FROM s
GROUP BY 1, 2, 3
ORDER BY 1, 2, 3"""


def _dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup operating curve (dedup.ngram_jaccard_pairs at a LOW floor,
    then binned): per Jaccard decile the pair count, docs touched, and
    the cumulative pairs-at-or-above — the report that picks the
    near-dup threshold BEFORE committing a corpus-wide dedup run,
    from one banded pass instead of one run per candidate threshold.
    Bins come from the same double division in both engines, so the
    decile edges can't disagree."""
    docs = read_parquet_table(spark, sf_dir, "documents")
    pairs = X.ngram_jaccard_pairs(docs, "text", "doc_id", k=3, threshold=0.1)
    # explode pair endpoints instead of collecting per-bin id arrays —
    # a hot bin at corpus scale must stay partial-aggregable
    binned = pairs.select(
        (F.floor(F.col("jaccard") * 10) / 10).alias("bin_lo"),
        F.explode(F.array("id1", "id2")).alias("d"),
    )
    per_bin = binned.groupBy("bin_lo").agg(
        (F.count(F.lit(1)) / 2).cast("long").alias("n_pairs"),
        F.countDistinct("d").alias("n_docs"),
    )
    w = (
        Window.orderBy(F.col("bin_lo").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return per_bin.select(
        "bin_lo", "n_pairs", "n_docs",
        F.sum("n_pairs").over(w).alias("cum_pairs_at_or_above"),
    ).orderBy("bin_lo")


_DEDUP_SWEEP_SQL = """
WITH toks AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS w
  FROM documents
), sh AS (
  SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS shingle
  FROM toks, unnest(generate_series(1, greatest(len(w)-2, 1))) AS t(i)
), sizes AS (
  SELECT doc_id, count(*) AS n FROM sh GROUP BY 1
), rare AS (
  SELECT shingle FROM sh GROUP BY 1 HAVING count(*) <= 100
), cands AS (
  SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
  FROM sh a
  JOIN rare r ON a.shingle = r.shingle
  JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
), pairs AS (
  SELECT c.id1, c.id2, count(*) AS inter
  FROM cands c
  JOIN sh a ON a.doc_id = c.id1
  JOIN sh b ON b.doc_id = c.id2 AND b.shingle = a.shingle
  GROUP BY 1, 2
), scored AS (
  SELECT id1, id2,
         floor((inter * 1.0 / (s1.n + s2.n - inter)) * 10) / 10 AS bin_lo
  FROM pairs
  JOIN sizes s1 ON id1 = s1.doc_id
  JOIN sizes s2 ON id2 = s2.doc_id
  WHERE inter * 1.0 / (s1.n + s2.n - inter) >= 0.1
), per_bin AS (
  SELECT bin_lo, count(*) AS n_pairs,
         count(DISTINCT d) AS n_docs
  FROM scored, unnest([id1, id2]) AS u(d)
  GROUP BY bin_lo
),
pb2 AS (
  SELECT bin_lo, n_pairs / 2 AS n_pairs, n_docs FROM per_bin
)
SELECT bin_lo,
       CAST(n_pairs AS BIGINT) AS n_pairs,
       CAST(n_docs AS BIGINT) AS n_docs,
       CAST(sum(n_pairs) OVER (ORDER BY bin_lo DESC
                               ROWS UNBOUNDED PRECEDING) AS BIGINT)
         AS cum_pairs_at_or_above
FROM pb2
ORDER BY bin_lo"""


def _hurst(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hurst exponent of hourly arrivals by rescaled-range analysis
    (profile.hurst_rescaled_range): power-of-two block sizes make
    every block mean and cumulative deviation EXACT in binary floats,
    so both engines agree by construction; raw events are scanned
    once."""
    from whiterrabbit_spark.profile import hurst_rescaled_range

    events = read_parquet_table(spark, sf_dir, "events")
    return hurst_rescaled_range(events, "ts", "hour", (8, 16, 32, 64))


_HURST_SQL = """
WITH series AS (
  SELECT date_trunc('hour', ts) AS b, count(*) AS x FROM events GROUP BY 1
),
s2 AS (
  SELECT row_number() OVER (ORDER BY b) - 1 AS i, CAST(x AS DOUBLE) AS x
  FROM series
),
tot AS (SELECT count(*) AS series_len FROM s2),
e AS (
  SELECT n, i, x, (i // n) AS blk
  FROM s2, (SELECT unnest([8, 16, 32, 64]) AS n) sizes, tot
  WHERE ((i // n) + 1) * n <= series_len
),
d AS (
  SELECT n, blk, x,
         sum(x - m) OVER (PARTITION BY n, blk ORDER BY i
                          ROWS UNBOUNDED PRECEDING) AS cum
  FROM (SELECT n, blk, i, x,
               avg(x) OVER (PARTITION BY n, blk) AS m FROM e) t
),
pb AS (
  SELECT n, blk, max(cum) - min(cum) AS r,
         sqrt(avg(x * x) - avg(x) * avg(x)) AS s
  FROM d GROUP BY 1, 2
),
pn AS (
  SELECT n, count(*) AS n_blocks, avg(r / s) AS mean_rs
  FROM pb WHERE s > 0 GROUP BY 1
),
fit AS (
  SELECT (sum(ln(n) * ln(mean_rs))
            - sum(ln(n)) * sum(ln(mean_rs)) / count(*))
       / (sum(ln(n) * ln(n)) - sum(ln(n)) * sum(ln(n)) / count(*))
         AS hurst
  FROM pn
)
SELECT CAST(n AS BIGINT) AS block_size,
       CAST(n_blocks AS BIGINT) AS n_blocks,
       (round(mean_rs, 6) + 0.0) AS mean_rs,
       (round(hurst, 6) + 0.0) AS hurst
FROM pn, fit
ORDER BY block_size"""


def _bucket_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-located bucketed join end-to-end (sink.write_bucketed_table):
    orders and lineitem land as 16-bucket tables on the order key, and
    the revenue rollup joins them bucket-to-bucket — the shuffle is
    paid once at write time, ZERO join-side Exchange afterwards
    (plan-pinned in test_scale_techniques::
    test_bucketed_join_has_no_shuffle; merge hint keeps the SMJ path
    so the bucket layout, not a broadcast, carries the demo). The 100
    TB shape for any fact table joined on the same key every day."""
    from whiterrabbit_spark.extensions.sink import write_bucketed_table

    orders = read_parquet_table(spark, sf_dir, "orders")
    lineitem = read_parquet_table(spark, sf_dir, "lineitem")
    write_bucketed_table(
        orders.select("o_orderkey", "o_orderpriority"),
        "wrs_bucket_orders", ["o_orderkey"], n_buckets=16,
    )
    write_bucketed_table(
        lineitem.select("l_orderkey", "l_extendedprice", "l_discount"),
        "wrs_bucket_lineitem", ["l_orderkey"], n_buckets=16,
    )
    o = spark.table("wrs_bucket_orders")
    li = spark.table("wrs_bucket_lineitem").hint("merge")
    return (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))),
                2,
            ).alias("revenue"),
        )
        .orderBy("o_orderpriority")
    )


_BUCKET_JOIN_SQL = """
SELECT o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_lines,
       (round(sum(l_extendedprice * (1 - l_discount)), 2) + 0.0) AS revenue
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
GROUP BY o_orderpriority
ORDER BY o_orderpriority"""


def _theil_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-T inequality with between/within decomposition
    (profile.theil_decomposition): the additively-decomposable
    concentration index Gini lacks — per-group partial sums of
    x·ln(x) fold map-side; no second pass for the within terms."""
    from whiterrabbit_spark.profile import theil_decomposition

    orders = read_parquet_table(spark, sf_dir, "orders")
    return theil_decomposition(orders, "o_orderpriority", "o_totalprice")


_THEIL_INDEX_SQL = """
WITH g AS (
  SELECT o_orderpriority, count(*) AS n_g, sum(o_totalprice) AS s_g,
         sum(o_totalprice * ln(o_totalprice)) AS xlx_g
  FROM orders WHERE o_totalprice IS NOT NULL AND o_totalprice > 0
  GROUP BY 1
),
t AS (SELECT sum(n_g) AS n, sum(s_g) AS s, sum(xlx_g) AS xlx FROM g)
SELECT o_orderpriority, CAST(n_g AS BIGINT) AS n_rows,
       (round(s_g / s, 6) + 0.0) AS value_share,
       (round(xlx_g / s_g - ln(s_g / n_g), 6) + 0.0) AS theil_within,
       (round((s_g / s) * (xlx_g / s_g - ln(s_g / n_g)), 6) + 0.0)
         AS within_contrib,
       (round(xlx / s - ln(s / n), 6) + 0.0) AS theil_total,
       (round(sum((s_g / s) * ln((s_g / n_g) / (s / n))) OVER (), 6) + 0.0)
         AS theil_between,
       (round(sum((s_g / s) * (xlx_g / s_g - ln(s_g / n_g))) OVER (), 6) + 0.0)
         AS within_total
FROM g, t
ORDER BY o_orderpriority"""


def _episode_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gapped sequential patterns (sequences.episode_pairs): "a then —
    eventually — b" per ordered type pair, reduced to per-(user, type)
    time envelopes so the self-join never touches raw events."""
    from whiterrabbit_spark.extensions.sequences import episode_pairs

    events = read_parquet_table(spark, sf_dir, "events")
    return episode_pairs(events, "user_id", "ts", "event_type")


_EPISODE_PAIRS_SQL = """
WITH env AS (
  SELECT user_id, event_type,
         min(ts) AS first_ts, max(ts) AS last_ts
  FROM events
  WHERE event_type IS NOT NULL AND user_id IS NOT NULL
  GROUP BY 1, 2
)
SELECT a.event_type AS type_a, b.event_type AS type_b,
       CAST(count(*) AS BIGINT) AS n_users_both,
       CAST(sum(CASE WHEN a.first_ts < b.last_ts THEN 1 ELSE 0 END)
            AS BIGINT) AS n_users_ordered,
       (round(sum(CASE WHEN a.first_ts < b.last_ts THEN 1 ELSE 0 END)
             * 1.0 / count(*), 6) + 0.0) AS support_frac
FROM env a JOIN env b
  ON a.user_id = b.user_id AND a.event_type <> b.event_type
GROUP BY 1, 2
HAVING sum(CASE WHEN a.first_ts < b.last_ts THEN 1 ELSE 0 END) >= 1
ORDER BY 1, 2"""


def _weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted price median per return flag
    (profile.grouped_weighted_median): per-(group, value) weight
    collapse BEFORE the cumulative window, tie-merged so both engines
    add identical partial sums in identical order."""
    from whiterrabbit_spark.profile import grouped_weighted_median

    li = read_parquet_table(spark, sf_dir, "lineitem")
    return grouped_weighted_median(
        li, "l_returnflag", "l_extendedprice", "l_quantity"
    )


_WEIGHTED_MEDIAN_SQL = """
WITH pv AS (
  SELECT l_returnflag, l_extendedprice AS v, sum(l_quantity) AS w
  FROM lineitem
  WHERE l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL
  GROUP BY 1, 2
),
c AS (
  SELECT l_returnflag, v,
         sum(w) OVER (PARTITION BY l_returnflag ORDER BY v
                      ROWS UNBOUNDED PRECEDING) AS cw,
         sum(w) OVER (PARTITION BY l_returnflag) AS tw
  FROM pv
)
SELECT l_returnflag,
       (round(max(tw), 6) + 0.0) AS total_weight,
       min(v) AS weighted_median
FROM c
WHERE cw >= tw / 2
GROUP BY l_returnflag
ORDER BY l_returnflag"""


def _approx_quantile_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-accuracy gate (profile.approx_quantile_gate): exact
    type-7 percentiles + GK approx in one scan, rank-interval contract
    check in a second. The approx values are sketch-internal and NOT
    in the contract — the exact values and the within-bound flags
    are; a sketch violation drops a flag to 0 and reds the oracle."""
    from whiterrabbit_spark.profile import approx_quantile_gate

    li = read_parquet_table(spark, sf_dir, "lineitem")
    out = approx_quantile_gate(
        li, "l_extendedprice", (0.01, 0.25, 0.5, 0.75, 0.99), 10_000
    )
    return out.select(
        "q", "n_rows",
        F.round("exact_value", R).alias("exact_value"),
        "within_bound",
    ).orderBy("q")


_APPROX_QUANTILE_GATE_SQL = """
WITH e AS (
  SELECT quantile_cont(l_extendedprice, [0.01, 0.25, 0.5, 0.75, 0.99]) AS v,
         count(l_extendedprice) AS n
  FROM lineitem
),
u AS (
  SELECT unnest([1, 2, 3, 4, 5]) AS i,
         unnest([0.01, 0.25, 0.5, 0.75, 0.99]) AS q
)
SELECT CAST(u.q AS DOUBLE) AS q,
       CAST(e.n AS BIGINT) AS n_rows,
       (round(e.v[u.i], 6) + 0.0) AS exact_value,
       CAST(1 AS BIGINT) AS within_bound
FROM e, u
ORDER BY q"""


def _ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly OHLC/volume bars over the event value signal
    (sequences.ohlc_bars): first/last via min_by/max_by over a
    (ts, event_id) tie-break struct — one partial-aggregable groupBy,
    no sort, no window. The oracle reproduces open/close with
    per-bar row_number picks."""
    from whiterrabbit_spark.extensions.sequences import ohlc_bars

    events = read_parquet_table(spark, sf_dir, "events")
    out = ohlc_bars(events, "ts", "value", "event_id", bar="hour")
    return out.select(
        "bar_ts", "n_events", "open", "high", "low", "close",
        F.round("volume", R).alias("volume"),
    ).orderBy("bar_ts")


_OHLC_SQL = """
WITH e AS (
  SELECT date_trunc('hour', ts) AS bar_ts, ts, event_id, value
  FROM events WHERE value IS NOT NULL
),
o AS (
  SELECT bar_ts, value,
         row_number() OVER (PARTITION BY bar_ts
                            ORDER BY ts, event_id) AS rn_a,
         row_number() OVER (PARTITION BY bar_ts
                            ORDER BY ts DESC, event_id DESC) AS rn_d
  FROM e
)
SELECT bar_ts, CAST(count(*) AS BIGINT) AS n_events,
       max(CASE WHEN rn_a = 1 THEN value END) AS open,
       max(value) AS high,
       min(value) AS low,
       max(CASE WHEN rn_d = 1 THEN value END) AS close,
       (round(sum(value), 6) + 0.0) AS volume
FROM o
GROUP BY bar_ts
ORDER BY bar_ts"""


def _activity_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest consecutive-day streak distribution
    (sequences.activity_streaks): distinct (user, day) collapses raw
    volume BEFORE the one per-user window; gaps-and-islands via
    day − row_number."""
    from whiterrabbit_spark.extensions.sequences import activity_streaks

    events = read_parquet_table(spark, sf_dir, "events")
    return activity_streaks(events, "user_id", "ts")


_ACTIVITY_STREAKS_SQL = """
WITH d AS (
  SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS day
  FROM events
),
i AS (
  SELECT user_id,
         date_diff('day', DATE '1970-01-01', day)
           - row_number() OVER (PARTITION BY user_id ORDER BY day)
           AS island
  FROM d
),
s AS (
  SELECT user_id, island, count(*) AS streak_len
  FROM i GROUP BY 1, 2
),
p AS (
  SELECT user_id, max(streak_len) AS max_streak FROM s GROUP BY 1
)
SELECT CAST(max_streak AS BIGINT) AS max_streak,
       CAST(count(*) AS BIGINT) AS n_users
FROM p
GROUP BY max_streak
ORDER BY max_streak"""


def _readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language readability rollup (textstats.readability): Flesch
    reading-ease from a closed-form vowel-group/sentence-ender count —
    one map-side regexp projection + one bounded groupBy(lang). The
    curation signal orthogonal to the Gopher/C4 filters."""
    from whiterrabbit_spark.extensions.textstats import readability

    docs = read_parquet_table(spark, sf_dir, "documents")
    r = readability(docs, "text", "doc_id", keep_cols=("lang",))
    wps = F.when(
        F.col("n_words") > 0, F.col("n_words") / F.col("n_sentences")
    )
    spw = F.when(
        F.col("n_words") > 0, F.col("n_syllables") / F.col("n_words")
    )
    return (
        r.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.coalesce(F.avg(wps), F.lit(-1.0)), R).alias(
                "avg_words_per_sentence"
            ),
            F.round(F.coalesce(F.avg(spw), F.lit(-1.0)), R).alias(
                "avg_syllables_per_word"
            ),
            F.round(F.coalesce(F.avg("flesch"), F.lit(-1.0)), R).alias(
                "avg_flesch"
            ),
            F.round(F.coalesce(F.min("flesch"), F.lit(-1.0)), R).alias(
                "min_flesch"
            ),
            F.round(F.coalesce(F.max("flesch"), F.lit(-1.0)), R).alias(
                "max_flesch"
            ),
        )
        .orderBy("lang")
    )


_READABILITY_SQL = """
WITH r AS (
  SELECT lang,
         len(regexp_extract_all(lower(text), '[a-z]+')) AS w,
         len(regexp_extract_all(lower(text), '[aeiouy]+')) AS s,
         greatest(1, len(regexp_extract_all(lower(text), '[.!?]+'))) AS st
  FROM documents
),
f AS (
  SELECT lang, w, s, st,
         CASE WHEN w > 0 THEN 206.835 - 1.015 * (w * 1.0 / st)
                              - 84.6 * (s * 1.0 / w) END AS flesch
  FROM r
)
SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
       (round(coalesce(avg(CASE WHEN w > 0 THEN w * 1.0 / st END), -1.0), 6) + 0.0)
         AS avg_words_per_sentence,
       (round(coalesce(avg(CASE WHEN w > 0 THEN s * 1.0 / w END), -1.0), 6) + 0.0)
         AS avg_syllables_per_word,
       (round(coalesce(avg(flesch), -1.0), 6) + 0.0) AS avg_flesch,
       (round(coalesce(min(flesch), -1.0), 6) + 0.0) AS min_flesch,
       (round(coalesce(max(flesch), -1.0), 6) + 0.0) AS max_flesch
FROM f
GROUP BY lang
ORDER BY lang"""


def _dp_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ε-DP order-priority histogram (discovery.dp_noisy_counts):
    Laplace(1/ε) noise on each group count, drawn by seeded md5
    inverse-CDF so the release is reproducible and retry-stable on a
    cluster (a rand() draw would re-noise recomputed partitions). The
    oracle replays the identical hash -> uniform -> Laplace arithmetic
    relationally."""
    from whiterrabbit_spark.extensions.discovery import dp_noisy_counts

    orders = read_parquet_table(spark, sf_dir, "orders")
    return dp_noisy_counts(
        orders, "o_orderpriority", epsilon=1.0, seed="dp"
    ).orderBy("o_orderpriority")


_DP_COUNTS_SQL = """
WITH g AS (
  SELECT o_orderpriority, count(*) AS n
  FROM orders WHERE o_orderpriority IS NOT NULL
  GROUP BY 1
),
u AS (
  SELECT o_orderpriority, n,
         ('0x' || substr(md5(o_orderpriority || ':dp'), 1, 15))::BIGINT
           * 1.0 / 1152921504606846976 AS u
  FROM g
)
SELECT o_orderpriority,
       (round(n + (-1.0) * sign(u - 0.5) * ln(1 - 2 * abs(u - 0.5)), 6) + 0.0)
         AS noisy_count,
       CAST(1.0 AS DOUBLE) AS epsilon
FROM u
ORDER BY o_orderpriority"""


def _heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact φ-heavy-hitters via the two-pass Misra-Gries scheme
    (profile.heavy_hitters): bounded-memory candidate pass + broadcast
    verify pass — shuffles |candidates|, never |distinct|."""
    from whiterrabbit_spark.profile import heavy_hitters

    ev = read_parquet_table(spark, sf_dir, "events")
    return heavy_hitters(ev, "user_id", phi=0.0008).withColumnRenamed(
        "value", "user_id"
    )


_HEAVY_HITTERS_SQL = """
SELECT user_id, CAST(count(*) AS BIGINT) AS n
FROM events WHERE user_id IS NOT NULL
GROUP BY user_id
HAVING count(*) >= ceil(0.0008 * (SELECT count(user_id) FROM events))"""


def _embedding_pca(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Covariance eigen-spectrum of the embedding corpus
    (similarity.embedding_pca): O(partitions·d²) partial-Gram collect +
    driver eigh.

    Graduated from rows-only to an INVARIANT oracle (VERDICT r7 #4, the
    whiten_embeddings pattern): no SQL eigensolver exists, but the
    spectrum's defining identities ARE SQL-checkable — Σ of ALL
    eigenvalues equals trace(cov) = Σ_d Var_pop(x_d), which DuckDB
    recomputes independently from the raw vectors (the cross-engine
    REAL-VALUED anchor, exact to well under the 6-dp rounding in
    float64), and max_d Var_pop(x_d) ≤ λ_max ≤ trace bounds the top of
    the spectrum. The entry emits, per top-10 component: the
    sorted/non-negative and cumulative-share invariants (booleans), the
    trace, the λ_max bound check, and n. The raw spectrum remains
    available via the operator API (similarity.embedding_pca); the
    eigensolver itself is pinned by unit tests on planted-covariance
    fixtures."""
    from whiterrabbit_spark.extensions.similarity import embedding_pca

    emb = read_parquet_table(spark, sf_dir, "embeddings")
    full = embedding_pca(emb, "embedding", k=10_000).collect()
    n = emb.count()
    lams = [r["eigenvalue"] for r in full]
    cums = [r["cumulative_explained"] for r in full]
    trace = sum(lams)
    lmax = lams[0] if lams else 0.0
    d = len(lams)
    tol = 1e-9
    k = min(10, d)
    rows = []
    for i in range(k):
        sorted_nonneg = lams[i] >= -tol and (
            i + 1 >= d or lams[i] + tol >= lams[i + 1]
        )
        cum_ok = 0.0 <= cums[i] <= 1.0 + tol and (
            i == 0 or cums[i] + tol >= cums[i - 1]
        )
        # λ_max sits between the spectrum mean (pigeonhole) and the
        # full trace — a real-valued sanity band on the top eigenvalue
        lmax_ok = trace / max(d, 1) - tol <= lmax <= trace + tol
        rows.append(
            (
                i + 1,
                bool(sorted_nonneg),
                bool(cum_ok),
                round(trace, R),
                bool(lmax_ok),
                n,
            )
        )
    return spark.createDataFrame(
        rows,
        "component int, sorted_nonneg boolean, cum_in_bounds boolean,"
        " total_variance double, lambda_max_in_bounds boolean, n long",
    )


_EMBEDDING_PCA_SQL = f"""
WITH pervar AS (
  SELECT sum(vv) AS trace FROM (
    SELECT var_pop(CAST(v AS DOUBLE)) AS vv
    FROM (
      SELECT unnest(embedding) AS v,
             generate_subscripts(embedding, 1) AS d
      FROM embeddings
    )
    GROUP BY d
  )
), cnt AS (
  SELECT CAST(count(*) AS BIGINT) AS n FROM embeddings
)
SELECT CAST(c AS BIGINT) AS component,
       TRUE AS sorted_nonneg,
       TRUE AS cum_in_bounds,
       (round(trace, {R}) + 0.0) AS total_variance,
       TRUE AS lambda_max_in_bounds,
       n
FROM generate_series(1, 10) t(c), pervar, cnt
ORDER BY component"""


def _jsd_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded drift divergences (profile.jsd_drift): JSD + Hellinger
    between the older and newer halves of orders, same epoch-midpoint
    split and reference-anchored bins as psi_drift_orders — the
    saturation-free complement to PSI on disjoint supports."""
    from whiterrabbit_spark.profile import jsd_drift

    orders = read_parquet_table(spark, sf_dir, "orders")
    ep = F.col("o_orderdate").cast("timestamp").cast("double")
    mid = orders.agg(((F.min(ep) + F.max(ep)) / 2.0).alias("m")).collect()[0]["m"]
    out = jsd_drift(
        orders.where(ep < F.lit(mid)), orders.where(ep >= F.lit(mid)),
        PSI_COLS, bins=10,
    )
    return out.select(
        "column_name",
        F.round("jsd", R).alias("jsd"),
        F.round("hellinger", R).alias("hellinger"),
    )


def _jsd_sql() -> str:
    parts = []
    for c in PSI_COLS:
        parts.append(f"""
{c}_bounds AS (
  SELECT min({c}::DOUBLE) AS lo, max({c}::DOUBLE) AS hi FROM tagged WHERE is_ref
), {c}_cnt AS (
  SELECT CAST(least(greatest(floor(({c}::DOUBLE - lo) /
           (CASE WHEN hi > lo THEN (hi - lo) / 10 ELSE 1.0 END)), 0), 9) AS INT) AS bucket,
         count(*) FILTER (is_ref) AS n_ref,
         count(*) FILTER (NOT is_ref) AS n_cur
  FROM tagged, {c}_bounds WHERE {c} IS NOT NULL GROUP BY 1
), {c}_pq AS (
  SELECT n_ref / (SELECT sum(n_ref) FROM {c}_cnt) AS p,
         n_cur / (SELECT sum(n_cur) FROM {c}_cnt) AS q,
         n_ref, n_cur
  FROM {c}_cnt
)""")
    selects = "\nUNION ALL\n".join(
        f"""SELECT '{c}' AS column_name,
       (round(sum((CASE WHEN n_ref > 0 THEN p * ln(p / ((p + q) / 2)) ELSE 0.0 END
                + CASE WHEN n_cur > 0 THEN q * ln(q / ((p + q) / 2)) ELSE 0.0 END) / 2), {R}) + 0.0) AS jsd,
       (round(sqrt(sum((sqrt(p) - sqrt(q)) * (sqrt(p) - sqrt(q))) / 2), {R}) + 0.0) AS hellinger
FROM {c}_pq"""
        for c in PSI_COLS
    )
    return (
        """
WITH s AS (
  SELECT (epoch(min(o_orderdate)) + epoch(max(o_orderdate))) / 2.0 AS mid
  FROM orders
), tagged AS (
  SELECT o_totalprice, o_custkey, o_orderkey,
         epoch(o_orderdate) < (SELECT mid FROM s) AS is_ref
  FROM orders
), """
        + ", ".join(parts)
        + "\n"
        + selects
    )


def _cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance-reduced A/B on per-customer order spend
    (profile.cuped_ab): 1996 spend is the pre-period covariate for the
    1997 outcome; arms are a deterministic md5 coin on custkey. Every
    statistic folds out of exact integer moments."""
    from whiterrabbit_spark.profile import cuped_ab

    orders = read_parquet_table(spark, sf_dir, "orders")
    d = F.col("o_orderdate")
    return cuped_ab(
        orders,
        "o_custkey",
        F.round(F.col("o_totalprice")),
        (d >= F.lit("1996-01-01")) & (d < F.lit("1997-01-01")),
        (d >= F.lit("1997-01-01")) & (d < F.lit("1998-01-01")),
    )


_CUPED_SQL = """
WITH per_unit AS (
  SELECT o_custkey AS u,
         coalesce(sum(CASE WHEN o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
                            AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
                           THEN CAST((round(o_totalprice) + 0.0) AS BIGINT) END), 0) AS x,
         coalesce(sum(CASE WHEN o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
                            AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
                           THEN CAST((round(o_totalprice) + 0.0) AS BIGINT) END), 0) AS y,
         max(CASE WHEN o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
                   AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
                  THEN 1 ELSE 0 END) AS has_post
  FROM orders WHERE o_custkey IS NOT NULL
  GROUP BY 1
), units AS (
  SELECT x, y,
         (('0x' || substr(md5(u::VARCHAR || ':cuped'), 1, 15))::BIGINT % 2) AS arm
  FROM per_unit WHERE has_post = 1
), m AS (
  SELECT CAST(count(*) AS DOUBLE) AS n,
         CAST(sum(x) AS DOUBLE) AS sx, CAST(sum(y) AS DOUBLE) AS sy,
         CAST(sum(x * y) AS DOUBLE) AS sxy,
         CAST(sum(x * x) AS DOUBLE) AS sxx,
         CAST(sum(y * y) AS DOUBLE) AS syy
  FROM units
), a AS (
  SELECT CAST(count(*) AS BIGINT) AS n_a, CAST(sum(x) AS BIGINT) AS sx_a,
         CAST(sum(y) AS BIGINT) AS sy_a
  FROM units WHERE arm = 0
), b AS (
  SELECT CAST(count(*) AS BIGINT) AS n_b, CAST(sum(x) AS BIGINT) AS sx_b,
         CAST(sum(y) AS BIGINT) AS sy_b
  FROM units WHERE arm = 1
), d AS (
  SELECT n_a, n_b,
         n * sxy - sx * sy AS cov_n2,
         n * sxx - sx * sx AS varx_n2,
         n * syy - sy * sy AS vary_n2,
         sy_a / n_a - sy_b / n_b AS raw_diff,
         sx_a / n_a - sx_b / n_b AS pre_diff
  FROM m, a, b
)
SELECT n_a, n_b,
       (round(CASE WHEN varx_n2 > 0 THEN cov_n2 / varx_n2 ELSE 0.0 END, 6) + 0.0) AS theta,
       (round(raw_diff, 6) + 0.0) AS raw_diff,
       (round(raw_diff - (CASE WHEN varx_n2 > 0 THEN cov_n2 / varx_n2 ELSE 0.0 END)
                        * pre_diff, 6) + 0.0) AS adj_diff,
       (round(CASE WHEN varx_n2 > 0 AND vary_n2 > 0
                  THEN 100.0 * cov_n2 * cov_n2 / (varx_n2 * vary_n2)
                  ELSE 0.0 END, 6) + 0.0) AS var_reduction_pct
FROM d"""


def _calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability/ECE report (profile.calibration_report): the
    quality score read as P(doc is English) against the corpus's own
    lang label — the acceptance gate before any score is trusted as a
    probability. Per-bin ece_term sums to the ECE."""
    from whiterrabbit_spark.extensions import textstats as _ts
    from whiterrabbit_spark.profile import calibration_report

    docs = read_parquet_table(spark, sf_dir, "documents")
    q = _ts.quality_exprs(F.col("text"))
    scored = docs.select(
        q["quality_score"].alias("score"),
        (F.col("lang") == "en").alias("label"),
    )
    return calibration_report(scored, "score", "label", bins=10)


def _calibration_sql() -> str:
    return f"""
WITH {_quality_core_sql()}, scored AS (
  SELECT quality_score AS score, (d.lang = 'en') AS label
  FROM sc JOIN documents d USING (doc_id)
  WHERE quality_score IS NOT NULL AND d.lang IS NOT NULL
), per_bin AS (
  SELECT CAST(least(greatest(floor(score * 10), 0), 9) AS BIGINT) AS bin,
         count(*) AS n, avg(score) AS mean_score,
         sum(CASE WHEN label THEN 1 ELSE 0 END) AS n_pos
  FROM scored GROUP BY 1
)
SELECT bin, CAST(n AS BIGINT) AS n,
       (round(mean_score, 6) + 0.0) AS mean_score,
       (round(n_pos / n, 6) + 0.0) AS pos_rate,
       (round(abs(mean_score - n_pos / n), 6) + 0.0) AS abs_gap,
       (round(abs(mean_score - n_pos / n) * n / (SELECT sum(n) FROM per_bin), 6) + 0.0)
         AS ece_term
FROM per_bin ORDER BY bin"""


def _adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adamic–Adar link prediction (graph.adamic_adar) over the sampled
    co-purchase graph — top 20 non-adjacent part pairs most likely to
    co-occur next, hub-discounted. ``max_degree=10_000`` is the wedge
    cap SCALE_r7's hot-partkey variant showed this entry needs (29×
    wall-time blowup uncapped at a 20M-line hub; a 10k-degree middle
    contributes ≤ 1/ln(10⁴) ≈ 0.11 per wedge, the standard
    approximation) — degrees at every oracle SF stay far below it, so
    the cap is inert where the SQL mirror verifies."""
    from whiterrabbit_spark.extensions.graph import adamic_adar

    out = adamic_adar(
        _copurchase_edges(spark, sf_dir), top_k=20, max_degree=10_000
    )
    return out.select(
        "src", "dst", "common_neighbors",
        F.round("aa_score", R).alias("aa_score"),
    )


_ADAMIC_ADAR_SQL = f"""
WITH {_COPURCHASE_EDGES_SQL}, sym AS (
  SELECT src, dst FROM e
  UNION ALL
  SELECT dst AS src, src AS dst FROM e
), deg AS (
  SELECT src AS w, count(*) AS deg FROM sym GROUP BY 1
), adj AS (
  SELECT s.src AS w, s.dst AS n, d.deg
  FROM sym s JOIN deg d ON s.src = d.w
  WHERE d.deg >= 2
), wedges AS (
  SELECT l.n AS src, r.n AS dst, l.deg
  FROM adj l JOIN adj r ON l.w = r.w AND l.n < r.n
), scored AS (
  SELECT src, dst, CAST(count(*) AS BIGINT) AS common_neighbors,
         sum(1.0 / ln(deg::DOUBLE)) AS aa_score
  FROM wedges GROUP BY 1, 2
)
SELECT src, dst, common_neighbors, (round(aa_score, {R}) + 0.0) AS aa_score
FROM scored
WHERE NOT EXISTS (SELECT 1 FROM e WHERE e.src = scored.src AND e.dst = scored.dst)
ORDER BY aa_score DESC, src, dst
LIMIT 20"""


def _funnel_timing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert per funnel transition (sequences.funnel_timing):
    median/p90/mean seconds between greedy step completions — where the
    funnel stalls, not just where it leaks."""
    from whiterrabbit_spark.extensions import sequences as sq

    events = read_parquet_table(spark, sf_dir, "events")
    return sq.funnel_timing(events, FUNNEL_STEPS)


def _funnel_timing_sql() -> str:
    s0, s1, s2 = FUNNEL_STEPS
    return f"""
WITH per_user AS (
  SELECT user_id,
         list(epoch(ts)) FILTER (event_type = '{s0}') AS a0,
         list(epoch(ts)) FILTER (event_type = '{s1}') AS a1,
         list(epoch(ts)) FILTER (event_type = '{s2}') AS a2
  FROM events GROUP BY 1
), f0 AS (
  SELECT user_id, a1, a2, list_min(a0) AS t0 FROM per_user
), f1 AS (
  SELECT user_id, a2, t0, list_min(list_filter(a1, x -> x > t0)) AS t1 FROM f0
), f2 AS (
  SELECT user_id, t0, t1, list_min(list_filter(a2, x -> x > t1)) AS t2 FROM f1
), gaps AS (
  SELECT '{s0}->{s1}' AS transition, t1 - t0 AS gap_s FROM f2 WHERE t1 IS NOT NULL
  UNION ALL
  SELECT '{s1}->{s2}', t2 - t1 FROM f2 WHERE t2 IS NOT NULL
)
SELECT transition, CAST(count(*) AS BIGINT) AS n_converted,
       (round(quantile_cont(gap_s, 0.5), 4) + 0.0) AS median_s,
       (round(quantile_cont(gap_s, 0.9), 4) + 0.0) AS p90_s,
       (round(avg(gap_s), 4) + 0.0) AS mean_s
FROM gaps GROUP BY transition ORDER BY transition"""


def _cms_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min-sketch accuracy report (profile.cms_estimate_report)
    on events.user_id — exact top-10 read back through a 4×256 CMS."""
    from whiterrabbit_spark.profile import cms_estimate_report

    ev = read_parquet_table(spark, sf_dir, "events")
    return cms_estimate_report(ev, "user_id", depth=4, width=256, top_k=10)


_CMS_SQL = """
WITH per_value AS (
  SELECT CAST(user_id AS VARCHAR) AS value, CAST(count(*) AS BIGINT) AS exact_n
  FROM events WHERE user_id IS NOT NULL GROUP BY 1
), hashed AS (
  SELECT value, exact_n, j,
         (('0x' || substr(md5(value || ':cms:' || j::VARCHAR), 1, 15))::BIGINT
          % 256) AS b
  FROM per_value, (SELECT unnest(generate_series(0, 3)) AS j) js
), counters AS (
  SELECT j, b, CAST(sum(exact_n) AS BIGINT) AS counter FROM hashed GROUP BY 1, 2
), probes AS (
  SELECT value, exact_n FROM per_value ORDER BY exact_n DESC, value LIMIT 10
)
SELECT h.value, h.exact_n, min(c.counter) AS cms_n,
       min(c.counter) - h.exact_n AS overestimate
FROM hashed h
JOIN probes p ON h.value = p.value
JOIN counters c ON h.j = c.j AND h.b = c.b
GROUP BY h.value, h.exact_n
ORDER BY h.exact_n DESC, h.value"""


def _kruskal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal–Wallis rank test (profile.kruskal_wallis): does any
    return-flag segment differ in l_extendedprice location — the
    k-sample sibling of mannwhitney_orders, same histogram ranks."""
    from whiterrabbit_spark.profile import kruskal_wallis

    li = read_parquet_table(spark, sf_dir, "lineitem")
    return kruskal_wallis(li, "l_extendedprice", "l_returnflag")


_KRUSKAL_SQL = """
WITH base AS (
  SELECT l_extendedprice::DOUBLE AS v, CAST(l_returnflag AS VARCHAR) AS g
  FROM lineitem WHERE l_returnflag IS NOT NULL AND l_extendedprice IS NOT NULL
), cells AS (
  SELECT v, g, count(*) AS n_vg FROM base GROUP BY 1, 2
), hist AS (
  SELECT v, sum(n_vg) AS n,
         coalesce(sum(sum(n_vg)) OVER (ORDER BY v
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS before
  FROM cells GROUP BY v
), ranked AS (
  SELECT c.g, c.n_vg, h.before + (h.n + 1) / 2.0 AS avg_rank
  FROM cells c JOIN hist h USING (v)
), per_group AS (
  SELECT g, sum(n_vg) AS n_g, sum(avg_rank * n_vg) AS rank_sum
  FROM ranked GROUP BY g
), ties AS (
  SELECT CAST(sum(n * n * n - n) AS BIGINT) AS tie_sum FROM hist
), agg AS (
  SELECT CAST(sum(n_g) AS BIGINT) AS n_tot, CAST(count(*) AS BIGINT) AS k,
         sum(rank_sum * rank_sum / CAST(n_g AS DOUBLE)) AS rsq_over_n
  FROM per_group
), st AS (
  SELECT n_tot, k, tie_sum,
         12.0 / (CAST(n_tot AS DOUBLE) * (CAST(n_tot AS DOUBLE) + 1.0))
           * rsq_over_n - 3.0 * (CAST(n_tot AS DOUBLE) + 1.0) AS h
  FROM agg, ties
)
SELECT n_tot AS n, k, (round(h, 6) + 0.0) AS h,
       (round(CASE WHEN 1.0 - CAST(tie_sum AS DOUBLE)
                       / (CAST(n_tot AS DOUBLE) * CAST(n_tot AS DOUBLE)
                          * CAST(n_tot AS DOUBLE) - CAST(n_tot AS DOUBLE)) > 0
                  THEN h / (1.0 - CAST(tie_sum AS DOUBLE)
                       / (CAST(n_tot AS DOUBLE) * CAST(n_tot AS DOUBLE)
                          * CAST(n_tot AS DOUBLE) - CAST(n_tot AS DOUBLE)))
             END, 6) + 0.0) AS h_adj,
       (round(CASE WHEN n_tot > k
                  THEN (h - CAST(k AS DOUBLE) + 1.0)
                       / CAST(n_tot - k AS DOUBLE) END, 6) + 0.0) AS epsilon_sq
FROM st"""


def _levene(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown–Forsythe spread-homogeneity test (profile.levene_test):
    do return-flag segments differ in l_extendedprice DISPERSION."""
    from whiterrabbit_spark.profile import levene_test

    li = read_parquet_table(spark, sf_dir, "lineitem")
    return levene_test(li, "l_extendedprice", "l_returnflag")


_LEVENE_SQL = """
WITH base AS (
  SELECT l_extendedprice::DOUBLE AS v, CAST(l_returnflag AS VARCHAR) AS g
  FROM lineitem WHERE l_returnflag IS NOT NULL AND l_extendedprice IS NOT NULL
), med AS (
  SELECT g, quantile_cont(v, 0.5) AS med FROM base GROUP BY g
), per_group AS (
  SELECT b.g, count(*) AS n_g,
         sum(abs(v - med)) AS sz,
         sum(abs(v - med) * abs(v - med)) AS szz
  FROM base b JOIN med USING (g)
  GROUP BY b.g
), tot AS (
  SELECT CAST(sum(n_g) AS BIGINT) AS n_tot, CAST(count(*) AS BIGINT) AS k,
         sum(sz) AS sz_all,
         sum(szz - sz * sz / n_g) AS ssw,
         sum(sz * sz / n_g) AS sb_part
  FROM per_group
)
SELECT n_tot AS n, k,
       (round(CASE WHEN k > 1 AND n_tot > k
                   AND ssw > 0
                  THEN ((sb_part - sz_all * sz_all / n_tot)
                        / CAST(k - 1 AS DOUBLE))
                       / (ssw / CAST(n_tot - k AS DOUBLE)) END, 6) + 0.0) AS f_stat,
       CAST(k - 1 AS BIGINT) AS df_between,
       CAST(n_tot - k AS BIGINT) AS df_within
FROM tot"""


def _interarrival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-arrival gap profile per event type
    (profile.interarrival_profile): per-user same-type gaps, exp-fit λ
    with the exact median/p90 that expose fit honesty."""
    from whiterrabbit_spark.profile import interarrival_profile

    ev = read_parquet_table(spark, sf_dir, "events")
    return interarrival_profile(ev, "user_id", "event_type", "ts", "event_id")


_INTERARRIVAL_SQL = """
WITH gaps AS (
  SELECT event_type,
         epoch(ts) - lag(epoch(ts)) OVER (
           PARTITION BY user_id, event_type ORDER BY ts, event_id) AS gap
  FROM events
  WHERE user_id IS NOT NULL AND event_type IS NOT NULL AND ts IS NOT NULL
)
SELECT event_type, CAST(count(*) AS BIGINT) AS n_gaps,
       (round(avg(gap), 4) + 0.0) AS mean_s,
       (round(quantile_cont(gap, 0.5), 4) + 0.0) AS median_s,
       (round(quantile_cont(gap, 0.9), 4) + 0.0) AS p90_s,
       (round(1.0 / avg(gap), 8) + 0.0) AS lambda_hz
FROM gaps WHERE gap IS NOT NULL
GROUP BY event_type ORDER BY event_type"""


def _bot_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral bot screen (profile.bot_score_report): top-20 users
    by sustained event rate with type entropy and span."""
    from whiterrabbit_spark.profile import bot_score_report

    ev = read_parquet_table(spark, sf_dir, "events")
    return bot_score_report(ev, "user_id", "event_type", "ts", top_k=20)


_BOT_SCORE_SQL = """
WITH base AS (
  SELECT user_id, event_type, epoch(ts) AS ep FROM events
  WHERE user_id IS NOT NULL AND event_type IS NOT NULL AND ts IS NOT NULL
), per_type AS (
  SELECT user_id AS u, event_type AS t, count(*) AS n_t
  FROM base GROUP BY 1, 2
), probs AS (
  SELECT u, n_t / sum(n_t) OVER (PARTITION BY u) AS p FROM per_type
), ent AS (
  SELECT u, (round(-sum(p * ln(p)), 6) + 0.0) AS type_entropy,
         CAST(count(*) AS BIGINT) AS n_types
  FROM probs GROUP BY u
), spans AS (
  SELECT user_id AS u, CAST(count(*) AS BIGINT) AS n_events,
         max(ep) - min(ep) AS span_s
  FROM base GROUP BY 1
)
SELECT u AS user_id, n_events, (round(span_s, 4) + 0.0) AS span_s,
       (round(CASE WHEN span_s > 0 THEN n_events * 3600.0 / span_s END, 6) + 0.0)
         AS events_per_hour,
       type_entropy, n_types
FROM spans JOIN ent USING (u)
ORDER BY events_per_hour DESC, user_id
LIMIT 20"""


def _heaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law vocab growth (textstats.heaps_law): vocabulary vs
    cumulative tokens at 10 corpus prefixes + the log-log exponent —
    computed with the order-free min-first-id formulation."""
    docs = read_parquet_table(spark, sf_dir, "documents")
    return ts.heaps_law(docs, "doc_id", "text", n_checkpoints=10)


_HEAPS_SQL = r"""
WITH base AS (
  SELECT doc_id AS id, text FROM documents
  WHERE doc_id IS NOT NULL AND text IS NOT NULL
), tok AS (
  SELECT id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS t
  FROM base
), tok2 AS (
  SELECT id, t FROM tok WHERE t <> ''
), bounds AS (
  SELECT min(id) AS lo, max(id) AS hi FROM base
), cps AS (
  SELECT i AS checkpoint,
         CAST(lo + ceil(i * (hi - lo) / 10.0) AS BIGINT) AS cutoff_id
  FROM (SELECT unnest(generate_series(1, 10)) AS i) js, bounds
), first AS (
  SELECT t, min(id) AS first_id FROM tok2 GROUP BY t
), pts AS (
  SELECT checkpoint, cutoff_id,
         (SELECT CAST(count(*) AS BIGINT) FROM tok2 WHERE id <= cutoff_id)
           AS cum_tokens,
         (SELECT CAST(count(*) AS BIGINT) FROM first WHERE first_id <= cutoff_id)
           AS vocab_size
  FROM cps
), fit AS (
  SELECT count(*) AS m,
         sum(ln(cum_tokens)) AS sx, sum(ln(vocab_size)) AS sy,
         sum(ln(cum_tokens) * ln(vocab_size)) AS sxy,
         sum(ln(cum_tokens) * ln(cum_tokens)) AS sxx
  FROM pts WHERE cum_tokens > 0 AND vocab_size > 0
)
SELECT checkpoint, cutoff_id, cum_tokens, vocab_size,
       (round(CASE WHEN m * sxx - sx * sx > 0
                  THEN (m * sxy - sx * sy) / (m * sxx - sx * sx) END, 6) + 0.0)
         AS heaps_beta,
       (round((sy - (CASE WHEN m * sxx - sx * sx > 0
                         THEN (m * sxy - sx * sy) / (m * sxx - sx * sx) END)
                   * sx) / m, 6) + 0.0) AS heaps_log_k
FROM pts, fit
ORDER BY checkpoint"""


BM25_QUERY = ["hash", "join", "stream"]


def _bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranked retrieval (textstats.bm25_topk) for the fixed query
    'hash join stream' — the lexical-search / RAG-retrieval baseline;
    the query-term filter lands before the token groupBy."""
    docs = read_parquet_table(spark, sf_dir, "documents")
    return ts.bm25_topk(docs, "doc_id", "text", BM25_QUERY, top_k=10)


def _bm25_core_sql(top_k: int) -> str:
    """CTE chain ending in ``bm25`` = (doc_id, score, n_terms_hit),
    top-``top_k`` — shared by the BM25 query and the RRF fusion."""
    terms = ", ".join(f"'{t}'" for t in sorted(set(BM25_QUERY)))
    return rf"""base AS (
  SELECT doc_id AS id,
         (CASE WHEN trim(text) = '' THEN 0
               ELSE len(string_split_regex(lower(trim(text)), '\s+'))
          END)::BIGINT AS dl,
         text
  FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL
), stats AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs, avg(dl) AS avgdl FROM base
), tf AS (
  SELECT id, dl, t, CAST(count(*) AS BIGINT) AS tf
  FROM (
    SELECT id, dl,
           unnest(string_split_regex(lower(trim(text)), '\s+')) AS t
    FROM base
  ) x
  WHERE t IN ({terms})
  GROUP BY id, dl, t
), dft AS (
  SELECT t, CAST(count(*) AS BIGINT) AS df_t FROM tf GROUP BY t
), bm25 AS (
  SELECT id AS doc_id,
         (round(sum(ln(1.0 + (n_docs - df_t + 0.5) / (df_t + 0.5))
                   * tf * CAST(2.2 AS DOUBLE)
                   / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))), 6) + 0.0) AS score,
         CAST(count(*) AS BIGINT) AS n_terms_hit
  FROM tf JOIN dft USING (t), stats
  GROUP BY id
  ORDER BY score DESC, doc_id
  LIMIT {top_k}
)"""


def _bm25_sql() -> str:
    return f"""
WITH {_bm25_core_sql(10)}
SELECT doc_id, score, n_terms_hit FROM bm25"""


HARD_NEG_FLOOR = 0.3


def _hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining (similarity.hard_negative_pairs): top-20
    cross-label highest-cosine pairs — the confusable examples a
    contrastive sampler should feed. Blocked-GEMM candidates with the
    margin floor; LSH is the documented swap above ~1e5 vectors."""
    emb = read_parquet_table(spark, sf_dir, "embeddings")
    return sim.hard_negative_pairs(emb, floor=HARD_NEG_FLOOR, top_k=20)


_HARD_NEG_SQL = f"""
WITH v AS (
  SELECT vec_id, label, list_transform(embedding, x -> x::DOUBLE) AS e
  FROM embeddings
), s AS (
  SELECT a.vec_id AS id1, b.vec_id AS id2,
         CAST(a.label AS BIGINT) AS label1, CAST(b.label AS BIGINT) AS label2,
         list_dot_product(a.e, b.e) /
         (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e)))
           AS cosine
  FROM v a JOIN v b ON a.vec_id < b.vec_id AND a.label <> b.label
)
SELECT id1, id2, label1, label2, (round(cosine, 6) + 0.0) AS cosine
FROM s WHERE cosine >= {HARD_NEG_FLOOR}
ORDER BY (round(cosine, 6) + 0.0) DESC, id1, id2
LIMIT 20"""


RRF_K = 60
RRF_POOL = 50


def _rrf_hybrid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval via Reciprocal Rank Fusion: the BM25 lexical
    top-50 and the embedding-cosine top-50 (query = vector 0, excluded
    from candidates) fuse as Σ 1/(60 + rank) — the standard
    sparse+dense combiner in RAG stacks. Ranks come from row_number
    windows over the two ≤50-row candidate frames (bounded by the
    constant pool size, never by data) on 6-dp-rounded scores, so both
    engines rank identically; a FULL OUTER join unions the lists."""
    from pyspark.sql import Window as W

    docs = read_parquet_table(spark, sf_dir, "documents")
    emb = read_parquet_table(spark, sf_dir, "embeddings")
    qvec = [
        float(x)
        for x in emb.where(F.col("vec_id") == 0)
        .select("embedding").collect()[0][0]
    ]
    lex = ts.bm25_topk(docs, "doc_id", "text", BM25_QUERY, top_k=RRF_POOL)
    sem = sim.embedding_query_topk(
        emb.where(F.col("vec_id") != 0), qvec, k=RRF_POOL
    )
    w_lex = W.orderBy(F.col("score").desc(), "doc_id")
    w_sem = W.orderBy(F.col("cosine").desc(), "id")
    l = lex.select(
        "doc_id", F.row_number().over(w_lex).cast("long").alias("lex_rank")
    )
    s = sem.select(
        F.col("id").alias("doc_id"),
        F.row_number().over(w_sem).cast("long").alias("sem_rank"),
    )
    rrf = F.coalesce(1.0 / (RRF_K + F.col("lex_rank")), F.lit(0.0)) + F.coalesce(
        1.0 / (RRF_K + F.col("sem_rank")), F.lit(0.0)
    )
    return (
        l.join(s, "doc_id", "full_outer")
        .select(
            "doc_id", "lex_rank", "sem_rank",
            F.round(rrf, 6).alias("rrf_score"),
        )
        .orderBy(F.col("rrf_score").desc(), "doc_id")
        .limit(10)
    )


def _rrf_sql() -> str:
    return f"""
WITH {_bm25_core_sql(RRF_POOL)}, lex AS (
  SELECT doc_id,
         row_number() OVER (ORDER BY score DESC, doc_id) AS lex_rank
  FROM bm25
), v AS (
  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS e
  FROM embeddings WHERE vec_id IS NOT NULL AND embedding IS NOT NULL
), q AS (
  SELECT e AS qe FROM v WHERE vec_id = 0
), sem0 AS (
  SELECT vec_id AS doc_id,
         (round(list_dot_product(e, qe)
               / (sqrt(list_dot_product(e, e)) * sqrt(list_dot_product(qe, qe))),
               6) + 0.0) AS cosine
  FROM v, q WHERE vec_id <> 0
  ORDER BY cosine DESC, doc_id LIMIT {RRF_POOL}
), sem AS (
  SELECT doc_id,
         row_number() OVER (ORDER BY cosine DESC, doc_id) AS sem_rank
  FROM sem0
)
SELECT coalesce(lex.doc_id, sem.doc_id) AS doc_id, lex_rank, sem_rank,
       (round(coalesce(1.0 / ({RRF_K} + lex_rank), 0.0)
             + coalesce(1.0 / ({RRF_K} + sem_rank), 0.0), 6) + 0.0) AS rrf_score
FROM lex FULL OUTER JOIN sem ON lex.doc_id = sem.doc_id
ORDER BY rrf_score DESC, doc_id
LIMIT 10"""


def _simpson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simpson's-paradox screen (profile.simpson_check): critical-
    priority vs other orders' fulfillment rate per order year, next to
    the pooled gap — flags years whose effect sign disagrees."""
    from whiterrabbit_spark.profile import simpson_check

    orders = read_parquet_table(spark, sf_dir, "orders")
    return simpson_check(
        orders,
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"),
        F.col("o_orderstatus") == "F",
        F.year("o_orderdate").cast("string"),
    )


_SIMPSON_SQL = """
WITH base AS (
  SELECT CAST(year(o_orderdate) AS VARCHAR) AS segment,
         CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
              THEN 1 ELSE 0 END AS x,
         CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
  FROM orders WHERE o_orderdate IS NOT NULL
), per_seg AS (
  SELECT segment, CAST(count(*) AS BIGINT) AS n,
         sum(x) AS n1, sum(x * y) AS y1,
         sum(1 - x) AS n0, sum((1 - x) * y) AS y0
  FROM base GROUP BY segment
), pooled AS (
  SELECT CASE WHEN sum(x) > 0 THEN sum(x * y) / CAST(sum(x) AS DOUBLE) END
         - CASE WHEN sum(1 - x) > 0
                THEN sum((1 - x) * y) / CAST(sum(1 - x) AS DOUBLE) END AS pd
  FROM base
)
SELECT segment, n,
       (round(CASE WHEN n1 > 0 THEN y1 / CAST(n1 AS DOUBLE) END, 6) + 0.0)
         AS rate_treated,
       (round(CASE WHEN n0 > 0 THEN y0 / CAST(n0 AS DOUBLE) END, 6) + 0.0)
         AS rate_control,
       (round(CASE WHEN n1 > 0 THEN y1 / CAST(n1 AS DOUBLE) END
             - CASE WHEN n0 > 0 THEN y0 / CAST(n0 AS DOUBLE) END, 6) + 0.0) AS diff,
       (round(pd, 6) + 0.0) AS pooled_diff,
       (sign((round(CASE WHEN n1 > 0 THEN y1 / CAST(n1 AS DOUBLE) END
              - CASE WHEN n0 > 0 THEN y0 / CAST(n0 AS DOUBLE) END, 6) + 0.0))
        * sign((round(pd, 6) + 0.0)) < 0) AS sign_flipped
FROM per_seg, pooled
ORDER BY segment"""


def _retrieval_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval eval closing the search family: precision@10, MRR and
    binary NDCG@10 for the BM25 list and the RRF hybrid list against a
    deterministic relevance set (documents containing ALL query terms).
    Both ranked lists are constant-k frames; relevance joins as a
    broadcast semi-set; each metric folds from exact ranks (log2
    discounts are the only doubles, rounded at 6dp)."""
    from pyspark.sql import Window as W

    docs = read_parquet_table(spark, sf_dir, "documents")
    rel = docs.where(
        F.col("doc_id").isNotNull()
        & F.col("text").isNotNull()
        & (F.size(
            F.array_intersect(
                F.array_distinct(ts.tokens(F.col("text"))),
                F.array(*[F.lit(t) for t in sorted(set(BM25_QUERY))]),
            )
        )
        == len(set(BM25_QUERY)))
    ).select(F.col("doc_id").alias("rel_id"))
    # the relevance set feeds three consumers (count + one semi-join
    # per ranked list); pinned so the corpus scan happens once
    rel = pin(rel, checkpoint=True)
    n_rel = rel.agg(F.count(F.lit(1)).alias("n_relevant"))

    def ranked(df: DataFrame, score_col: str, id_out: str) -> DataFrame:
        w = W.orderBy(F.col(score_col).desc(), id_out)
        return df.select(
            F.col(id_out).alias("doc_id"),
            F.row_number().over(w).cast("long").alias("rank"),
        )

    lists = {
        "bm25": ranked(
            ts.bm25_topk(docs, "doc_id", "text", BM25_QUERY, top_k=10),
            "score", "doc_id",
        ),
        "rrf": ranked(_rrf_hybrid(spark, sf_dir), "rrf_score", "doc_id"),
    }
    outs = []
    for name, lst in lists.items():
        tagged = lst.join(
            rel, lst["doc_id"] == rel["rel_id"], "left"
        ).select(
            "rank", F.col("rel_id").isNotNull().cast("int").alias("is_rel")
        )
        dcg = F.sum(
            F.col("is_rel") / F.log2(F.col("rank").cast("double") + 1.0)
        )
        mrr = F.max(
            F.when(F.col("is_rel") == 1, 1.0 / F.col("rank"))
        )
        hits = F.sum("is_rel")
        agg = tagged.agg(
            hits.alias("hits_at_10"), F.round(F.coalesce(mrr, F.lit(0.0)), 6).alias("mrr"),
            dcg.alias("__dcg"),
        )
        outs.append(
            agg.crossJoin(F.broadcast(n_rel)).select(
                F.lit(name).alias("system"),
                "n_relevant",
                "hits_at_10",
                (F.col("hits_at_10") / 10.0).alias("precision_at_10"),
                "mrr",
                F.col("__dcg").alias("__dcg"),
            )
        )
    res = outs[0]
    for o in outs[1:]:
        res = res.unionByName(o)
    # binary IDCG@10 = Σ_{i=1..min(R,10)} 1/log2(i+1); exact per row
    idcg = F.aggregate(
        F.sequence(F.lit(1), F.least(F.col("n_relevant"), F.lit(10)).cast("int")),
        F.lit(0.0),
        lambda acc, i: acc + 1.0 / F.log2(i.cast("double") + 1.0),
    )
    return res.select(
        "system", "n_relevant", "hits_at_10",
        F.round("precision_at_10", 6).alias("precision_at_10"),
        "mrr",
        F.round(
            F.when(F.col("n_relevant") > 0, F.col("__dcg") / idcg).otherwise(0.0), 6
        ).alias("ndcg_at_10"),
    ).orderBy("system")


def _retrieval_eval_sql() -> str:
    terms_arr = "[" + ", ".join(
        f"'{t}'" for t in sorted(set(BM25_QUERY))
    ) + "]"
    return rf"""
WITH {_bm25_core_sql(RRF_POOL)}, lex AS (
  SELECT doc_id,
         row_number() OVER (ORDER BY score DESC, doc_id) AS lex_rank
  FROM bm25
), v AS (
  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS e
  FROM embeddings WHERE vec_id IS NOT NULL AND embedding IS NOT NULL
), q AS (
  SELECT e AS qe FROM v WHERE vec_id = 0
), sem0 AS (
  SELECT vec_id AS doc_id,
         (round(list_dot_product(e, qe)
               / (sqrt(list_dot_product(e, e)) * sqrt(list_dot_product(qe, qe))),
               6) + 0.0) AS cosine
  FROM v, q WHERE vec_id <> 0
  ORDER BY cosine DESC, doc_id LIMIT {RRF_POOL}
), sem AS (
  SELECT doc_id,
         row_number() OVER (ORDER BY cosine DESC, doc_id) AS sem_rank
  FROM sem0
), fused AS (
  SELECT coalesce(lex.doc_id, sem.doc_id) AS doc_id,
         (round(coalesce(1.0 / ({RRF_K} + lex_rank), 0.0)
               + coalesce(1.0 / ({RRF_K} + sem_rank), 0.0), 6) + 0.0) AS rrf_score
  FROM lex FULL OUTER JOIN sem ON lex.doc_id = sem.doc_id
  ORDER BY rrf_score DESC, doc_id
  LIMIT 10
), bm25_10 AS (
  SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS rank
  FROM (SELECT * FROM bm25 ORDER BY score DESC, doc_id LIMIT 10) b
), rrf_10 AS (
  SELECT doc_id, row_number() OVER (ORDER BY rrf_score DESC, doc_id) AS rank
  FROM fused
), rel AS (
  SELECT doc_id AS rel_id FROM documents
  WHERE doc_id IS NOT NULL AND text IS NOT NULL
    AND list_has_all(string_split_regex(lower(trim(text)), '\s+'),
                     {terms_arr})
), n_rel AS (
  SELECT CAST(count(*) AS BIGINT) AS n_relevant FROM rel
), tagged AS (
  SELECT 'bm25' AS system, rank,
         CASE WHEN rel_id IS NOT NULL THEN 1 ELSE 0 END AS is_rel
  FROM bm25_10 LEFT JOIN rel ON doc_id = rel_id
  UNION ALL
  SELECT 'rrf', rank, CASE WHEN rel_id IS NOT NULL THEN 1 ELSE 0 END
  FROM rrf_10 LEFT JOIN rel ON doc_id = rel_id
), agg AS (
  SELECT system,
         CAST(sum(is_rel) AS BIGINT) AS hits_at_10,
         (round(coalesce(max(CASE WHEN is_rel = 1 THEN 1.0 / rank END), 0.0), 6) + 0.0)
           AS mrr,
         sum(is_rel / log2(CAST(rank AS DOUBLE) + 1.0)) AS dcg
  FROM tagged GROUP BY system
), idcg AS (
  SELECT n_relevant,
         coalesce(sum(1.0 / log2(CAST(i AS DOUBLE) + 1.0)), 0.0) AS v
  FROM n_rel
  LEFT JOIN (SELECT unnest(generate_series(1, 10)) AS i) js
    ON i <= least(n_relevant, 10)
  GROUP BY n_relevant
)
SELECT system, n_relevant, hits_at_10,
       (round(hits_at_10 / 10.0, 6) + 0.0) AS precision_at_10,
       mrr,
       (round(CASE WHEN n_relevant > 0 THEN dcg / v ELSE 0.0 END, 6) + 0.0)
         AS ndcg_at_10
FROM agg, idcg
ORDER BY system"""


def _variant_props_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same contract as json_props_rollup_events but through Spark 4's
    VARIANT path (semistructured.variant_field_rollup): parse_json →
    try_variant_get, the shredding-friendly semi-structured encoding."""
    from whiterrabbit_spark.extensions.semistructured import (
        variant_field_rollup,
    )

    ev = read_parquet_table(spark, sf_dir, "events")
    out = variant_field_rollup(ev, "props", "k", "event_type")
    return out.select(
        "event_type", "n_rows", "n_present", "min_val", "max_val",
        F.round("avg_val", R).alias("avg_val"), "distinct_vals",
    )


PYSOURCE_N = 100_000


def _pysource_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom Python Data Source scan (pysource.SyntheticDataSource,
    the Spark 4 ``spark.dataSource.register`` surface): read the
    deterministic synthetic table through the partition-parallel pure-
    Python reader, roll up per day. Ignores sf_dir — the source IS the
    data; the DuckDB oracle regenerates identical rows from
    generate_series with the same Knuth-hash formula."""
    from whiterrabbit_spark import pysource

    pysource.register(spark)
    df = (
        spark.read.format("wrs_synth")
        .option("n", PYSOURCE_N)
        .option("partitions", 16)
        .load()
    )
    return (
        df.groupBy("day")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("value").alias("sum_value"),
            F.min("id").alias("min_id"),
            F.max("id").alias("max_id"),
        )
        .orderBy("day")
    )


_PYSOURCE_SQL = f"""
SELECT i % 7 AS day, CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum((i * {2654435761}) % 1000) AS BIGINT) AS sum_value,
       min(i) AS min_id, max(i) AS max_id
FROM (SELECT unnest(generate_series(0, {PYSOURCE_N - 1})) AS i) t
GROUP BY 1 ORDER BY 1"""


def _streaming_pysource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING custom Python Data Source (Spark 4
    ``SimpleDataSourceStreamReader``): the same deterministic Knuth-
    hash table arrives as bounded micro-batches (offset = row position,
    any slice exactly replayable), drains through a complete-mode
    running rollup into a memory sink, and the final state must equal
    the batch answer — the oracle regenerates it from generate_series.
    Python micro-batch streams don't support Trigger.AvailableNow (it
    falls back to ONE batch), so the drain uses processAllAvailable —
    the offset stops advancing at n, which is exactly the
    caught-up condition it waits on."""
    import uuid

    from whiterrabbit_spark import pysource

    pysource.register(spark)
    stream = (
        spark.readStream.format("wrs_synth")
        .option("n", PYSOURCE_N)
        .option("rows_per_batch", PYSOURCE_N // 8)
        .load()
    )
    agg = stream.groupBy("day").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("value").alias("sum_value"),
        F.min("id").alias("min_id"),
        F.max("id").alias("max_id"),
    )
    name = f"wrs_pys_stream_{uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .start()
    )
    q.processAllAvailable()
    try:  # feed the streaming plan audit (best-effort, like the helper)
        from whiterrabbit_spark.extensions.streaming import (
            _LAST_STREAM_PLANS,
        )

        _LAST_STREAM_PLANS.append((name, q._jsq.explainInternal(True)))
    except Exception:
        pass
    q.stop()
    return spark.table(name).orderBy("day")


def _udtf_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 corpus trigrams via the Spark 4 Python UDTF lateral join
    (textstats.register_ngram_udtf) — the SQL-native form of n-gram
    mining through a user-defined TABLE function."""
    ts.register_ngram_udtf(spark)
    docs = read_parquet_table(spark, sf_dir, "documents")
    docs.createOrReplaceTempView("__udtf_docs")
    return spark.sql(
        """
        SELECT ngram, CAST(count(*) AS BIGINT) AS n
        FROM __udtf_docs, LATERAL ngrams_udtf(text, 3)
        GROUP BY ngram
        ORDER BY n DESC, ngram
        LIMIT 10"""
    )


_UDTF_TRIGRAMS_SQL = r"""
WITH toks AS (
  SELECT string_split_regex(lower(trim(text)), '\s+') AS t
  FROM documents WHERE text IS NOT NULL AND trim(text) <> ''
), ng AS (
  SELECT t[i] || ' ' || t[i + 1] || ' ' || t[i + 2] AS ngram
  FROM toks, LATERAL (
    SELECT unnest(generate_series(1, greatest(len(t) - 2, 0))) AS i
  ) js
)
SELECT ngram, CAST(count(*) AS BIGINT) AS n
FROM ng GROUP BY ngram
ORDER BY n DESC, ngram
LIMIT 10"""


def _drift_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drift attribution (profile.jsd_drift_by_group): o_totalprice's
    old-half vs new-half JSD per order priority — which segment's
    shape moved. Same epoch-midpoint split as psi/jsd_drift."""
    from whiterrabbit_spark.profile import jsd_drift_by_group

    orders = read_parquet_table(spark, sf_dir, "orders")
    ep = F.col("o_orderdate").cast("timestamp").cast("double")
    mid = orders.agg(((F.min(ep) + F.max(ep)) / 2.0).alias("m")).collect()[0]["m"]
    return jsd_drift_by_group(
        orders.where(ep < F.lit(mid)),
        orders.where(ep >= F.lit(mid)),
        "o_totalprice",
        "o_orderpriority",
        bins=10,
    )


_DRIFT_ATTR_SQL = """
WITH s AS (
  SELECT (epoch(min(o_orderdate)) + epoch(max(o_orderdate))) / 2.0 AS mid
  FROM orders
), tagged AS (
  SELECT o_totalprice::DOUBLE AS v,
         CAST(o_orderpriority AS VARCHAR) AS segment,
         epoch(o_orderdate) < (SELECT mid FROM s) AS is_ref
  FROM orders
  WHERE o_totalprice IS NOT NULL AND o_orderpriority IS NOT NULL
), bounds AS (
  SELECT min(v) AS lo, max(v) AS hi FROM tagged WHERE is_ref
), cnt AS (
  SELECT segment,
         CAST(least(greatest(floor((v - lo) /
           (CASE WHEN hi > lo THEN (hi - lo) / 10 ELSE 1.0 END)), 0), 9)
           AS INT) AS bucket,
         count(*) FILTER (is_ref) AS n_ref,
         count(*) FILTER (NOT is_ref) AS n_cur
  FROM tagged, bounds GROUP BY 1, 2
), pq AS (
  SELECT segment, n_ref, n_cur,
         n_ref / sum(n_ref) OVER (PARTITION BY segment) AS p,
         n_cur / sum(n_cur) OVER (PARTITION BY segment) AS q
  FROM cnt
)
SELECT segment,
       CAST(sum(n_ref) AS BIGINT) AS n_ref,
       CAST(sum(n_cur) AS BIGINT) AS n_cur,
       (round(sum((CASE WHEN n_ref > 0 THEN p * ln(p / ((p + q) / 2)) ELSE 0.0 END
                + CASE WHEN n_cur > 0 THEN q * ln(q / ((p + q) / 2)) ELSE 0.0 END)
                 / 2), 6) + 0.0) AS jsd,
       (round(sqrt(sum((sqrt(p) - sqrt(q)) * (sqrt(p) - sqrt(q))) / 2), 6) + 0.0)
         AS hellinger
FROM pq GROUP BY segment
ORDER BY jsd DESC, segment"""


FILE_REPORT_TABLES = ["customer", "lineitem", "orders"]
FILE_REPORT_TARGET = 1_000_000


def _file_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-files/compaction report (io.parquet_file_report) over the
    three biggest tables — per-file row spread from a metadata-cheap
    input_file_name() groupBy."""
    from whiterrabbit_spark.io import parquet_file_report

    return parquet_file_report(
        spark, sf_dir, FILE_REPORT_TABLES,
        target_rows_per_file=FILE_REPORT_TARGET,
    )


def _file_report_sql() -> str:
    # The driver's oracle sees TABLES as views (no filename column), so
    # the oracle pins the testdata's known one-file-per-table layout;
    # the multi-file grouping behavior itself is pinned by the tmpdir
    # unit test (test_parquet_file_report_multifile).
    parts = []
    for t in FILE_REPORT_TABLES:
        parts.append(f"""
SELECT '{t}' AS table_name,
       CAST(1 AS BIGINT) AS n_files,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(*) AS BIGINT) AS min_rows_file,
       CAST(count(*) AS BIGINT) AS max_rows_file,
       greatest(CAST(ceil(count(*) / {float(FILE_REPORT_TARGET)}) AS BIGINT),
                1) AS target_files,
       (1 > greatest(CAST(ceil(count(*) / {float(FILE_REPORT_TARGET)})
                          AS BIGINT), 1) * 4) AS needs_compaction
FROM {t}""")
    return "\nUNION ALL\n".join(parts) + "\nORDER BY table_name"


def _l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit (discovery.l_diversity): distinct market
    segments per (nationkey, acctbal-sign) quasi-identifier class —
    k-anonymity's sensitive-homogeneity sibling."""
    from whiterrabbit_spark.extensions.discovery import l_diversity

    cust = read_parquet_table(spark, sf_dir, "customer").withColumn(
        "bal_sign", F.signum("c_acctbal").cast("long")
    )
    return l_diversity(
        cust, ["c_nationkey", "bal_sign"], "c_mktsegment", l_threshold=2
    )


_L_DIVERSITY_SQL = """
WITH classes AS (
  SELECT c_nationkey, CAST(sign(c_acctbal) AS BIGINT) AS bal_sign,
         count(*) AS n,
         count(DISTINCT c_mktsegment) AS ldiv
  FROM customer WHERE c_mktsegment IS NOT NULL
  GROUP BY 1, 2
)
SELECT CAST(sum(n) AS BIGINT) AS n_rows,
       CAST(count(*) AS BIGINT) AS n_classes,
       CAST(min(ldiv) AS BIGINT) AS min_l,
       CAST(coalesce(sum(CASE WHEN ldiv < 2 THEN 1 ELSE 0 END), 0) AS BIGINT)
         AS n_classes_below_l,
       CAST(coalesce(sum(CASE WHEN ldiv < 2 THEN n ELSE 0 END), 0) AS BIGINT)
         AS n_rows_below_l,
       (round(sum(CASE WHEN ldiv = 1 THEN 1 ELSE 0 END) * 100.0 / count(*), 6) + 0.0)
         AS pct_homogeneous_classes,
       CAST(2 AS BIGINT) AS l
FROM classes"""


def _conformal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal interval + empirical coverage
    (profile.conformal_intervals): grouped-mean price predictor on
    l_quantity, 90% target, order-statistic q-hat from the calibration
    residual histogram."""
    from whiterrabbit_spark.profile import conformal_intervals

    li = read_parquet_table(spark, sf_dir, "lineitem")
    return conformal_intervals(
        li, "l_quantity", "l_extendedprice", "l_orderkey", alpha=0.1
    )


def _t_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness audit (discovery.t_closeness): per (nationkey,
    acctbal-sign) quasi-identifier class, the total-variation distance
    between the class's market-segment distribution and the global one
    — the distribution-leak check that k-anonymity and l-diversity
    both miss. Two bounded groupBys + one broadcast join; the oracle
    recomputes the same fold arithmetic relationally."""
    from whiterrabbit_spark.extensions.discovery import t_closeness

    cust = read_parquet_table(spark, sf_dir, "customer").withColumn(
        "bal_sign", F.signum("c_acctbal").cast("long")
    )
    return t_closeness(
        cust, ["c_nationkey", "bal_sign"], "c_mktsegment", t_threshold=0.25
    )


_T_CLOSENESS_SQL = """
WITH cells AS (
  SELECT c_nationkey, CAST(sign(c_acctbal) AS BIGINT) AS bal_sign,
         c_mktsegment AS seg, count(*) AS n_cv
  FROM customer WHERE c_mktsegment IS NOT NULL
  GROUP BY 1, 2, 3
),
gdist AS (
  SELECT seg, sum(n_cv) * 1.0 / (SELECT sum(n_cv) FROM cells) AS p_g
  FROM cells GROUP BY seg
),
cls AS (
  SELECT c_nationkey, bal_sign, sum(n_cv) AS n_c
  FROM cells GROUP BY 1, 2
),
pc AS (
  SELECT c.c_nationkey, c.bal_sign, max(cl.n_c) AS n_c,
         (sum(abs(c.n_cv * 1.0 / cl.n_c - g.p_g) - g.p_g) + 1.0) / 2.0
           AS tvd
  FROM cells c
  JOIN cls cl USING (c_nationkey, bal_sign)
  JOIN gdist g USING (seg)
  GROUP BY 1, 2
)
SELECT CAST(sum(n_c) AS BIGINT) AS n_rows,
       CAST(count(*) AS BIGINT) AS n_classes,
       (round(max(tvd), 6) + 0.0) AS max_tvd,
       (round(avg(tvd), 6) + 0.0) AS avg_tvd,
       CAST(sum(CASE WHEN tvd > 0.25 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_classes_above_t,
       CAST(sum(CASE WHEN tvd > 0.25 THEN n_c ELSE 0 END) AS BIGINT)
         AS n_rows_above_t,
       CAST(0.25 AS DOUBLE) AS t
FROM pc"""


_CONFORMAL_SQL = """
WITH base AS (
  SELECT l_quantity AS x,
         CAST((round(l_extendedprice * 100) + 0.0) AS BIGINT) AS y_e2,
         (('0x' || substr(md5(l_orderkey::VARCHAR || ':conformal'), 1, 15))
            ::BIGINT % 4) AS b
  FROM lineitem
  WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
    AND l_orderkey IS NOT NULL
), model AS (
  SELECT x, CAST(sum(y_e2) AS BIGINT) AS sy, CAST(count(*) AS BIGINT) AS ny
  FROM base WHERE b < 2 GROUP BY x
), cal AS (
  SELECT CASE WHEN ny IS NOT NULL
              THEN abs(y_e2 - CAST(sy AS DOUBLE) / ny) END AS r
  FROM base LEFT JOIN model USING (x) WHERE b = 2
), ev AS (
  SELECT CASE WHEN ny IS NOT NULL
              THEN abs(y_e2 - CAST(sy AS DOUBLE) / ny) END AS r
  FROM base LEFT JOIN model USING (x) WHERE b = 3
), kk AS (
  SELECT CAST(count(r) AS BIGINT) AS n_cal,
         least(greatest(((count(r) + 1) * 9 + 9) // 10, 1),
               greatest(count(r), 1)) AS k
  FROM cal
), q AS (
  SELECT min(r) AS q_e2 FROM (
    SELECT r, row_number() OVER (ORDER BY r) AS rn
    FROM cal WHERE r IS NOT NULL
  ) x, kk WHERE rn >= k
), tr AS (
  SELECT CAST(count(*) AS BIGINT) AS n_train FROM base WHERE b < 2
)
SELECT n_train,
       n_cal,
       CAST(count(r) AS BIGINT) AS n_eval,
       CAST(sum(CASE WHEN r IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_unpredicted,
       (round(q_e2 / 100.0, 6) + 0.0) AS q_hat,
       (round(sum(CASE WHEN r <= q_e2 THEN 1 ELSE 0 END) * 100.0
             / count(r), 6) + 0.0) AS coverage_pct,
       CAST(90.0 AS DOUBLE) AS target_pct
FROM ev, kk, q, tr
GROUP BY n_train, n_cal, q_e2"""


def _deletion_preview(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GDPR erasure impact preview (discovery.deletion_preview):
    subjects = customers with custkey % 97 == 0; cascade counts across
    customer → orders → lineitem (lineitem reaches the subject through
    its order)."""
    from whiterrabbit_spark.extensions.discovery import deletion_preview

    cust = read_parquet_table(spark, sf_dir, "customer")
    orders = read_parquet_table(spark, sf_dir, "orders")
    li = read_parquet_table(spark, sf_dir, "lineitem")
    keys = cust.where(F.col("c_custkey") % 97 == 0).select("c_custkey")
    li_bridged = li.join(
        orders.select("o_orderkey", "o_custkey"),
        F.col("l_orderkey") == F.col("o_orderkey"),
    )
    return deletion_preview(
        {"customer": cust, "orders": orders, "lineitem": li_bridged},
        {
            "customer": F.col("c_custkey"),
            "orders": F.col("o_custkey"),
            "lineitem": F.col("o_custkey"),
        },
        keys,
    )


_DELETION_PREVIEW_SQL = """
WITH keys AS (
  SELECT DISTINCT c_custkey AS k FROM customer WHERE c_custkey % 97 = 0
)
SELECT 'customer' AS table_name,
       (SELECT CAST(count(*) AS BIGINT) FROM customer) AS n_rows,
       (SELECT CAST(count(*) AS BIGINT) FROM customer
        WHERE c_custkey IN (SELECT k FROM keys)) AS n_affected,
       (round((SELECT count(*) FROM customer
              WHERE c_custkey IN (SELECT k FROM keys)) * 100.0
             / (SELECT count(*) FROM customer), 6) + 0.0) AS pct_affected
UNION ALL
SELECT 'orders',
       (SELECT CAST(count(*) AS BIGINT) FROM orders),
       (SELECT CAST(count(*) AS BIGINT) FROM orders
        WHERE o_custkey IN (SELECT k FROM keys)),
       (round((SELECT count(*) FROM orders
              WHERE o_custkey IN (SELECT k FROM keys)) * 100.0
             / (SELECT count(*) FROM orders), 6) + 0.0)
UNION ALL
SELECT 'lineitem',
       (SELECT CAST(count(*) AS BIGINT) FROM lineitem l
        JOIN orders o ON l_orderkey = o_orderkey),
       (SELECT CAST(count(*) AS BIGINT) FROM lineitem l
        JOIN orders o ON l_orderkey = o_orderkey
        WHERE o_custkey IN (SELECT k FROM keys)),
       (round((SELECT count(*) FROM lineitem l
              JOIN orders o ON l_orderkey = o_orderkey
              WHERE o_custkey IN (SELECT k FROM keys)) * 100.0
             / (SELECT count(*) FROM lineitem l
                JOIN orders o ON l_orderkey = o_orderkey), 6) + 0.0)
ORDER BY table_name"""


def _qte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile treatment effects (profile.quantile_treatment_effects)
    on per-customer 1997 spend, same md5 arms as cuped_orders — the
    distributional readout next to CUPED's adjusted mean."""
    from whiterrabbit_spark.profile import quantile_treatment_effects

    orders = read_parquet_table(spark, sf_dir, "orders")
    d = F.col("o_orderdate")
    return quantile_treatment_effects(
        orders,
        "o_custkey",
        F.round(F.col("o_totalprice")),
        (d >= F.lit("1997-01-01")) & (d < F.lit("1998-01-01")),
    )


def _qte_sql() -> str:
    # quantile_cont returns a 1-based array over [0.0, 0.1, ..., 0.9]:
    # index i+1 is the 0.1*i quantile
    decile_rows = "\nUNION ALL\n".join(
        f"""SELECT CAST({(round(0.1 * i, 1) + 0.0)} AS DOUBLE) AS q, n_a, n_b,
       (round(qa[{i + 1}], 6) + 0.0) AS q_a, (round(qb[{i + 1}], 6) + 0.0) AS q_b,
       (round(qa[{i + 1}] - qb[{i + 1}], 6) + 0.0) AS qte
FROM a, b"""
        for i in range(1, 10)
    )
    return f"""
WITH per_unit AS (
  SELECT o_custkey AS u,
         CAST(sum(CAST((round(o_totalprice) + 0.0) AS BIGINT)) AS BIGINT) AS y
  FROM orders
  WHERE o_custkey IS NOT NULL
    AND o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
    AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
  GROUP BY 1
), units AS (
  SELECT y,
         (('0x' || substr(md5(u::VARCHAR || ':cuped'), 1, 15))::BIGINT % 2)
           AS arm
  FROM per_unit
), a AS (
  SELECT CAST(count(*) AS BIGINT) AS n_a,
         quantile_cont(y, [0.0, 0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9])
           AS qa
  FROM units WHERE arm = 0
), b AS (
  SELECT CAST(count(*) AS BIGINT) AS n_b,
         quantile_cont(y, [0.0, 0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9])
           AS qb
  FROM units WHERE arm = 1
)
{decile_rows}
ORDER BY q"""


def _mde(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minimum detectable effect (profile.mde_report) for the standing
    A/B on per-customer 1997 spend — 80% power, 5% two-sided alpha,
    variances folded from exact integer moments."""
    from whiterrabbit_spark.profile import mde_report

    orders = read_parquet_table(spark, sf_dir, "orders")
    d = F.col("o_orderdate")
    return mde_report(
        orders,
        "o_custkey",
        F.round(F.col("o_totalprice")),
        (d >= F.lit("1997-01-01")) & (d < F.lit("1998-01-01")),
    )


_MDE_SQL = """
WITH per_unit AS (
  SELECT o_custkey AS u,
         CAST(sum(CAST((round(o_totalprice) + 0.0) AS BIGINT)) AS BIGINT) AS y
  FROM orders
  WHERE o_custkey IS NOT NULL
    AND o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
    AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
  GROUP BY 1
), units AS (
  SELECT y,
         (('0x' || substr(md5(u::VARCHAR || ':cuped'), 1, 15))::BIGINT % 2)
           AS arm
  FROM per_unit
), m AS (
  SELECT CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
         CAST(sum(CASE WHEN arm = 0 THEN y ELSE 0 END) AS BIGINT) AS sy_a,
         CAST(sum(CASE WHEN arm = 0 THEN y * y ELSE 0 END) AS BIGINT) AS syy_a,
         CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
         CAST(sum(CASE WHEN arm = 1 THEN y ELSE 0 END) AS BIGINT) AS sy_b,
         CAST(sum(CASE WHEN arm = 1 THEN y * y ELSE 0 END) AS BIGINT) AS syy_b
  FROM units
), v AS (
  SELECT n_a, n_b, sy_a, sy_b,
         CASE WHEN n_a > 1
              THEN (CAST(syy_a AS DOUBLE)
                    - CAST(sy_a AS DOUBLE) * CAST(sy_a AS DOUBLE)
                      / CAST(n_a AS DOUBLE)) / (CAST(n_a AS DOUBLE) - 1.0)
         END AS var_a,
         CASE WHEN n_b > 1
              THEN (CAST(syy_b AS DOUBLE)
                    - CAST(sy_b AS DOUBLE) * CAST(sy_b AS DOUBLE)
                      / CAST(n_b AS DOUBLE)) / (CAST(n_b AS DOUBLE) - 1.0)
         END AS var_b
  FROM m
)
SELECT n_a, n_b,
       (round((sy_a + sy_b) / (n_a + n_b), 6) + 0.0) AS mean_pooled,
       (round(sqrt(var_a), 6) + 0.0) AS sd_a,
       (round(sqrt(var_b), 6) + 0.0) AS sd_b,
       (round((1.959963984540054 + 0.8416212335729143)
             * sqrt(var_a / CAST(n_a AS DOUBLE)
                    + var_b / CAST(n_b AS DOUBLE)), 6) + 0.0) AS mde_abs,
       (round(CASE WHEN (sy_a + sy_b) / (n_a + n_b) > 0
                  THEN (1.959963984540054 + 0.8416212335729143)
                       * sqrt(var_a / CAST(n_a AS DOUBLE)
                              + var_b / CAST(n_b AS DOUBLE)) * 100.0
                       / ((sy_a + sy_b) / (n_a + n_b)) END, 6) + 0.0) AS mde_pct
FROM v"""


def _eb_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical-Bayes shrunk fulfillment rates per customer bucket
    (profile.eb_shrunk_rates): 500 deliberately-small segments so the
    beta-binomial prior visibly pulls noisy raw rates in."""
    from whiterrabbit_spark.profile import eb_shrunk_rates

    orders = read_parquet_table(spark, sf_dir, "orders")
    return eb_shrunk_rates(
        orders,
        F.col("o_orderstatus") == "F",
        F.col("o_custkey") % 500,
        top_k=20,
    )


_EB_RATES_SQL = """
WITH per_seg AS (
  SELECT CAST(o_custkey % 500 AS VARCHAR) AS segment,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT)
           AS y
  FROM orders WHERE o_custkey IS NOT NULL
  GROUP BY 1
), r AS (
  SELECT segment, n, y, y / CAST(n AS DOUBLE) AS rate FROM per_seg
), mom AS (
  SELECT avg(rate) AS m, var_samp(rate) AS v FROM r
), k AS (
  SELECT m,
         CASE WHEN v > 0 AND m > 0 AND m < 1 AND m * (1 - m) / v - 1 > 0
              THEN m * (1 - m) / v - 1 ELSE 0.0 END AS kappa
  FROM mom
)
SELECT segment, n, y AS n_success,
       (round(rate, 6) + 0.0) AS raw_rate,
       (round((y + m * kappa) / (n + kappa), 6) + 0.0) AS shrunk_rate,
       (round(kappa, 6) + 0.0) AS kappa
FROM r, k
ORDER BY shrunk_rate DESC, segment
LIMIT 20"""


def _seasonality_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonality strength of events.value against its hour×dow
    profile (profile.seasonality_strength) — the wire-the-monitors
    gate next to seasonality_events/dow_outliers_events."""
    from whiterrabbit_spark.profile import seasonality_strength

    ev = read_parquet_table(spark, sf_dir, "events")
    return seasonality_strength(ev, "ts", "value")


_SEASONALITY_STRENGTH_SQL = """
WITH base AS (
  SELECT dayofweek(ts) + 1 AS dow, hour(ts) AS hr, value::DOUBLE AS v
  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
), cells AS (
  SELECT dow, hr, avg(v) AS mu FROM base GROUP BY 1, 2
), resid AS (
  SELECT v, v - mu AS r FROM base JOIN cells USING (dow, hr)
), nc AS (
  SELECT CAST(count(*) AS BIGINT) AS n_cells FROM cells
)
SELECT CAST(count(*) AS BIGINT) AS n, n_cells,
       (round(var_pop(v), 6) + 0.0) AS var_total,
       (round(var_pop(r), 6) + 0.0) AS var_residual,
       (round(CASE WHEN var_pop(v) > 0
                  THEN greatest(0.0, 1.0 - var_pop(r) / var_pop(v)) END, 6) + 0.0)
         AS strength
FROM resid, nc
GROUP BY n_cells"""


def build_registry() -> tuple[dict[str, Callable], dict[str, str]]:
    """Registry order IS the driver's verification order: the correctness
    harness signs the first ~50 entries per round, in insertion order.
    Round 1 signed the original first 50 (profiling families + the first
    13 extensions — see CORRECTNESS_r01.json). This round therefore leads
    with the 50 highest-risk entries that have never had a driver-signed
    row, then the 7 close variants of a prefix sibling, then everything
    round 1 already signed (kept registered so the pytest oracle mirror —
    tests/test_entry_oracle.py — still exercises the full surface)."""
    queries: dict[str, Callable] = {}
    oracles: dict[str, str] = {}

    def _normalize_result_types(df: DataFrame) -> DataFrame:
        """Widen integral result columns to long and float to double, and
        normalize signed zero on every floating result column.

        The driver's correctness gate hashes result frames
        dtype-sensitively (the r2 hash-reds were DuckDB HUGEINT vs Spark
        long with bit-identical values). Registry results therefore use
        ONE integer type and ONE float type; the oracle SQL casts to
        BIGINT/DOUBLE to match (enforced by tests/test_oracle_types.py
        and the alignment assert in tests/test_entry_oracle.py).

        Signed zero (the r5 driver-red: ``cusum_changepoint_events``): a
        rounded double that cancels to ~0 can land on ``-0.0`` on one
        engine and ``+0.0`` on the other — ``==``-equal but repr-hash
        different. IEEE 754 round-to-nearest guarantees ``-0.0 + 0.0 =
        +0.0`` and ``x + 0.0 = x`` for every other x (NaN stays NaN), so
        adding a literal ``0.0`` to every double output (and every
        element of array<double> outputs) kills the whole class at the
        registry boundary; the oracle SQL mirrors it with
        ``(round(x, n) + 0.0) + 0.0`` at each rounding site. Value-preserving
        only — applied at registration so every builder stays written in
        its natural types.
        """
        def norm(col, dt):
            """(normalized_column, changed) — recurses through arrays,
            structs, and maps so nested doubles can't leak -0.0 past
            the boundary (they'd dodge the flat version AND the flat
            property scan — same blind spot on both sides)."""
            if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType)):
                return col.cast("long"), True
            if isinstance(dt, T.FloatType):
                return col.cast("double") + F.lit(0.0), True
            if isinstance(dt, T.DoubleType):
                return col + F.lit(0.0), True
            if isinstance(dt, T.ArrayType):
                _, ch = norm(F.lit(None).cast(dt.elementType),
                             dt.elementType)
                if ch:
                    return (
                        F.transform(
                            col, lambda x: norm(x, dt.elementType)[0]
                        ),
                        True,
                    )
                return col, False
            if isinstance(dt, T.MapType):
                _, kch = norm(F.lit(None).cast(dt.keyType), dt.keyType)
                _, vch = norm(F.lit(None).cast(dt.valueType), dt.valueType)
                out = col
                if kch:
                    out = F.transform_keys(
                        out, lambda k, _v: norm(k, dt.keyType)[0]
                    )
                if vch:
                    out = F.transform_values(
                        out, lambda _k, v: norm(v, dt.valueType)[0]
                    )
                return out, kch or vch
            if isinstance(dt, T.StructType):
                changed = any(
                    norm(F.lit(None).cast(f.dataType), f.dataType)[1]
                    for f in dt.fields
                )
                if changed:
                    rebuilt = F.struct(
                        *[
                            norm(col[f.name], f.dataType)[0].alias(f.name)
                            for f in dt.fields
                        ]
                    )
                    # struct(...) of a NULL struct yields a non-null
                    # struct of nulls; preserve top-level nullness.
                    return (
                        F.when(col.isNull(), F.lit(None)).otherwise(
                            rebuilt
                        ),
                        True,
                    )
                return col, False
            return col, False

        casts = {}
        for f in df.schema.fields:
            expr, changed = norm(F.col(f.name), f.dataType)
            if changed:
                casts[f.name] = expr
        return df.withColumns(casts) if casts else df

    def add(name: str, fn: Callable, sql: str | None) -> None:
        def wrapped(spark: SparkSession, sf_dir: str, _fn=fn) -> DataFrame:
            return _normalize_result_types(_fn(spark, sf_dir))

        queries[name] = wrapped
        if sql is not None:
            oracles[name] = sql

    # --- Block 1: the round-3 verification prefix — the 46 entries that
    # have never had a driver-signed CORRECTNESS row (r1 and r2 signed
    # the other 100 between them; the driver samples the first ~50 in
    # insertion order), followed by the four r2 hash-reds whose oracle
    # typing was fixed this round so the driver re-signs them green.
    # round 6 additions lead the prefix so the driver signs them first
    add("substring_scrub_documents", _substring_scrub,
        _substring_scrub_sql())
    add("ann_ivf_tuning_embeddings", _ann_ivf_tuning, _ANN_IVF_TUNING_SQL)
    add("decontamination_documents", _decontamination,
        _decontamination_sql())
    # round 4 additions next
    add("streaming_running_stats_events", _streaming_running_stats,
        _STREAMING_RUNNING_STATS_SQL)
    add("image_near_dups_documents", _image_near_dups,
        _IMAGE_NEAR_DUPS_SQL)
    add("image_keep_best_documents", _image_keep_best,
        _IMAGE_KEEP_BEST_SQL)
    add("audio_near_dups_documents", _audio_near_dups,
        _AUDIO_NEAR_DUPS_SQL)
    add("video_scene_cuts_documents", _video_scene_cuts,
        _VIDEO_SCENE_CUTS_SQL)
    add("shuffle_shards_documents", _shuffle_shards, _SHUFFLE_SHARDS_SQL)
    add("epoch_upsample_documents", _epoch_upsample, _epoch_upsample_sql())
    add("padding_efficiency_documents", _padding_efficiency,
        _padding_efficiency_sql())
    add("curriculum_stages_documents", _curriculum_stages,
        _curriculum_stages_sql())
    add("embedding_keep_best_embeddings", _embedding_keep_best,
        _embedding_keep_best_sql())
    add("json_schema_profile_events", _json_schema_profile,
        _JSON_SCHEMA_PROFILE_SQL)
    add("json_schema_drift_events", _json_schema_drift,
        _JSON_SCHEMA_DRIFT_SQL)
    add("audio_keep_best_documents", _audio_keep_best,
        _AUDIO_KEEP_BEST_SQL)
    add("video_near_dups_documents", _video_near_dups,
        _VIDEO_NEAR_DUPS_SQL)
    add("video_keep_best_documents", _video_keep_best,
        _VIDEO_KEEP_BEST_SQL)
    add("image_dims_profile_documents", _image_dims_profile,
        _IMAGE_DIMS_PROFILE_SQL)
    add("asof_join_forward_events", _asof_join_forward, _ASOF_FWD_SQL)
    add("zscore_lineitem", _zscore, _ZSCORE_SQL)
    add("events_multi_rollup", _events_multi_rollup, _MULTI_ROLLUP_SQL)
    add("range_moving_stats_events", _range_moving_stats, _RANGE_MOVING_SQL)
    add("psi_drift_orders", _psi_drift, _psi_sql())
    add("mad_outliers_orders", _mad_outliers, _MAD_SQL)
    add("fingerprint_documents", _fingerprint, _FINGERPRINT_SQL)
    add("streaming_sessionize_events", _streaming_sessionize,
        _STREAMING_SESSIONIZE_SQL)
    add("streaming_join_events", _streaming_join, _STREAMING_JOIN_SQL)
    add("cap_per_source_documents", _cap_per_source, _CAP_PER_SOURCE_SQL)
    add("table_diff_orders", _table_diff, _TABLE_DIFF_SQL)
    add("equi_depth_hist_lineitem", _equi_depth_hist, _EQUI_DEPTH_SQL)
    add("ecdf_orders", _ecdf, _ECDF_SQL)
    add("key_skew_orders", _key_skew, _KEY_SKEW_SQL)
    add("heuristic_filters_documents", _heuristic_filters,
        _heuristic_filters_sql())
    add("script_profile_documents", _script_profile, _script_profile_sql())
    add("ann_ivf_index_embeddings", _ann_ivf_index, _ANN_IVF_INDEX_SQL)
    add("robust_scale_lineitem", _robust_scale, _ROBUST_SCALE_SQL)
    add("bigram_perplexity_documents", _bigram_ppl, _BIGRAM_PPL_SQL)
    add("pack_manifest_documents", _pack_manifest, _PACK_MANIFEST_SQL)
    add("ks_drift_orders", _ks_drift, _KS_DRIFT_SQL)
    add("ecdf_attach_orders", _ecdf_attach, _ECDF_ATTACH_SQL)
    add("grouped_freq_documents", _grouped_freq, _GROUPED_FREQ_SQL)
    add("spearman_corr_lineitem", _spearman, _SPEARMAN_SQL)
    add("grouped_ols_lineitem", _grouped_ols, _GROUPED_OLS_SQL)
    add("mutual_info_orders", _mutual_info, _MUTUAL_INFO_SQL)
    add("benford_lineitem", _benford, _BENFORD_SQL)
    add("sequence_gaps_orders", _sequence_gaps, _SEQUENCE_GAPS_SQL)
    add("mask_profile_customer", _mask_profile, _MASK_PROFILE_SQL)
    add("resample_fill_events", _resample_fill, _RESAMPLE_FILL_SQL)
    add("scd2_history_orders", _scd2, _SCD2_SQL)
    add("quality_classifier_documents", _quality_classifier,
        _QUALITY_CLASSIFIER_SQL)
    add("incremental_profile_lineitem", _incremental_profile,
        _INCREMENTAL_PROFILE_SQL)
    add("keep_best_dedup_documents", _keep_best, _keep_best_sql())
    add("hist2d_lineitem", _hist2d, _HIST2D_SQL)
    add("streaming_psi_events", _streaming_psi, _STREAMING_PSI_SQL)
    add("containment_pairs_documents", _containment, _CONTAINMENT_SQL)
    add("bpe_learn_documents", _bpe_learn, _BPE_LEARN_SQL)
    add("kfold_split_documents", _kfold, _KFOLD_SQL)
    add("events_cube", _events_cube, _EVENTS_CUBE_SQL)
    add("semantic_dedup_embeddings", _semantic_dedup, None)
    add("pack_sequences_documents", _pack_sequences, _PACK_SEQUENCES_SQL)
    add("link_records_customer", _link_records, _LINK_RECORDS_SQL)
    add("chi2_drift_orders", _chi2_drift, _CHI2_DRIFT_SQL)
    add("temporal_split_events", _temporal_split, _TEMPORAL_SPLIT_SQL)
    add("join_cardinality_orders_customer", _join_cardinality,
        _JOIN_CARDINALITY_SQL)
    # the four r2 hash-reds (judge-verified value-identical; oracle
    # HUGEINT typing fixed this round) — positions 47-50 of the prefix
    add("corpus_report_documents", _corpus_report, _corpus_report_sql())
    add("functional_dependencies", _fd_checks, _FD_SQL)
    add("fk_coverage_orders_customer", _fk_coverage, _FK_COVERAGE_SQL)
    add("cramers_v_pairs", _cramers, _cramers_sql())

    # --- Block 1.5: new in round 3 (first in line for the r4 prefix;
    # pytest-oracle-verified meanwhile).
    add("streaming_dedup_events", _streaming_dedup, _STREAMING_DEDUP_SQL)
    add("grouped_quantiles_lineitem", _grouped_quantiles,
        _GROUPED_QUANTILES_SQL)
    add("missingness_patterns_events", _missingness_patterns,
        _MISSINGNESS_SQL)
    add("seasonality_events", _seasonality, _SEASONALITY_SQL)
    add("tokenizer_fertility_documents", _tokenizer_fertility,
        _FERTILITY_SQL)
    add("centroid_dispersion_embeddings", _centroid_dispersion,
        _CENTROID_DISPERSION_SQL)

    # --- Block 2: driver-signed in round 2 (CORRECTNESS_r02.json) —
    # kept registered for the full-registry pytest mirror.
    add("asof_join_events", _asof_join, _ASOF_SQL)
    add("star_rollup_revenue", _star_rollup, _STAR_SQL)
    add("funnel_events", _funnel, _funnel_sql())
    add("line_dedup_documents", _line_dedup, _LINE_DEDUP_SQL)
    add("dedup_clusters_documents", _dedup_clusters, _dedup_clusters_sql())
    add("dup_spans_documents", _dup_spans, _dup_spans_sql())
    add("dup_span_coverage_documents", _dup_span_coverage,
        _dup_span_coverage_sql())
    add("encoding_artifacts_documents", _encoding_artifacts,
        _encoding_artifacts_sql())
    add("attribution_decay_events", _attribution_decay,
        _attribution_decay_sql())
    add("nzv_screen_lineitem", _nzv_screen, _nzv_screen_sql())
    add("percentile_bands_events", _percentile_bands,
        _percentile_bands_sql())
    add("pack_shards_documents", _pack_shards, _PACK_SQL)
    add("hyperplane_near_pairs_embeddings", _hyperplane_near_pairs,
        _hyperplane_near_pairs_sql())
    add("streaming_topk_events", _streaming_topk, _STREAMING_TOPK_SQL)
    add("streaming_frequencies_events", _streaming_frequencies,
        _STREAMING_FREQ_SQL)
    add("range_join_events", _range_join, _RANGE_JOIN_SQL)
    add("grouped_profile_events", _grouped_profile, _grouped_profile_sql())
    add("moving_stats_events", _moving_stats, _MOVING_SQL)
    add("events_hourly_rollup", _events_rollup, _EVENTS_ROLLUP_SQL)
    add("cohort_retention_events", _cohort_retention, _COHORT_SQL)
    add("active_users_events", _active_users, _ACTIVE_USERS_SQL)
    add("event_pivot_events", _event_pivot, _EVENT_PIVOT_SQL)
    add("event_transitions_events", _event_transitions, _EVENT_TRANSITIONS_SQL)
    add("json_props_rollup_events", _json_props_rollup, _JSON_PROPS_SQL)
    add("multimodal_features_documents", _multimodal, _MULTIMODAL_SQL)
    add("lang_id_documents", _lang_id, _lang_id_sql())
    add("winnow_fingerprint_documents", _winnow, _WINNOW_SQL)
    add("repetition_signals_documents", _repetition, _REPETITION_SQL)
    add("chunk_documents", _chunk_docs, _CHUNK_SQL)
    add("embedding_stats_embeddings", _embedding_stats, _EMB_STATS_SQL)
    add("stratified_sample_documents", _strat_sample, _strat_sample_sql())
    add("novel_documents", _novel_docs, _NOVEL_SQL)
    add("histogram_lineitem", _histogram, _HIST_SQL)
    add("corr_matrix_lineitem", _corr, _corr_sql())
    add("outlier_counts_orders", _outliers, _outliers_sql())
    add("profile_drift_orders", _drift, _drift_sql())
    add("tfidf_top_terms_documents", _tfidf, _TFIDF_SQL)
    add("check_constraints_orders", _check_constraints, _CHECK_SQL)
    add("edit_distance_pairs_documents", _edit_distance_pairs, _EDIT_DIST_SQL)
    add("normalize_text_documents", _normalize_text, _NORMALIZE_SQL)
    add("vocab_coverage_documents", _vocab_coverage, _VOCAB_SQL)
    add("pmi_collocations_documents", _pmi, _PMI_SQL)
    add("winsorize_lineitem", _winsorize, _WINSORIZE_SQL)
    add("unigram_perplexity_documents", _unigram_ppl, _UNIGRAM_PPL_SQL)
    add("dup_ngram_stats_documents", _dup_ngram_stats, _DUP_NGRAM_SQL)
    add("decontaminate_documents", _decontam, _DECONTAM_SQL)
    add("temperature_mixture_documents", _temp_mixture, _TEMP_MIX_SQL)
    add("topk_quality_per_lang_documents", _topk_quality, _topk_quality_sql())
    add("pii_redact_documents", _pii_redact, _pii_sql())
    add("value_entropy_orders", _entropy, _entropy_sql())
    add("weighted_sample_documents", _weighted_sample, _WEIGHTED_SQL)
    add("leakage_safe_split_documents", _leakage_safe_split,
        _leakage_safe_split_sql())
    add("streaming_windowed_profile_events", _streaming_profile, _STREAMING_SQL)

    # --- Block 3: driver-signed in round 1 (CORRECTNESS_r01.json) —
    # original order, kept for the full-registry pytest mirror.
    for t in NUMERIC_COLS:
        add(f"summary_stats_{t}", _summary_stats(t), _summary_stats_sql(t))
    for t in STRING_COLS:
        add(f"counts_{t}", _counts(t), _counts_sql(t))
    for t, c in FREQ_TARGETS:
        add(f"freq_{t}_{c}", _freq(t, c), _freq_sql(t, c))
    for t in DATE_COLS:
        add(f"date_stats_{t}", _date_stats(t), _date_stats_sql(t))
    add("overview_tables", _overview, _overview_sql())
    for t in ("lineitem", "events", "orders", "customer", "part",
              "supplier", "nation", "region", "documents"):
        add(f"infer_types_{t}", _infer(t), _infer_sql(t))
    add("dedup_exact_documents", _dedup_exact, _DEDUP_EXACT_SQL)
    add("dedup_ngram_jaccard_documents", _dedup_ngram, _NGRAM_SQL)
    add("dedup_minhash_lsh_documents", _dedup_minhash, _minhash_sql())
    add("dedup_simhash_documents", _dedup_simhash, _simhash_sql())
    add("ann_cosine_topk_embeddings", _ann_cosine, _ANN_SQL)
    add("ann_hyperplane_lsh_embeddings", _ann_hyperplane, _ann_hyperplane_sql())
    add("dedup_embedding_cosine_embeddings", _embedding_near_dup,
        _EMB_NEAR_DUP_SQL)
    add("quality_score_documents", _quality_score, _quality_score_sql())
    add("token_count_bpe_documents", _bpe_tokens, _BPE_SQL)
    add("sessionize_events", _sessionize, _SESSIONIZE_SQL)
    add("curation_pipeline_documents", _curation_pipeline,
        _curation_pipeline_sql())
    add("dataset_split_documents", _dataset_split, _DATASET_SPLIT_SQL)
    add("text_stats_documents", _text_stats, _text_stats_sql())

    # --- Block 4: round-3 additions (registered after the signed
    # prefix; the pytest oracle mirror exercises them immediately and
    # the r4 driver sample picks them up).
    add("span_dedup_documents", _span_dedup, _SPAN_DEDUP_SQL)
    add("attribution_events", _attribution, _ATTRIBUTION_SQL)
    add("source_diversity_documents", _source_diversity,
        _SOURCE_DIVERSITY_SQL)
    add("mannwhitney_orders", _mannwhitney, _MANNWHITNEY_SQL)
    add("quantize_error_embeddings", _quantize_error, _QUANTIZE_SQL)
    add("embedding_pca_embeddings", _embedding_pca, _EMBEDDING_PCA_SQL)
    add("heavy_hitters_events", _heavy_hitters, _HEAVY_HITTERS_SQL)
    add("join_discovery_customer_orders", _join_discovery,
        _join_discovery_sql())
    add("k_anonymity_customer", _k_anonymity, _K_ANON_SQL)
    add("binned_mi_lineitem", _binned_mi, _BINNED_MI_SQL)
    add("session_paths_events", _session_paths, _SESSION_PATHS_SQL)
    add("cusum_changepoint_events", _cusum, _CUSUM_SQL)
    add("boilerplate_lines_documents", _boilerplate_lines, _BOILERPLATE_SQL)
    add("cross_source_dups_documents", _cross_source_dups,
        _CROSS_SOURCE_SQL)
    add("grouped_trimmed_mean_lineitem", _grouped_trimmed_mean,
        _TRIMMED_MEAN_SQL)
    add("item_associations_events", _item_associations, _ITEM_ASSOC_SQL)
    add("lifetime_survival_events", _lifetime_survival, _LIFETIME_SQL)
    add("whiten_embeddings_embeddings", _whiten_embeddings, _WHITEN_SQL)
    add("tpch_q1_lineitem", _tpch_q1, _TPCH_Q1_SQL)
    add("tpch_q3_pricing", _tpch_q3, _TPCH_Q3_SQL)
    add("gini_lineitem", _gini, _gini_sql())
    add("spearman_matrix_lineitem", _spearman_matrix,
        _spearman_matrix_sql())
    add("mi_ranking_orders", _mi_ranking, _mi_ranking_sql())
    add("qq_drift_orders", _qq_drift, _qq_drift_sql())
    add("tpch_q6_lineitem", _tpch_q6, _TPCH_Q6_SQL)
    add("running_zscore_events", _running_zscore, _RUNNING_Z_SQL)
    add("graph_triangles_lineitem", _graph_triangles, _GRAPH_TRIANGLES_SQL)
    add("ann_recall_embeddings", _ann_recall, _ann_recall_sql())
    add("bootstrap_ci_orders", _bootstrap_ci, _bootstrap_ci_sql())
    add("ab_test_orders", _ab_test, _ab_test_sql())
    add("zipf_fit_documents", _zipf_fit, _ZIPF_SQL)
    add("acf_events", _acf, _acf_sql())
    add("neyman_allocation_lineitem", _neyman, _NEYMAN_SQL)
    add("term_burstiness_documents", _term_burstiness, _BURSTINESS_SQL)
    add("graph_degree_lineitem", _graph_degree, _GRAPH_DEGREE_SQL)
    add("pagerank_lineitem", _pagerank, _pagerank_sql())

    # --- Block 5: the TPC-H-shaped join family (tpch.py) — semi/anti
    # joins, snowflake dims, conditional-aggregate ratios, HAVING
    # subqueries: the join topologies q1/q3/q6 didn't cover.
    from whiterrabbit_spark import tpch as TQ

    add("tpch_q4_semijoin", TQ.tpch_q4_semi, TQ.TPCH_Q4_SQL)
    add("tpch_q5_regional", TQ.tpch_q5_regional, TQ.TPCH_Q5_SQL)
    add("tpch_q7_nation_volume", TQ.tpch_q7_nation_volume, TQ.TPCH_Q7_SQL)
    add("tpch_q10_returns", TQ.tpch_q10_returns, TQ.TPCH_Q10_SQL)
    add("tpch_q14_promo", TQ.tpch_q14_promo, TQ.TPCH_Q14_SQL)
    add("tpch_q15_top_supplier", TQ.tpch_q15_top_supplier, TQ.TPCH_Q15_SQL)
    add("tpch_q18_large_orders", TQ.tpch_q18_large_orders, TQ.TPCH_Q18_SQL)
    add("tpch_q22_antijoin", TQ.tpch_q22_antijoin, TQ.TPCH_Q22_SQL)
    add("tpch_q2_min_cost_supplier", TQ.tpch_q2_min_cost_supplier,
        TQ.TPCH_Q2_SQL)
    add("tpch_q8_market_share", TQ.tpch_q8_market_share, TQ.TPCH_Q8_SQL)
    add("tpch_q9_product_profit", TQ.tpch_q9_product_profit, TQ.TPCH_Q9_SQL)
    add("tpch_q11_important_stock", TQ.tpch_q11_important_stock,
        TQ.TPCH_Q11_SQL)
    add("tpch_q12_late_lines", TQ.tpch_q12_late_lines, TQ.TPCH_Q12_SQL)
    add("tpch_q13_order_distribution", TQ.tpch_q13_order_distribution,
        TQ.TPCH_Q13_SQL)
    add("tpch_q16_supplier_count", TQ.tpch_q16_supplier_count,
        TQ.TPCH_Q16_SQL)
    add("tpch_q17_small_quantity", TQ.tpch_q17_small_quantity,
        TQ.TPCH_Q17_SQL)
    add("tpch_q19_disjunctive", TQ.tpch_q19_disjunctive, TQ.TPCH_Q19_SQL)
    add("tpch_q20_promo_suppliers", TQ.tpch_q20_promo_suppliers,
        TQ.TPCH_Q20_SQL)
    add("tpch_q21_waiting_orders", TQ.tpch_q21_waiting_orders,
        TQ.TPCH_Q21_SQL)
    add("pareto_concentration_orders", _pareto, _PARETO_SQL)
    add("rolling_distinct_users_events", _rolling_distinct,
        _ROLLING_DISTINCT_SQL)
    add("ewma_events", _ewma, _EWMA_SQL)
    add("token_cosine_pairs_documents", _token_cosine, _TOKEN_COSINE_SQL)
    add("segment_overlap_events", _segment_overlap, _SEGMENT_OVERLAP_SQL)
    add("table_checksum_orders", _table_checksum, _TABLE_CHECKSUM_SQL)
    add("cdc_apply_orders", _cdc_apply, _CDC_SQL)
    add("theil_sen_events", _theil_sen, _THEIL_SEN_SQL)
    add("negative_sampling_documents", _negative_sampling,
        _NEG_SAMPLING_SQL)
    add("srm_check_customer", _srm_check, _SRM_SQL)
    add("streaming_active_users_events", _streaming_active_users,
        _STREAMING_DAU_SQL)
    add("matryoshka_eval_embeddings", _matryoshka, _matryoshka_sql())
    add("ship_delay_orders", _ship_delay, _SHIP_DELAY_SQL)
    add("minhash_recall_documents", _minhash_recall, _minhash_recall_sql())
    add("layout_prune_lineitem", _layout_prune, _layout_prune_sql())
    add("balanced_sample_documents", _balanced_sample, _BALANCED_SAMPLE_SQL)
    add("zorder_layout_lineitem", _zorder_layout, _zorder_sql())
    add("woe_orders", _woe, _WOE_SQL)
    add("target_encode_orders", _target_encode, _TARGET_ENCODE_SQL)
    add("blocking_report_customer", _blocking_report, _BLOCKING_SQL)
    add("km_survival_events", _km_survival, _KM_SQL)
    add("impute_lineitem", _impute, _IMPUTE_SQL)
    add("merge_intervals_orders", _merge_intervals, _MERGE_INTERVALS_SQL)
    add("streaming_sliding_rate_events", _streaming_sliding_rate,
        _SLIDING_RATE_SQL)
    add("rolling_distinct_hll_events", _rolling_distinct_hll,
        _ROLLING_DISTINCT_HLL_SQL)
    add("nearest_centroid_embeddings", _nearest_centroid,
        _NEAREST_CENTROID_SQL)
    add("neyman_sample_lineitem", _neyman_sample, _NEYMAN_SAMPLE_SQL)
    add("lateness_profile_events", _lateness_profile, _LATENESS_SQL)
    add("wilson_ci_orders", _wilson_ci, _wilson_sql())
    add("concurrency_profile_events", _concurrency, _CONCURRENCY_SQL)
    add("rank_movers_events", _rank_movers, _RANK_MOVERS_SQL)
    add("apdex_events", _apdex, _APDEX_SQL)
    add("embedding_drift_embeddings", _embedding_drift,
        _EMBEDDING_DRIFT_SQL)
    add("forecast_eval_events", _forecast_eval, _forecast_eval_sql())
    add("lang_id_eval_documents", _lang_id_eval, _lang_id_eval_sql())
    add("dow_outliers_events", _dow_outliers, _DOW_OUTLIERS_SQL)
    add("grouped_theil_sen_events", _grouped_theil_sen,
        _GROUPED_THEIL_SEN_SQL)
    add("jsd_drift_orders", _jsd_drift, _jsd_sql())
    add("cuped_orders", _cuped, _CUPED_SQL)
    add("calibration_documents", _calibration, _calibration_sql())
    add("adamic_adar_lineitem", _adamic_adar, _ADAMIC_ADAR_SQL)
    add("funnel_timing_events", _funnel_timing, _funnel_timing_sql())
    add("cms_heavy_hitters_events", _cms_report, _CMS_SQL)
    add("kruskal_wallis_lineitem", _kruskal, _KRUSKAL_SQL)
    add("levene_lineitem", _levene, _LEVENE_SQL)
    add("interarrival_events", _interarrival, _INTERARRIVAL_SQL)
    add("bot_score_events", _bot_score, _BOT_SCORE_SQL)
    add("heaps_law_documents", _heaps, _HEAPS_SQL)
    add("bm25_search_documents", _bm25, _bm25_sql())
    add("hard_negatives_embeddings", _hard_negatives, _HARD_NEG_SQL)
    add("rrf_hybrid_documents", _rrf_hybrid, _rrf_sql())
    add("simpson_orders", _simpson, _SIMPSON_SQL)
    add("retrieval_eval_documents", _retrieval_eval, _retrieval_eval_sql())
    add("variant_props_rollup_events", _variant_props_rollup,
        _JSON_PROPS_SQL)
    add("pysource_synth_rollup", _pysource_rollup, _PYSOURCE_SQL)
    add("udtf_trigrams_documents", _udtf_trigrams, _UDTF_TRIGRAMS_SQL)
    add("drift_attribution_orders", _drift_attribution, _DRIFT_ATTR_SQL)
    add("file_report_tables", _file_report, _file_report_sql())
    add("l_diversity_customer", _l_diversity, _L_DIVERSITY_SQL)
    add("t_closeness_customer", _t_closeness, _T_CLOSENESS_SQL)
    add("dp_counts_orders", _dp_counts, _DP_COUNTS_SQL)
    add("readability_documents", _readability, _READABILITY_SQL)
    add("streaming_pysource_rollup", _streaming_pysource, _PYSOURCE_SQL)
    add("extremes_lineitem", _extremes, _EXTREMES_SQL)
    add("row_dups_orders", _row_dups, _ROW_DUPS_SQL)
    add("resample_interpolate_events", _resample_interpolate,
        _RESAMPLE_INTERP_SQL)
    add("var_es_orders", _var_es, _VAR_ES_SQL)
    add("rolling_corr_events", _rolling_corr, _ROLLING_CORR_SQL)
    add("code_detect_documents", _code_detect, _CODE_DETECT_SQL)
    add("twap_events", _twap, _TWAP_SQL)
    add("dup_weighted_size_documents", _dup_weighted_size,
        _DUP_WEIGHTED_SQL)
    add("skyline_lineitem", _skyline, _SKYLINE_SQL)
    add("generalization_advisor_customer", _generalization_advisor,
        _GENERALIZATION_SQL)
    add("centroid_matrix_embeddings", _centroid_matrix,
        _CENTROID_MATRIX_SQL)
    add("peak_detection_events", _peak_detection, _PEAK_DETECTION_SQL)
    add("rfm_segments_orders", _rfm_segments, _RFM_SQL)
    add("dedup_threshold_sweep_documents", _dedup_threshold_sweep,
        _DEDUP_SWEEP_SQL)
    add("hurst_exponent_events", _hurst, _HURST_SQL)
    add("bucket_join_orders", _bucket_join, _BUCKET_JOIN_SQL)
    add("theil_index_orders", _theil_index, _THEIL_INDEX_SQL)
    add("episode_pairs_events", _episode_pairs, _EPISODE_PAIRS_SQL)
    add("weighted_median_lineitem", _weighted_median, _WEIGHTED_MEDIAN_SQL)
    add("approx_quantile_gate_lineitem", _approx_quantile_gate,
        _APPROX_QUANTILE_GATE_SQL)
    add("ohlc_bars_events", _ohlc_bars, _OHLC_SQL)
    add("activity_streaks_events", _activity_streaks, _ACTIVITY_STREAKS_SQL)
    add("conformal_lineitem", _conformal, _CONFORMAL_SQL)
    add("deletion_preview_tables", _deletion_preview,
        _DELETION_PREVIEW_SQL)
    add("qte_orders", _qte, _qte_sql())
    add("mde_orders", _mde, _MDE_SQL)
    add("eb_rates_orders", _eb_rates, _EB_RATES_SQL)
    add("seasonality_strength_events", _seasonality_strength,
        _SEASONALITY_STRENGTH_SQL)

    # --- Round-4 verification prefix (driver signs the first ~50 rows
    # per round, in dict order): the entries new or changed this round
    # (streaming op, multimodal near-dup family, image/embedding
    # keep-best, curriculum staging, the rows-only -> oracle
    # conversions), then every oracle-backed entry that has NEVER
    # appeared in a driver CORRECTNESS sample (123 as of r4 —
    # CORRECTNESS_r01..r03 union is 146 signed names). Rounds 5-6
    # continue the rotation.
    # Reordering only permutes dict insertion order; every entry keeps
    # its builder and oracle.
    _R4_PREFIX = [
        "streaming_pysource_rollup",
        "extremes_lineitem",
        "row_dups_orders",
        "resample_interpolate_events",
        "var_es_orders",
        "rolling_corr_events",
        "code_detect_documents",
        "twap_events",
        "dup_weighted_size_documents",
        "skyline_lineitem",
        "generalization_advisor_customer",
        "centroid_matrix_embeddings",
        "peak_detection_events",
        "rfm_segments_orders",
        "dedup_threshold_sweep_documents",
        "hurst_exponent_events",
        "bucket_join_orders",
        "theil_index_orders",
        "episode_pairs_events",
        "weighted_median_lineitem",
        "streaming_topk_events",
        "approx_quantile_gate_lineitem",
        "ohlc_bars_events",
        "activity_streaks_events",
        "readability_documents",
        "dp_counts_orders",
        "t_closeness_customer",
        "streaming_running_stats_events",
        "image_near_dups_documents",
        "image_keep_best_documents",
        "curriculum_stages_documents",
        "embedding_keep_best_embeddings",
        "json_schema_profile_events",
        "json_schema_drift_events",
        "audio_keep_best_documents",
        "video_near_dups_documents",
        "video_keep_best_documents",
        "image_dims_profile_documents",
        "audio_near_dups_documents",
        "video_scene_cuts_documents",
        "rolling_distinct_hll_events",
        "shuffle_shards_documents",
        "epoch_upsample_documents",
        "padding_efficiency_documents",
        "pack_sequences_documents",
        "segment_overlap_events",
        "ann_ivf_index_embeddings",
        "streaming_dedup_events",
        "grouped_quantiles_lineitem",
        "missingness_patterns_events",
        "seasonality_events",
        "tokenizer_fertility_documents",
        "centroid_dispersion_embeddings",
        "span_dedup_documents",
        "attribution_events",
        "source_diversity_documents",
        "mannwhitney_orders",
        "quantize_error_embeddings",
        "heavy_hitters_events",
        "join_discovery_customer_orders",
        "k_anonymity_customer",
        "binned_mi_lineitem",
        "session_paths_events",
        "cusum_changepoint_events",
        "boilerplate_lines_documents",
        "cross_source_dups_documents",
        "grouped_trimmed_mean_lineitem",
        "item_associations_events",
        "lifetime_survival_events",
        "tpch_q1_lineitem",
        "tpch_q3_pricing",
        "gini_lineitem",
        "spearman_matrix_lineitem",
        "mi_ranking_orders",
        "qq_drift_orders",
        "tpch_q6_lineitem",
        "running_zscore_events",
        "graph_triangles_lineitem",
        "ann_recall_embeddings",
        "bootstrap_ci_orders",
        "ab_test_orders",
        "zipf_fit_documents",
        "acf_events",
        "neyman_allocation_lineitem",
        "term_burstiness_documents",
        "graph_degree_lineitem",
        "tpch_q4_semijoin",
        "tpch_q5_regional",
        "tpch_q7_nation_volume",
        "tpch_q10_returns",
        "tpch_q14_promo",
        "tpch_q15_top_supplier",
        "tpch_q18_large_orders",
        "tpch_q22_antijoin",
        "tpch_q2_min_cost_supplier",
        "tpch_q8_market_share",
        "tpch_q9_product_profit",
        "tpch_q11_important_stock",
        "tpch_q12_late_lines",
        "tpch_q13_order_distribution",
        "tpch_q16_supplier_count",
        "tpch_q17_small_quantity",
        "tpch_q19_disjunctive",
        "tpch_q20_promo_suppliers",
        "tpch_q21_waiting_orders",
        "pareto_concentration_orders",
        "rolling_distinct_users_events",
        "ewma_events",
        "token_cosine_pairs_documents",
        "table_checksum_orders",
        "cdc_apply_orders",
        "theil_sen_events",
        "negative_sampling_documents",
        "srm_check_customer",
        "streaming_active_users_events",
        "matryoshka_eval_embeddings",
        "ship_delay_orders",
        "minhash_recall_documents",
        "layout_prune_lineitem",
        "balanced_sample_documents",
        "zorder_layout_lineitem",
        "woe_orders",
        "target_encode_orders",
        "blocking_report_customer",
        "km_survival_events",
        "impute_lineitem",
        "merge_intervals_orders",
        "streaming_sliding_rate_events",
        "nearest_centroid_embeddings",
        "neyman_sample_lineitem",
        "lateness_profile_events",
        "wilson_ci_orders",
        "concurrency_profile_events",
        "rank_movers_events",
        "apdex_events",
        "embedding_drift_embeddings",
        "forecast_eval_events",
        "lang_id_eval_documents",
        "dow_outliers_events",
        "grouped_theil_sen_events",
        "jsd_drift_orders",
        "cuped_orders",
        "calibration_documents",
        "adamic_adar_lineitem",
        "funnel_timing_events",
        "cms_heavy_hitters_events",
        "kruskal_wallis_lineitem",
        "levene_lineitem",
        "interarrival_events",
        "bot_score_events",
        "heaps_law_documents",
        "bm25_search_documents",
        "hard_negatives_embeddings",
        "rrf_hybrid_documents",
        "simpson_orders",
        "retrieval_eval_documents",
        "variant_props_rollup_events",
        "pysource_synth_rollup",
        "udtf_trigrams_documents",
        "drift_attribution_orders",
        "file_report_tables",
        "l_diversity_customer",
        "conformal_lineitem",
        "deletion_preview_tables",
        "qte_orders",
        "mde_orders",
        "eb_rates_orders",
        "seasonality_strength_events",
    ]
    # --- Round-5 verification prefix (same contract as _R4_PREFIX):
    # first every entry NEW or materially CHANGED this round (the
    # exact-substring family, the oracle-converted pagerank, the
    # one-scan melts, the checkpointed layout advisor, the
    # star-contraction cluster consumers, the guard-touched near-dup
    # paths), then the ENTIRE never-driver-sampled oracle-backed
    # backlog (114 entries — everything absent from the union of
    # CORRECTNESS_r01..r04), so the driver's ~50 draws land on changed
    # + unseen entries, never on re-samples.
    _R5_PREFIX = [
        "dup_spans_documents",
        "dup_span_coverage_documents",
        "encoding_artifacts_documents",
        "attribution_decay_events",
        "percentile_bands_events",
        "nzv_screen_lineitem",
        "pagerank_lineitem",
        "gini_lineitem",
        "spearman_matrix_lineitem",
        "layout_prune_lineitem",
        "zorder_layout_lineitem",
        "dedup_clusters_documents",
        "keep_best_dedup_documents",
        "image_near_dups_documents",
        "audio_near_dups_documents",
        "hyperplane_near_pairs_embeddings",
        "embedding_keep_best_embeddings",
        "image_keep_best_documents",
        # never-sampled backlog, registry order
        "seasonality_events", "tokenizer_fertility_documents",
        "centroid_dispersion_embeddings", "span_dedup_documents",
        "attribution_events", "source_diversity_documents",
        "mannwhitney_orders", "quantize_error_embeddings",
        "heavy_hitters_events", "join_discovery_customer_orders",
        "k_anonymity_customer", "binned_mi_lineitem",
        "session_paths_events", "cusum_changepoint_events",
        "boilerplate_lines_documents", "cross_source_dups_documents",
        "grouped_trimmed_mean_lineitem", "item_associations_events",
        "lifetime_survival_events", "tpch_q1_lineitem", "tpch_q3_pricing",
        "mi_ranking_orders", "qq_drift_orders", "tpch_q6_lineitem",
        "running_zscore_events", "graph_triangles_lineitem",
        "ann_recall_embeddings", "bootstrap_ci_orders", "ab_test_orders",
        "zipf_fit_documents", "acf_events", "neyman_allocation_lineitem",
        "term_burstiness_documents", "graph_degree_lineitem",
        "tpch_q4_semijoin", "tpch_q5_regional", "tpch_q7_nation_volume",
        "tpch_q10_returns", "tpch_q14_promo", "tpch_q15_top_supplier",
        "tpch_q18_large_orders", "tpch_q22_antijoin",
        "tpch_q2_min_cost_supplier", "tpch_q8_market_share",
        "tpch_q9_product_profit", "tpch_q11_important_stock",
        "tpch_q12_late_lines", "tpch_q13_order_distribution",
        "tpch_q16_supplier_count", "tpch_q17_small_quantity",
        "tpch_q19_disjunctive", "tpch_q20_promo_suppliers",
        "tpch_q21_waiting_orders", "pareto_concentration_orders",
        "rolling_distinct_users_events", "ewma_events",
        "token_cosine_pairs_documents", "table_checksum_orders",
        "cdc_apply_orders", "theil_sen_events",
        "negative_sampling_documents", "srm_check_customer",
        "streaming_active_users_events", "matryoshka_eval_embeddings",
        "ship_delay_orders", "minhash_recall_documents",
        "balanced_sample_documents", "woe_orders", "target_encode_orders",
        "blocking_report_customer", "km_survival_events", "impute_lineitem",
        "merge_intervals_orders", "streaming_sliding_rate_events",
        "nearest_centroid_embeddings", "neyman_sample_lineitem",
        "lateness_profile_events", "wilson_ci_orders",
        "concurrency_profile_events", "rank_movers_events", "apdex_events",
        "embedding_drift_embeddings", "forecast_eval_events",
        "lang_id_eval_documents", "dow_outliers_events",
        "grouped_theil_sen_events", "jsd_drift_orders", "cuped_orders",
        "calibration_documents", "adamic_adar_lineitem",
        "funnel_timing_events", "cms_heavy_hitters_events",
        "kruskal_wallis_lineitem", "levene_lineitem", "interarrival_events",
        "bot_score_events", "heaps_law_documents", "bm25_search_documents",
        "hard_negatives_embeddings", "rrf_hybrid_documents",
        "simpson_orders", "retrieval_eval_documents",
        "variant_props_rollup_events", "pysource_synth_rollup",
        "udtf_trigrams_documents", "drift_attribution_orders",
        "file_report_tables", "l_diversity_customer", "conformal_lineitem",
        "deletion_preview_tables", "qte_orders", "mde_orders",
        "eb_rates_orders", "seasonality_strength_events",
    ]
    queries = {
        **{n: queries[n] for n in _R5_PREFIX if n in queries},
        **{n: q for n, q in queries.items() if n not in set(_R5_PREFIX)},
    }

    return queries, oracles
