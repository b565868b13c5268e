"""Scale-switch thresholds — the single source of truth (VERDICT r3 #6).

Every adaptive operator in the package picks between an "exact /
single-task / broadcast" plan and a "distributed / bucketed / merge"
plan at some cardinality. Those switch points used to live as magic
defaults scattered across profile.py and dedup.py; they are defined
here once, with the reasoning, and the function signatures reference
these constants. ``tests/test_docs_sync.py::test_scale_thresholds_single_source``
pins every consuming default to these values via ``inspect``.

The numbers are sized for a ~4 GiB-heap executor task (the common
cluster shape) and verified at local[32]; they are DEFAULTS, not laws —
every consumer takes the threshold as a parameter so a deployment can
retune without code changes.
"""

from __future__ import annotations

# A sorted/windowed pass over one task may buffer up to this many
# histogram rows (distinct values), ~16-24 bytes each → ≤ ~100 MB of
# task memory. At or below it, cumulative sums run as a plain ordered
# window over the |distinct|-row histogram; above it, the bucketed
# distributed prefix sum (extra shuffle + two broadcasts) takes over.
# Consumers (``max_single_reducer=``): profile.ecdf_lookup,
# mann_whitney_u, kruskal_wallis, conformal_intervals and km_survival
# (the ``distributed=`` switch of _hist_exclusive_prefix), rank_movers
# and textstats.zipf_fit (the one of distributed_row_number).
MAX_SINGLE_REDUCER: int = 4_000_000

# A broadcast side of this many rows is ≈ the 10 MB-per-row-ish
# autoBroadcastJoinThreshold budget scaled to rank frames (two numeric
# columns): below it the rank/ecdf attach joins broadcast; above it
# they fall back to a merge-hint sort-merge join. Consumers:
# profile.ecdf_attach / spearman rank attach
# (``max_broadcast_distinct=``).
MAX_BROADCAST_DISTINCT: int = 1_000_000

# Hottest-group size a single window task comfortably holds. The line
# dedup probe estimates the hottest line-digest's corpus-wide count
# from a 1% sample; at or below this the one-shuffle window plan wins,
# above it the algebraic min(struct) groupBy+join plan bounds any one
# task. Consumers: dedup.dedup_lines (``hot_digest_threshold=``).
HOT_DIGEST_THRESHOLD: int = 5_000_000

# Exact-vs-sketch auto switch for the profiling pipeline: the exact
# percentile/distinct path buffers one column's distinct multiset in a
# single reducer — measured ~170 s at 2 cols × 20M rows vs ~4 s for
# the sketch (BASELINE.md). 5M rows keeps exact well under that cliff
# while every oracle/test SF stays exact. Consumers: ScanConfig
# (``auto_approx_rows``) and profile.profile_table's tri-state
# ``approx=None`` resolution.
AUTO_APPROX_ROWS: int = 5_000_000

# Rows the approx (sketch) profile samples down to before sketching: at
# 1M values the sampling error on a 1st/99th-percentile rank is ~1e-4 —
# far inside the sketch accuracy — and the sketch insert cost stops
# scaling with the corpus. Consumer: profile._auto_approx_source.
APPROX_SAMPLE_ROWS: int = 1_000_000

# Coarse-quantizer fit: below this many training vectors the seeded
# spherical k-means runs DRIVER-SIDE in numpy (one collect of ~d×8
# bytes per row; 50k × 64-dim ≈ 25 MB) — a distributed MLlib fit costs
# 20+ scheduler round-trips that dwarf the arithmetic at this size
# (measured 6.5 s MLlib vs ~0.2 s numpy on 2k vectors). Above it, the
# MLlib path runs unchanged; at real corpus scale the quantizer should
# be fit on a sample anyway (``sample_fraction``), which is exactly how
# single-node ANN libraries train their coarse quantizers. Consumers:
# similarity.fit_spherical_centers (``driver_fit_threshold=``).
DRIVER_KMEANS_THRESHOLD: int = 50_000

# Coarse-quantizer AUTO-sampling (VERDICT r6 #3 / SCALE_r7 finding:
# the un-sampled MLlib fit was 90+ s of a 99 s tuning-curve run at a
# 250k-vector corpus): when no explicit ``sample_fraction`` is given,
# the fit trains on at most max(DRIVER_KMEANS_THRESHOLD, this ×
# n_lists) vectors. A coarse quantizer needs thousands of points per
# centroid — not the corpus — which is how FAISS/ScaNN-style libraries
# train IVF quantizers; everything downstream (assignment, probing,
# scoring) remains distributed over the FULL corpus. Consumers:
# similarity.fit_spherical_centers (``auto_train_per_list=``).
QUANTIZER_TRAIN_PER_LIST: int = 2_048

# LSH pair scoring plan switch: at or below this estimated vector-table
# size (n_vectors × dim × 8 B doubles) the near-pair scorer uses the
# fetch-join form (bare-id candidates, dedup, vectors attached by two
# EXPLICITLY-broadcast id-joins, each distinct pair scored once — 3.3×
# faster at bench scale); above it, in-bucket scoring (vectors ride the
# bucket shuffle once) — past broadcast scale the fetch form's second
# join shuffles a dim-wide array PER CANDIDATE (~260 GB at 500M
# candidates, OOM — SCALE_r7). The gate is BYTES, not rows (ADVICE r7):
# a row-count gate at 50k forced ~600 MB broadcasts for 1536-dim
# embeddings — driver collect + per-executor copy right below the
# switch. 26 MB keeps the measured 64-dim switch point at exactly 50k
# rows while high-dim corpora flip to in-bucket far earlier.
# Consumers: similarity.hyperplane_near_pairs.
LSH_FETCH_JOIN_MAX_BYTES: int = 50_000 * 64 * 8

# MinHash verify plan switch (r8): at or below this ESTIMATED aggregate
# array payload (candidates x 2 sides x avg shingle-set bytes) the
# exact-Jaccard verify attaches each doc's distinct-shingle ARRAY to
# the candidate pair and intersects map-side (two narrow joins, no
# giant exploded SMJ); above it, the inverted-index explode join runs
# instead (candidates x shingles rows, narrow but massive — the only
# shape that survives hyper-dup corpora whose candidate count dwarfs
# the corpus, the ~260 GB fetch-join lesson). Measured at 2M docs /
# 9.3M candidates (SCALE r8 base corpus): explode verify 206 s; the
# array form shuffles ~17 GB of set payload instead of a ~450M-row
# exploded SMJ + a 9.3M-group count agg. The gate is aggregate shuffle
# volume (spills gracefully), not a single-executor allocation.
# Consumers: dedup.minhash_dedup_pairs.
MINHASH_VERIFY_FETCH_MAX_BYTES: int = 64 * (1 << 30)

# Inverted-index pair scoring (ngram_jaccard_pairs / containment_pairs
# and their rollups): above this DOCUMENT count the banded candidate
# plan persists its two multiply-consumed subtrees — the df-annotated
# postings (read by both sides of the rare self-join and both hot
# probes; unpersisted, the groupBy(shingle) document-frequency
# aggregate re-executes 4-6x) and the rare-pair intersections (read by
# the hot candidate probe AND the final left join; unpersisted, the
# rare self-join — the operator's dominant exchange — runs twice).
# Plan-verified duplication; ReusedExchange does not cover it. At or
# below the gate the subtrees recompute instead: at bench scale the
# duplicated work is sub-second while caching flips the df-count and
# hot-probe joins from broadcast to sort-merge (an InMemoryRelation
# hides its size from the planner until materialized) — measured
# minhash_recall 8.4 -> 12.6 s at sf0.1 with the persists
# unconditional. Consumers: dedup._pair_intersections via
# ngram_jaccard_pairs / containment_pairs / cross_source_dup_matrix.
PAIR_INDEX_PERSIST_MIN_DOCS: int = 100_000
