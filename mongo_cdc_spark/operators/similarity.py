"""Similarity search over embeddings (SURVEY.md §2.3): brute-force
cosine top-k (the correctness baseline), threshold pairs, IVF-style
centroid assignment, and random-hyperplane LSH bucketing (the scale
paths).

Vectors are cast float→double once so the dot-product fold matches the
oracle bit-for-bit; results are rounded to 6 dp BEFORE ranking so the
rank order itself is reproducible across engines.

Scale design: brute-force is O(Q×N) and only sane when Q is small and
broadcastable (it is here: the query set broadcasts, candidates stream —
no shuffle at all). The 100 TB paths bound candidates per probe: IVF
compares each vector to K centroids (broadcast) and searches one cell;
LSH buckets on a signature key so the join carries (sig, id) pairs.
"""

from __future__ import annotations

import pandas as _pd
import pyarrow as _pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from mongo_cdc_spark.io import load_table
from mongo_cdc_spark.operators import make_registry

QUERIES, ORACLE, query = make_registry()

N_QUERIES = 5        # vec_id < 5 are the probe vectors
TOP_K = 5
PAIR_THRESHOLD = 0.3


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """embeddings with double-cast vector and precomputed L2 norm.

    PERSISTED: every similarity query references this frame 2-3×
    (signatures/probes/scoring sides), and the 64-element norm fold
    plus the parquet scan would otherwise re-run per reference. Same
    lineage → one cache entry across repeated driver calls.
    """
    from pyspark.storagelevel import StorageLevel

    vec = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    return (
        load_table(spark, sf_dir, "embeddings")
        .select("vec_id", "label", vec.alias("v"))
        .withColumn("norm", F.sqrt(_dot(F.col("v"), F.col("v"))))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )


def _dot(a, b) -> "F.Column":
    """Sequential left-fold dot product — same association as the
    oracle's list_dot_product, so doubles match bitwise. Interpreted
    (HOFs are CodegenFallback): kept for MODEL-grain frames (K
    centroids, K² grids) where a Python hop would cost more than the
    fold; data-grain sites use `_dot_arrow` below. One data-grain
    exception: `knn_bruteforce_cosine` scores its 5 probes × N corpus
    pairs with this fold, which measured faster than the Arrow hop
    (median of 10 interleaved runs on 4 cores: sf0.01 960 → 694 ms,
    sf0.1 900 → 771 ms; same value hash)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _list2d(a):
    """Arrow list<double> column → (n, dims) float64 ndarray, ZERO
    copies for the data buffer (flatten respects slice offsets).

    Raises ValueError unless every vector is non-null and of one
    width (the embeddings contract): a reshape alone would silently
    re-cut ragged rows into wrong vectors. The check reads only the
    validity count and the offsets buffer, O(rows)."""
    import numpy as np

    if a.null_count:
        raise ValueError(f"{a.null_count} null vector(s) in a fold input")
    widths = np.diff(np.asarray(a.offsets))
    if len(widths) and (widths != widths[0]).any():
        raise ValueError(
            f"ragged vectors in a fold input: widths "
            f"{widths.min()}..{widths.max()}")
    return np.asarray(a.flatten()).reshape(len(a), -1)


_DOT_ARROW = None


def _dot_arrow():
    """Arrow-vectorized twin of `_dot` (guide §4.2): one elementwise
    multiply-add per DIMENSION over the whole Arrow batch instead of
    two interpreted lambda dispatches per ELEMENT. The accumulation is
    the identical sequential left fold in float64 —
    acc_d = acc_{d-1} + a[d]*b[d] starting from 0.0, evaluated
    per-row by vectorized numpy ops — so every pair's result is
    BITWISE-equal to the HOF fold and to the oracle's
    list_dot_product (IEEE-754 addition order is preserved exactly;
    only the loop interpreter moved from per-element to per-dimension).
    Verified bitwise against the fold in tests/test_similarity.py and
    by the oracle hash of every calling query. arrow_udf, not
    pandas_udf: the list column stays a flat Arrow buffer (numpy view,
    no per-row ndarray materialization).

    Marked nondeterministic so the optimizer never duplicates the
    Python hop below a pushed filter (guide §4.4) — threshold filters
    over the returned score would otherwise evaluate the UDF twice
    (and pull it into join conditions, where Python eval is invalid).
    """
    global _DOT_ARROW
    if _DOT_ARROW is None:
        import numpy as np
        from pyspark.sql.functions import arrow_udf
        from pyspark.sql.types import DoubleType

        @arrow_udf(DoubleType())
        def dot_fold(a: _pa.Array, b: _pa.Array) -> _pa.Array:
            if not len(a):
                return _pa.array([], type=_pa.float64())
            A = _list2d(a)
            B = _list2d(b)
            acc = np.zeros(len(A), dtype=np.float64)
            for d in range(A.shape[1]):
                acc = acc + A[:, d] * B[:, d]
            return _pa.array(acc, type=_pa.float64())

        _DOT_ARROW = dot_fold.asNondeterministic()
    return _DOT_ARROW


_L2_ARROW = None


def _l2_arrow():
    """Arrow-vectorized twin of the sequential (x-y)² HOF fold (the
    Lloyd assignment distance): acc_d = acc_{d-1} + (a[d]-b[d])²
    from 0.0, per-dimension vectorized — bitwise-equal to the HOF fold
    and the oracle's list_sum(list_transform(...)). Nondeterministic
    for the same §4.4 reason as `_dot_arrow`."""
    global _L2_ARROW
    if _L2_ARROW is None:
        import numpy as np
        from pyspark.sql.functions import arrow_udf
        from pyspark.sql.types import DoubleType

        @arrow_udf(DoubleType())
        def l2_fold(a: _pa.Array, b: _pa.Array) -> _pa.Array:
            if not len(a):
                return _pa.array([], type=_pa.float64())
            A = _list2d(a)
            B = _list2d(b)
            acc = np.zeros(len(A), dtype=np.float64)
            for d in range(A.shape[1]):
                diff = A[:, d] - B[:, d]
                acc = acc + diff * diff
            return _pa.array(acc, type=_pa.float64())

        _L2_ARROW = l2_fold.asNondeterministic()
    return _L2_ARROW


def cosine(a, b, norm_a, norm_b) -> "F.Column":
    """Pair-grain cosine — Arrow-vectorized dot (bitwise-identical to
    the HOF fold, see `_dot_arrow`); division and 6-dp rounding stay
    JVM expressions so ROUND semantics are untouched."""
    return _dot_arrow()(a, b) / (norm_a * norm_b)


@query("knn_bruteforce_cosine", sql=f"""
    WITH e AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ), scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             ROUND(list_dot_product(q.v, c.v)
                   / (sqrt(list_dot_product(q.v, q.v))
                      * sqrt(list_dot_product(c.v, c.v))), 6) AS cos_sim
      FROM e q JOIN e c ON c.vec_id <> q.vec_id
      WHERE q.vec_id < {N_QUERIES}
    ), ranked AS (
      SELECT *, CAST(ROW_NUMBER() OVER (
               PARTITION BY query_id
               ORDER BY cos_sim DESC, neighbor_id) AS INT) AS rank
      FROM scored
    )
    SELECT query_id, neighbor_id, cos_sim, rank
    FROM ranked WHERE rank <= {TOP_K}
    ORDER BY query_id, rank
""")
def knn_bruteforce_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k: broadcast the probe set, stream the
    corpus once, per-group top-k via row_number on the ROUNDED score.

    Scale: no shuffle for scoring (broadcast nested loop); the only
    exchange is the tiny (Q × N → Q × k) window, which Spark's
    WindowGroupLimit collapses to per-partition heaps.
    """
    e = _emb(spark, sf_dir)
    q = (e.filter(F.col("vec_id") < N_QUERIES)
         .select(F.col("vec_id").alias("query_id"), F.col("v").alias("qv"),
                 F.col("norm").alias("qnorm")))
    c = e.select(F.col("vec_id").alias("neighbor_id"), "v", "norm")
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id",
                F.round(_dot(F.col("qv"), F.col("v"))
                        / (F.col("qnorm") * F.col("norm")), 6)
                 .alias("cos_sim"))
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cos_sim"),
                                          F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .orderBy("query_id", "rank")
    )


def _label_centroids(e: DataFrame) -> DataFrame:
    """(c_label, cv, cnorm): mean vector per label — the IVF coarse
    quantizer. posexplode → partial agg, one narrow shuffle of
    O(labels × 64) partial sums."""
    comp = (
        e.select("label", F.posexplode("v").alias("i", "x"))
        .groupBy("label", "i").agg(F.avg("x").alias("c"))
    )
    return (
        comp.groupBy(F.col("label").alias("c_label"))
        .agg(F.array_sort(F.collect_list(F.struct("i", "c"))).alias("pairs"))
        .select("c_label",
                F.transform("pairs", lambda p: p.getField("c")).alias("cv"))
        .withColumn("cnorm", F.sqrt(_dot(F.col("cv"), F.col("cv"))))
    )


def blocking_plan(e: DataFrame, tau: float) -> tuple:
    """(assigned, admissible) for the exact angular-blocked pair join —
    split out so tests can assert the pruning grid directly.

    assigned: (vec_id, v, norm, cluster, theta) — nearest-centroid
    assignment with residual angle, persisted (referenced by both join
    sides). admissible: (cl1, cl2) cluster pairs whose triangle-
    inequality lower bound ∠(c_i,c_j) − θmax_i − θmax_j leaves cos ≥ tau
    possible; every other cluster pair provably holds no qualifying
    vector pair."""
    from pyspark.storagelevel import StorageLevel

    arccos_tau = float(__import__("math").acos(tau))
    # PERSISTED: cent is referenced three times (assignment + both grid
    # sides) and is K×64 doubles — without the cache its two-shuffle
    # lineage re-runs per reference
    cent = _label_centroids(e).persist(StorageLevel.MEMORY_AND_DISK)
    # nearest-centroid assignment: broadcast K centroids, keep residual
    # angle; acos input clamped for fp safety at |cos|≈1
    w = W.partitionBy("vec_id").orderBy(F.desc("ccos"), F.asc("c_label"))
    assigned = (
        e.crossJoin(F.broadcast(cent))
        .select("vec_id", "v", "norm", "c_label",
                cosine(F.col("v"), F.col("cv"),
                       F.col("norm"), F.col("cnorm")).alias("ccos"))
        .withColumn("rn", F.row_number().over(w)).filter("rn = 1")
        .select("vec_id", "v", "norm", F.col("c_label").alias("cluster"),
                F.acos(F.least(F.lit(1.0), F.greatest(F.lit(-1.0),
                       F.col("ccos")))).alias("theta"))
    )
    assigned = assigned.persist(StorageLevel.MEMORY_AND_DISK)
    # K rows; persisted because both grid sides read it
    radius = (assigned.groupBy("cluster")
              .agg(F.max("theta").alias("tmax"))
              .persist(StorageLevel.MEMORY_AND_DISK))
    # centroid-pair angles; K×K grid is tiny (labels), both sides local
    c1 = cent.select(F.col("c_label").alias("cl1"), F.col("cv").alias("cv1"),
                     F.col("cnorm").alias("cn1"))
    c2 = cent.select(F.col("c_label").alias("cl2"), F.col("cv").alias("cv2"),
                     F.col("cnorm").alias("cn2"))
    r1 = radius.select(F.col("cluster").alias("cl1"), F.col("tmax").alias("t1"))
    r2 = radius.select(F.col("cluster").alias("cl2"), F.col("tmax").alias("t2"))
    # full (ordered) K×K grid: id1<id2 does not order the clusters, so
    # both (i,j) and (j,i) must be admissible rows
    admissible = (
        c1.crossJoin(F.broadcast(c2))
        .select("cl1", "cl2",
                F.acos(F.least(F.lit(1.0), F.greatest(F.lit(-1.0),
                       _dot(F.col("cv1"), F.col("cv2"))
                       / (F.col("cn1") * F.col("cn2"))))).alias("cangle"))
        .join(F.broadcast(r1), "cl1").join(F.broadcast(r2), "cl2")
        .filter(F.col("cangle") - F.col("t1") - F.col("t2")
                <= F.lit(arccos_tau))
        .select("cl1", "cl2")
    )
    return assigned, admissible


def blocked_threshold_pairs(e: DataFrame, tau: float) -> DataFrame:
    """EXACT cosine-threshold pairs (id1 < id2, cos ≥ tau) WITHOUT an
    unbounded all-pairs join: IVF centroid blocking pruned by the
    angular triangle inequality.

    Every vector is assigned to its nearest label centroid (broadcast
    K), keeping its residual angle θ_v = ∠(v, c). For clusters (i, j),
    any members a∈i, b∈j satisfy ∠(a,b) ≥ ∠(c_i,c_j) − θmax_i − θmax_j
    (angular distance is a metric on the sphere), so a cluster pair
    whose lower bound exceeds arccos(tau) provably contains NO
    qualifying pair and is pruned BEFORE any vectors meet. Candidates
    flow through an equi-join on the admissible (cluster_i, cluster_j)
    list — a broadcast of at most K² tiny rows — then exact cosine
    verifies each candidate. Complete by construction (the bound never
    prunes a true pair), so the exact all-pairs SQL stays the oracle.

    Scale: shuffle keys are cluster ids; cost is Σ_admissible |i|·|j|.
    On clustered real-world embeddings (near-dup regimes, tau ≥ 0.9 and
    tight residuals) most of the K² grid prunes away; on isotropic data
    (this fixture) the bound admits everything and the query degrades
    gracefully to a verified block join — the documented worst case,
    with tests/test_similarity.py proving the pruning mechanism on a
    clustered synthetic fixture."""
    assigned, admissible = blocking_plan(e, tau)
    a = assigned.select(F.col("vec_id").alias("id1"), F.col("v").alias("v1"),
                        F.col("norm").alias("n1"),
                        F.col("cluster").alias("cluster1"))
    b = assigned.select(F.col("vec_id").alias("id2"), F.col("v").alias("v2"),
                        F.col("norm").alias("n2"),
                        F.col("cluster").alias("cluster2"))
    return (
        a.join(F.broadcast(admissible), F.col("cluster1") == F.col("cl1"))
        .join(b, (F.col("cluster2") == F.col("cl2"))
              & (F.col("id1") < F.col("id2")))
        .withColumn("cos_sim",
                    F.round(cosine(F.col("v1"), F.col("v2"),
                                   F.col("n1"), F.col("n2")), 6))
        .filter(F.col("cos_sim") >= tau)
        .select("id1", "id2", "cos_sim")
    )


@query("similarity_threshold_pairs", sql=f"""
    WITH e AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ), pairs AS (
      SELECT a.vec_id AS id1, b.vec_id AS id2,
             ROUND(list_dot_product(a.v, b.v)
                   / (sqrt(list_dot_product(a.v, a.v))
                      * sqrt(list_dot_product(b.v, b.v))), 6) AS cos_sim
      FROM e a JOIN e b ON a.vec_id < b.vec_id
    )
    SELECT id1, id2, cos_sim FROM pairs
    WHERE cos_sim >= {PAIR_THRESHOLD}
    ORDER BY id1, id2
""")
def similarity_threshold_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All pairs with cosine ≥ τ — embedding near-dup detection.

    EXACT result via the blocked candidate path (IVF centroid blocking
    + angular triangle-inequality pruning — blocked_threshold_pairs):
    no unbounded all-pairs join is registered, and the all-pairs SQL
    stays the oracle precisely because the blocking is provably
    complete.
    """
    e = _emb(spark, sf_dir)
    return (blocked_threshold_pairs(e, PAIR_THRESHOLD)
            .orderBy("id1", "id2"))


@query("knn_ivf_centroid", sql="""
    WITH e AS (
      SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
    ), comp AS (
      SELECT label, g.i AS i, AVG(v[g.i]) AS c
      FROM e, generate_series(1, 64) g(i)
      GROUP BY label, g.i
    ), cent AS (
      SELECT label AS c_label, list(c ORDER BY i) AS cv FROM comp GROUP BY label
    ), assigned AS (
      SELECT e.vec_id, e.label,
             ROUND(list_dot_product(e.v, cent.cv)
                   / (sqrt(list_dot_product(e.v, e.v))
                      * sqrt(list_dot_product(cent.cv, cent.cv))), 6) AS cos_sim,
             cent.c_label
      FROM e CROSS JOIN cent
    ), best AS (
      SELECT vec_id, label, c_label,
             ROW_NUMBER() OVER (PARTITION BY vec_id
                                ORDER BY cos_sim DESC, c_label) AS rn
      FROM assigned
    )
    SELECT label, COUNT(*) AS n_vecs,
           CAST(SUM(CASE WHEN c_label = label THEN 1 ELSE 0 END) AS BIGINT)
             AS n_assigned_home
    FROM best WHERE rn = 1
    GROUP BY label ORDER BY label
""")
def knn_ivf_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF building block: label-seeded centroids (mean vector per
    label), assign every vector to its nearest centroid, report how many
    land on their home cluster.

    Scale: centroid construction is one shuffle on (label, dim) —
    K×dim rows out; assignment broadcasts the K centroids and streams
    the corpus once (no shuffle). This is exactly the IVF probe-cell
    selection step for ANN at 100 TB: N×K comparisons, never N².
    """
    e = _emb(spark, sf_dir)
    # centroids via posexplode → avg per (label, position) → re-assemble
    comp = (
        e.select("label", F.posexplode("v").alias("i", "x"))
        .groupBy("label", "i").agg(F.avg("x").alias("c"))
    )
    cent = (
        comp.groupBy(F.col("label").alias("c_label"))
        .agg(F.array_sort(F.collect_list(F.struct("i", "c"))).alias("pairs"))
        .select("c_label",
                F.transform("pairs", lambda p: p.getField("c")).alias("cv"))
        .withColumn("cnorm", F.sqrt(_dot(F.col("cv"), F.col("cv"))))
    )
    assigned = (
        e.crossJoin(F.broadcast(cent))
        .select("vec_id", "label", "c_label",
                F.round(cosine(F.col("v"), F.col("cv"),
                               F.col("norm"), F.col("cnorm")), 6)
                 .alias("cos_sim"))
    )
    w = W.partitionBy("vec_id").orderBy(F.desc("cos_sim"), F.asc("c_label"))
    best = assigned.withColumn("rn", F.row_number().over(w)).filter("rn = 1")
    return (
        best.groupBy("label")
        .agg(F.count(F.lit(1)).alias("n_vecs"),
             F.sum(F.when(F.col("c_label") == F.col("label"), 1)
                   .otherwise(0)).alias("n_assigned_home"))
        .orderBy("label")
    )


_N_PLANES = 4   # bits per table → 16 buckets/table
_N_TABLES = 8   # independent tables; candidate set = union of buckets


def _plane_signs(seed: int, dims: int = 64) -> list[float]:
    """Deterministic ±1 hyperplane components (md5 parity of (seed, d))
    — computed driver-side so the plan carries 1 literal array per
    plane instead of 64 hash expressions (which made the expression
    tree so large that codegen/planning dominated the runtime)."""
    import hashlib
    return [
        1.0 if hashlib.md5(f"{seed}:{d}".encode()).digest()[0] % 2 == 0
        else -1.0
        for d in range(dims)
    ]


def _lsh_sigs_udf():
    """All 32 plane projections as ONE Arrow-batched matmul: returns an
    8-element array (one 4-bit bucket signature per table) per vector.

    A built-in-function version (zip_with + aggregate per plane) is
    expressible but evaluates 32 separate per-element lambda folds per
    row (~2048 closure evaluations/vector); a single n x 64 @ 64 x 32
    BLAS matmul per Arrow batch is measurably faster even at fixture
    scale and orders of magnitude faster per-row at 100 TB. Verified
    bit-identical to the fold version. The sign matrix regenerates
    deterministically on every executor — no model state to ship."""
    import numpy as np
    from pyspark.sql.types import ArrayType, IntegerType

    S = np.array([_plane_signs(t * _N_PLANES + p)
                  for t in range(_N_TABLES)
                  for p in range(_N_PLANES)]).T          # dims x 32
    bitw = 1 << (np.arange(_N_TABLES * _N_PLANES) % _N_PLANES)

    @F.pandas_udf(ArrayType(IntegerType()))
    def lsh_sigs(v: _pd.Series) -> _pd.Series:
        X = np.vstack(v.to_numpy())                      # n x dims
        bits = (X @ S > 0).astype(np.int64)              # n x 32
        sigs = ((bits * bitw)
                .reshape(len(bits), _N_TABLES, _N_PLANES).sum(axis=2))
        return _pd.Series(list(sigs.astype(np.int32)))

    return lsh_sigs


def _lsh_oracle_sql() -> str:
    """DuckDB replica of the full hyperplane-LSH pipeline. The ±1 plane
    components are deterministic md5-parity constants generated
    driver-side (_plane_signs), so the SAME matrices are embedded here
    as list literals — signatures, bucket join, dedup, exact rescoring
    and ranking are all replayed in SQL and hash-compared, making the
    'approximate' query exactly checkable."""
    sig_selects = "\n      UNION ALL ".join(
        "SELECT vec_id, {t} AS table_id, {bits} AS sig FROM e".format(
            t=t,
            bits=" + ".join(
                f"(CASE WHEN list_dot_product(v, {_plane_signs(t * _N_PLANES + p)})"
                f" > 0 THEN {1 << p} ELSE 0 END)"
                for p in range(_N_PLANES)))
        for t in range(_N_TABLES))
    return f"""
    WITH e AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ), sigs AS (
      {sig_selects}
    ), probe AS (
      SELECT vec_id AS query_id, table_id, sig FROM sigs
      WHERE vec_id < {N_QUERIES}
    ), cand AS (
      SELECT DISTINCT p.query_id, s.vec_id AS neighbor_id
      FROM sigs s JOIN probe p
        ON s.table_id = p.table_id AND s.sig = p.sig
      WHERE s.vec_id <> p.query_id
    ), scored AS (
      SELECT c.query_id, c.neighbor_id,
             ROUND(list_dot_product(q.v, n.v)
                   / (sqrt(list_dot_product(q.v, q.v))
                      * sqrt(list_dot_product(n.v, n.v))), 6) AS cos_sim
      FROM cand c
      JOIN e q ON q.vec_id = c.query_id
      JOIN e n ON n.vec_id = c.neighbor_id
    ), ranked AS (
      SELECT *, CAST(ROW_NUMBER() OVER (
               PARTITION BY query_id
               ORDER BY cos_sim DESC, neighbor_id) AS INT) AS rank
      FROM scored
    )
    SELECT query_id, neighbor_id, cos_sim, rank
    FROM ranked WHERE rank <= {TOP_K}
    ORDER BY query_id, rank
    """


@query("knn_lsh_hyperplane", sql=_lsh_oracle_sql())
def knn_lsh_hyperplane(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-table random-hyperplane LSH: 8 independent 4-plane tables;
    a pair is a candidate if it shares a bucket in ANY table (for
    neighbors at cosine θ, P(miss) = (1-(1-θ/π)^4)^8 — tests hold recall
    ≥0.6 vs brute force at fixture scale).

    Oracle: the hyperplanes are deterministic constants, so DuckDB
    replays the identical signature/bucket/rescore pipeline
    (_lsh_oracle_sql) — the sign bits only depend on fp rounding when a
    projection is ~0, which the fixture's vectors never are.

    Scale: signatures are a narrow one-pass projection; the bucket join
    key is (table, 4-bit sig); probes broadcast; candidate pairs dedup
    BEFORE scoring so each pair pays the 64-dim dot product once. Each
    probe touches ~T·N/16 candidates, never N².
    """
    from pyspark.storagelevel import StorageLevel

    e = _emb(spark, sf_dir)
    # (vec_id, table_id, sig) — one row per vector per table; persisted
    # because probe_sigs below is a filter of this same frame and the
    # 8×4 hyperplane dot products must not be recomputed per reference
    sigs = e.select(
        "vec_id",
        F.posexplode(_lsh_sigs_udf()(F.col("v")))
         .alias("table_id", "sig")).persist(StorageLevel.MEMORY_AND_DISK)
    probe_sigs = (sigs.filter(F.col("vec_id") < N_QUERIES)
                  .select(F.col("vec_id").alias("query_id"),
                          F.col("table_id").alias("qtable"),
                          F.col("sig").alias("qsig")))
    candidates = (
        sigs.join(F.broadcast(probe_sigs),
                  (F.col("table_id") == F.col("qtable"))
                  & (F.col("sig") == F.col("qsig")))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"))
        .distinct()
    )
    probes = (e.filter(F.col("vec_id") < N_QUERIES)
              .select(F.col("vec_id").alias("query_id"),
                      F.col("v").alias("qv"), F.col("norm").alias("qnorm")))
    scored = (
        e.join(F.broadcast(candidates),
               F.col("vec_id") == F.col("neighbor_id"))
        .join(F.broadcast(probes), "query_id")
        .select("query_id", "neighbor_id",
                F.round(cosine(F.col("qv"), F.col("v"),
                               F.col("qnorm"), F.col("norm")), 6)
                 .alias("cos_sim"))
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cos_sim"),
                                          F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .orderBy("query_id", "rank")
    )


@query("embedding_centroid_per_label", sql="""
    SELECT label, r.range AS dim,
           ROUND(AVG(embedding[r.range + 1]::DOUBLE), 6) AS centroid
    FROM embeddings CROSS JOIN range(64) r
    GROUP BY label, dim
    ORDER BY label, dim
""")
def embedding_centroid_per_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-class centroid of the embedding space, one row per (label,
    dimension) — the training step of IVF partitioning / nearest-class
    classification, and the reduce behind k-means iterations.

    Scale: posexplode turns each vector into 64 (label, dim, x) rows
    whose avg does map-side partial aggregation — the shuffle carries
    O(labels x 64) partial sums per task, never vectors. This is how a
    centroid update over 100 TB of embeddings stays one narrow shuffle."""
    return (
        load_table(spark, sf_dir, "embeddings")
        .select("label", F.posexplode("embedding").alias("dim", "x"))
        .groupBy("label", F.col("dim").cast("long").alias("dim"))
        .agg(F.round(F.avg(F.col("x").cast("double")), 6).alias("centroid"))
        .orderBy("label", "dim")
    )


_PQ_SUBSPACES = 8
_PQ_SUBDIM = 64 // _PQ_SUBSPACES


def _pq_cte_prefix() -> str:
    """Shared DuckDB CTE chain (raw vectors → subvectors → codebook →
    nearest-code assignment) for the PQ quantize and search oracles.
    The L2² distance is the SAME sequential (x-y)² fold as the Spark
    side (list_zip + list_transform + list_sum), not the a-2ab+b
    identity, so the doubles match bitwise before rounding."""
    return f"""
    WITH e AS (
      SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
    ), sub AS (
      SELECT vec_id, label, g.i AS s,
             v[g.i * {_PQ_SUBDIM} + 1 : g.i * {_PQ_SUBDIM} + {_PQ_SUBDIM}]
               AS sv
      FROM e, generate_series(0, {_PQ_SUBSPACES - 1}) g(i)
    ), comp AS (
      SELECT label, s, g.i AS i, AVG(sv[g.i]) AS c
      FROM sub, generate_series(1, {_PQ_SUBDIM}) g(i)
      GROUP BY label, s, g.i
    ), cent AS (
      SELECT label AS code_label, s, list(c ORDER BY i) AS cv
      FROM comp GROUP BY label, s
    ), assigned AS (
      SELECT sub.vec_id, sub.s, cent.code_label,
             ROUND(list_sum(list_transform(
               list_zip(sub.sv, cent.cv),
               p -> (p[1] - p[2]) * (p[1] - p[2]))), 6) AS err
      FROM sub JOIN cent ON cent.s = sub.s
    ), best AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, s
                                   ORDER BY err, code_label) AS rn
      FROM assigned
    )"""


def _pq_oracle_sql() -> str:
    return _pq_cte_prefix() + """
    SELECT vec_id, CAST(s AS INT) AS subspace, code_label AS code, err
    FROM best WHERE rn = 1
    ORDER BY vec_id, subspace
    """


def _pq_search_oracle_sql() -> str:
    """ADC search oracle on top of the shared PQ CTEs: per-probe
    distance tables to every codebook entry, summed over the stored
    codes in fixed subspace order (list ORDER BY s + left-fold
    list_sum ≡ Spark's array_sort + aggregate fold — bit-identical)."""
    return _pq_cte_prefix() + f"""
    , codes AS (
      SELECT vec_id, s, code_label AS code FROM best WHERE rn = 1
    ), qsub AS (
      SELECT vec_id AS query_id, s, sv FROM sub WHERE vec_id < {N_QUERIES}
    ), dtab AS (
      SELECT q.query_id, q.s, c.code_label,
             ROUND(list_sum(list_transform(
               list_zip(q.sv, c.cv),
               p -> (p[1] - p[2]) * (p[1] - p[2]))), 6) AS d
      FROM qsub q JOIN cent c ON c.s = q.s
    ), adist AS (
      SELECT t.query_id, codes.vec_id AS neighbor_id,
             ROUND(list_sum(list(t.d ORDER BY t.s)), 6) AS approx_l2
      FROM codes JOIN dtab t ON t.s = codes.s AND t.code_label = codes.code
      WHERE codes.vec_id <> t.query_id
      GROUP BY t.query_id, codes.vec_id
    ), ranked AS (
      SELECT *, CAST(ROW_NUMBER() OVER (
               PARTITION BY query_id
               ORDER BY approx_l2, neighbor_id) AS INT) AS rank
      FROM adist
    )
    SELECT query_id, neighbor_id, approx_l2, rank
    FROM ranked WHERE rank <= {TOP_K}
    ORDER BY query_id, rank
    """


@query("knn_pq_quantize", sql=_pq_oracle_sql())
def knn_pq_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization building block: split each 64-dim vector
    into 8 contiguous 8-dim subvectors, build a per-subspace codebook
    (label-seeded mean subvectors — the k-means seeding step), and
    assign every subvector to its nearest code by L2². The emitted
    (vec_id → 8 codes + residual errors) is the compressed
    representation ANN systems scan instead of raw vectors — 8 bytes
    per vector instead of 256.

    Scale: codebook construction is one narrow shuffle of
    O(labels × 64) partial sums; assignment broadcasts the 80-row
    codebook and streams the corpus once — N × (K × m) comparisons,
    never N²; the output shuffle carries codes, not vectors."""
    sub, cent = _pq_sub_cent(_emb(spark, sf_dir))
    return (
        _pq_assign(sub, cent)
        .select("vec_id", F.col("s").cast("int").alias("subspace"),
                F.col("code_label").alias("code"), "err")
        .orderBy("vec_id", "subspace")
    )


def _pq_sub_cent(e: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(sub, cent): per-vector subvectors and the per-subspace codebook
    (label-seeded mean subvectors) — shared by PQ quantize and search.
    Not persisted: every consumer derives it from the PERSISTED `_emb`
    frame with one cheap explode, and skipping the materialization
    barrier keeps the corpus-side plan in a single codegen span."""
    sub = (
        e.select(
            "vec_id", "label",
            F.explode(F.array(*[
                F.struct(F.lit(s).alias("s"),
                         F.slice("v", s * _PQ_SUBDIM + 1, _PQ_SUBDIM)
                          .alias("sv"))
                for s in range(_PQ_SUBSPACES)
            ])).alias("x"))
        .select("vec_id", "label", "x.s", "x.sv")
    )
    comp = (
        sub.select("label", "s", F.posexplode("sv").alias("i", "x"))
        .groupBy("label", "s", "i").agg(F.avg("x").alias("c"))
    )
    cent = (
        comp.groupBy(F.col("label").alias("code_label"), "s")
        .agg(F.array_sort(F.collect_list(F.struct("i", "c"))).alias("pairs"))
        .select("code_label", "s",
                F.transform("pairs", lambda p: p.getField("c")).alias("cv"))
    )
    return sub, cent


def _py_l2(a, b) -> float:
    """Driver-side twin of `_l2_arrow`: the identical left-to-right
    (x-y)² fold over IEEE-754 doubles, so the result is bit-identical
    to both the Arrow fold and DuckDB's list_sum."""
    acc = 0.0
    for x, y in zip(a, b):
        acc += (x - y) * (x - y)
    return acc


def _round6_half_up(x: float) -> float:
    """Driver-side twin of ROUND(x, 6): Spark rounds the double's exact
    decimal expansion HALF_UP (BigDecimal) and DuckDB rounds half away
    from zero, while Python's round() is half-to-even — divergent on
    exact 6 dp half-ties. Decimal(x) is the same exact binary→decimal
    expansion BigDecimal uses, so this matches Spark bit-for-bit."""
    import decimal

    return float(decimal.Decimal(x).quantize(
        decimal.Decimal("0.000001"), rounding=decimal.ROUND_HALF_UP))


def _pq_assign(sub: DataFrame, cent: DataFrame) -> DataFrame:
    """(vec_id, s, code_label, err): nearest codebook entry per
    subvector (L2², rounded 6 dp, code_label tie-break).

    argmin as MIN(struct(err, code_label)) — a hash aggregate with
    map-side partial combine — instead of a row_number window, which
    would sort all N×K candidate rows per (vec_id, s) group. Struct
    ordering compares fields left-to-right, so the (err, code_label)
    minimum IS the window's rn=1 row."""
    assigned = (
        sub.join(F.broadcast(cent), "s")
        .select("vec_id", "s", "code_label",
                F.round(_l2_arrow()(F.col("sv"), F.col("cv")), 6)
                 .alias("err"))
    )
    return (
        assigned.groupBy("vec_id", "s")
        .agg(F.min(F.struct("err", "code_label")).alias("m"))
        .select("vec_id", "s", F.col("m.code_label").alias("code_label"),
                F.col("m.err").alias("err"))
    )


def _sql_darr(vals) -> str:
    """SQL literal for a double array (full-precision repr + D suffix,
    so the parsed doubles are bit-identical to the Python floats)."""
    return "array(" + ",".join(f"{float(v)!r}D" for v in vals) + ")"


def _pq_literal_model(sub: DataFrame, cent: DataFrame):
    """Collect the PQ codebook and probe subvectors once and compile
    them into SQL-text literal expressions. Returns (qids, codes_sql,
    adc_sql): probe ids, the per-row 8-code assignment expression, and
    adc_sql(q) — the ADC lookup-sum expression for probe q over a
    materialized `codes` column.

    SQL text rather than Column composition: these trees hold ~1000
    literals, and building them through py4j costs ~6 s of driver
    round-trips (measured) vs milliseconds of JVM-side parsing."""
    cent_rows = cent.collect()
    probe_rows = (sub.filter(F.col("vec_id") < N_QUERIES)
                  .select("vec_id", "s", "sv").collect())
    labels = sorted({int(c["code_label"]) for c in cent_rows})
    cb = {(int(c["s"]), int(c["code_label"])): list(c["cv"])
          for c in cent_rows}
    dtab = {(int(p["vec_id"]), int(p["s"])):
            [_py_l2(p["sv"], cb[(int(p["s"]), lab)]) for lab in labels]
            for p in probe_rows}

    def best_code(s):
        sv = f"slice(v, {s * _PQ_SUBDIM + 1}, {_PQ_SUBDIM})"
        cands = ",".join(
            "named_struct('err', round(aggregate(zip_with("
            f"{sv}, {_sql_darr(cb[(s, lab)])}, (x, y) -> (x - y) * (x - y)), "
            "cast(0 as double), (acc, d) -> acc + d), 6), "
            f"'code', {lab})"
            for lab in labels)
        return f"array_min(array({cands})).code"

    codes_sql = ("array(" +
                 ",".join(best_code(s) for s in range(_PQ_SUBSPACES)) + ")")

    # codes holds labels; its position in each literal d-array is
    # label+1 when labels are contiguous 0..K-1 (the fixture contract),
    # else located via array_position — both stay narrow in codegen.
    contiguous = labels == list(range(len(labels)))

    def d_index(s):
        code = f"element_at(codes, {s + 1})"
        if contiguous:
            return f"{code} + 1"
        lab_arr = "array(" + ",".join(str(v) for v in labels) + ")"
        return f"cast(array_position({lab_arr}, {code}) as int)"

    def adc_sql(q):
        terms = ",".join(
            "element_at(" +
            "array(" + ",".join(f"round({float(dr)!r}D, 6)"
                                for dr in dtab[(q, s)]) + "), " +
            d_index(s) + ")"
            for s in range(_PQ_SUBSPACES))
        return ("round(aggregate(array(" + terms + "), "
                "cast(0 as double), (acc, d) -> acc + d), 6)")

    qids = sorted({int(p["vec_id"]) for p in probe_rows})
    return qids, codes_sql, adc_sql


@query("knn_pq_search", sql=_pq_search_oracle_sql())
def knn_pq_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ asymmetric-distance (ADC) top-k search — the query that the
    `knn_pq_quantize` compression exists FOR: each probe computes one
    small distance table (probe subvector ↔ every codebook entry), and
    every corpus vector is scored by summing 8 table lookups over its
    stored codes — the raw corpus vectors are never touched at query
    time (Jégou et al., "Product Quantization for Nearest Neighbor
    Search").

    Scale: the distance table is Q × K × m = tiny and BROADCAST; the
    corpus side streams codes (8 small ints per vector, ~32 B — not
    256 B of floats), the per-(probe, vector) sum partial-aggregates
    map-side, and the only wide exchange carries Q rows per vector
    pre-collapsed by WindowGroupLimit's per-partition top-k heaps.
    This is the plan that lets one scan serve all probes at 100 TB —
    scan cost is independent of the vector dimension.

    Determinism: per-subspace distances round to 6 dp on both engines,
    and the 8-term sum folds in FIXED subspace order (array_sort +
    sequential aggregate ≡ DuckDB list(ORDER BY s) + list_sum), so the
    final doubles are bit-identical before the last rounding.

    Approximation quality: the fixture codebook is 10 label-seeded
    codes per subspace — cluster-resolution quantization, so ADC ranks
    at cohort granularity (returned neighbors sit at mean true-L2
    percentile ≈0.2 on the fixture, asserted in tests). Production
    deployments train K=256 learned codes per subspace; the plan shape
    is identical."""
    e = _emb(spark, sf_dir)
    sub, cent = _pq_sub_cent(e)
    # The codebook is a MODEL parameter — K×m = 80 rows at ANY corpus
    # size — and probes are client inputs (Q×m = 40 rows); both are
    # driver-side artifacts in a real PQ system (the distance table
    # lives in L1 cache there), so both are collected once and embedded
    # as LITERALS. The corpus-side plan is then fully narrow — scan →
    # code-assignment projection (argmin over 10 literal codebook
    # entries per subspace, array_min ≡ min-struct lexicographic) →
    # per-probe table-lookup sums → per-probe top-k (the only shuffle,
    # pre-collapsed by WindowGroupLimit heaps). Scan cost at 100 TB is
    # one pass independent of probe count and vector dimension.
    # Determinism: the Python d_raw sum is the same left-to-right fold
    # as DuckDB's list_sum (bit-identical doubles); ALL rounding happens
    # in Spark expressions so ROUND semantics match the oracle.
    qids, codes_sql, adc_sql = _pq_literal_model(sub, cent)
    coded = e.select("vec_id", F.expr(codes_sql).alias("codes"))
    probe_structs = [
        f"named_struct('query_id', cast({q} as bigint), "
        f"'approx_l2', {adc_sql(q)})"
        for q in qids]
    adist = (
        coded.select(
            "vec_id",
            F.explode(F.expr("array(" + ",".join(probe_structs) + ")"))
             .alias("qa"))
        .select(F.col("qa.query_id").alias("query_id"),
                F.col("vec_id").alias("neighbor_id"), "qa.approx_l2")
        .filter(F.col("neighbor_id") != F.col("query_id"))
    )
    w = W.partitionBy("query_id").orderBy("approx_l2", "neighbor_id")
    return (
        adist.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .orderBy("query_id", "rank")
    )


def full_dim_centroids(e: DataFrame) -> dict[int, list[float]]:
    """{label: 64-dim mean vector} — the coarse quantizer model,
    collected once to the driver (K x 64 doubles; a driver-side model
    compiled to SQL literals keeps the corpus scan fully narrow, same
    rationale as the PQ codebooks at similarity.py::_pq_literal_model)."""
    comp64 = (
        e.select("label", F.posexplode("v").alias("i", "x"))
        .groupBy("label", "i").agg(F.avg("x").alias("c"))
    )
    cent64 = (
        comp64.groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("i", "c"))).alias("pairs"))
        .select("label",
                F.transform("pairs", lambda p: p.getField("c")).alias("cv"))
    )
    return {int(r["label"]): list(r["cv"]) for r in cent64.collect()}


def ivf_cell_sql(c64: dict[int, list[float]]) -> str:
    """SQL expression assigning a vector column `v` to its nearest
    coarse centroid: L2^2 rounded to 6 dp (engine-averaged centroids
    can differ by an ulp between Spark and DuckDB) with label
    tie-break via the (err, lab) struct min."""
    ivf_cands = ",".join(
        "named_struct('err', round(aggregate(zip_with("
        f"v, {_sql_darr(c64[lab])}, (x, y) -> (x - y) * (x - y)), "
        "cast(0 as double), (acc, d) -> acc + d), 6), "
        f"'lab', {lab})"
        for lab in sorted(c64))
    return f"array_min(array({ivf_cands})).lab"


_IVFPQ_NPROBE = 3


def _ivfpq_oracle_sql() -> str:
    """IVF-PQ search oracle: full-dim L2 list assignment AND probe-list
    ranking both rounded to 6 dp with label tie-break (the centroids
    are engine-computed averages whose summation order differs, so raw
    doubles near an nprobe boundary could flip list membership) + the
    shared ADC CTEs from the plain PQ search."""
    l2_64 = ("list_sum(list_transform(list_zip({a}, {b}),"
             " p -> (p[1] - p[2]) * (p[1] - p[2])))")
    return _pq_cte_prefix() + f"""
    , comp64 AS (
      SELECT label, g.i AS i, AVG(v[g.i]) AS c
      FROM e, generate_series(1, 64) g(i)
      GROUP BY label, g.i
    ), cent64 AS (
      SELECT label AS c_label, list(c ORDER BY i) AS cv64
      FROM comp64 GROUP BY label
    ), ivf AS (
      SELECT vec_id, c_label AS ivf FROM (
        SELECT e.vec_id, cent64.c_label,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
                 ROUND({l2_64.format(a='e.v', b='cent64.cv64')}, 6),
                 cent64.c_label) AS rn
        FROM e CROSS JOIN cent64)
      WHERE rn = 1
    ), plists AS (
      SELECT query_id, c_label FROM (
        SELECT q.vec_id AS query_id, c.c_label,
               ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
                 ROUND({l2_64.format(a='q.v', b='c.cv64')}, 6),
                 c.c_label) AS rn
        FROM e q CROSS JOIN cent64 c WHERE q.vec_id < {N_QUERIES})
      WHERE rn <= {_IVFPQ_NPROBE}
    ), codes AS (
      SELECT vec_id, s, code_label AS code FROM best WHERE rn = 1
    ), qsub AS (
      SELECT vec_id AS query_id, s, sv FROM sub WHERE vec_id < {N_QUERIES}
    ), dtab AS (
      SELECT q.query_id, q.s, c.code_label,
             ROUND(list_sum(list_transform(
               list_zip(q.sv, c.cv),
               p -> (p[1] - p[2]) * (p[1] - p[2]))), 6) AS d
      FROM qsub q JOIN cent c ON c.s = q.s
    ), cand AS (
      SELECT p.query_id, i.vec_id
      FROM ivf i JOIN plists p ON i.ivf = p.c_label
      WHERE i.vec_id <> p.query_id
    ), adist AS (
      SELECT ca.query_id, ca.vec_id AS neighbor_id,
             ROUND(list_sum(list(t.d ORDER BY t.s)), 6) AS approx_l2
      FROM cand ca
      JOIN codes ON codes.vec_id = ca.vec_id
      JOIN dtab t ON t.query_id = ca.query_id AND t.s = codes.s
                 AND t.code_label = codes.code
      GROUP BY ca.query_id, ca.vec_id
    ), ranked AS (
      SELECT *, CAST(ROW_NUMBER() OVER (
               PARTITION BY query_id
               ORDER BY approx_l2, neighbor_id) AS INT) AS rank
      FROM adist
    )
    SELECT query_id, neighbor_id, approx_l2, rank
    FROM ranked WHERE rank <= {TOP_K}
    ORDER BY query_id, rank
    """


@query("knn_ivfpq_search", sql=_ivfpq_oracle_sql())
def knn_ivfpq_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ composed search — the production 100 TB ANN serving plan:
    coarse inverted-file pruning (each probe visits only its
    {_IVFPQ_NPROBE} nearest centroid lists) with PQ asymmetric-distance
    ranking inside the visited lists (Jégou et al.'s IVFADC). The plain
    `knn_pq_search` scans every vector's codes for every probe; here a
    vector is scored only when its coarse cell is probed — at scale
    that is the difference between reading all lists and reading
    nprobe/K of them, and with list-partitioned storage the pruning
    becomes partition pruning at the scan.

    Plan shape: both the coarse centroids (K×64) and the PQ model are
    driver-side literals, so the corpus side stays fully narrow — scan
    → one projection computing (coarse cell, 8 PQ codes) → per-probe
    CASE-gated lookup sums (NULL outside probed lists, filtered before
    the shuffle) → per-probe top-k, the only exchange.

    Determinism: list assignment AND probe-list ranking both round to
    6 dp with label tie-break on both engines (centroids are
    engine-averaged, so raw doubles could diverge by an ulp near an
    nprobe boundary); ADC sums reuse the knn_pq_search scheme."""
    e = _emb(spark, sf_dir)
    sub, cent = _pq_sub_cent(e)
    qids, codes_sql, adc_sql = _pq_literal_model(sub, cent)
    c64 = full_dim_centroids(e)
    probes = {int(r["vec_id"]): list(r["v"])
              for r in e.filter(F.col("vec_id") < N_QUERIES)
                        .select("vec_id", "v").collect()}
    # probe→centroid distances round to 6 dp before the ranking (same
    # as the corpus-side list assignment): the centroids come from
    # Spark AVG here and DuckDB AVG in the oracle, whose summation
    # orders differ, so a last-ulp centroid delta near an nprobe
    # boundary tie could otherwise flip list membership between engines.
    # HALF_UP via Decimal, not Python round() — the builtin rounds
    # half-to-even while Spark ROUND/DuckDB ROUND round half up, so an
    # exact 6 dp half-tie would diverge from the oracle's ranking
    plists = {
        q: [lab for _, lab in sorted(
            ((_round6_half_up(_py_l2(v, c64[lab])), lab)
             for lab in sorted(c64))
        )[:_IVFPQ_NPROBE]]
        for q, v in probes.items()
    }
    ivf_sql = ivf_cell_sql(c64)
    coded = e.select("vec_id", F.expr(ivf_sql).alias("ivf"),
                     F.expr(codes_sql).alias("codes"))
    probe_structs = [
        f"named_struct('query_id', cast({q} as bigint), "
        "'approx_l2', CASE WHEN ivf IN ("
        + ",".join(str(lab) for lab in plists[q])
        + f") THEN {adc_sql(q)} ELSE NULL END)"
        for q in qids]
    adist = (
        coded.select(
            "vec_id",
            F.explode(F.expr("array(" + ",".join(probe_structs) + ")"))
             .alias("qa"))
        .select(F.col("qa.query_id").alias("query_id"),
                F.col("vec_id").alias("neighbor_id"), "qa.approx_l2")
        .filter(F.col("approx_l2").isNotNull()
                & (F.col("neighbor_id") != F.col("query_id")))
    )
    w = W.partitionBy("query_id").orderBy("approx_l2", "neighbor_id")
    return (
        adist.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .orderBy("query_id", "rank")
    )


_KMEANS_ITERS = 2


def _kmeans_oracle_sql() -> str:
    """DuckDB replica of {n} unrolled Lloyd iterations. Assignment uses
    the ROUNDED L2² (6 dp, label tie-break) and the same sequential
    (x-y)² fold as the Spark side, so cluster membership — and hence
    every subsequent centroid — matches exactly."""
    l2 = ("ROUND(list_sum(list_transform(list_zip(e.v, {c}.cv),"
          " p -> (p[1] - p[2]) * (p[1] - p[2]))), 6)")
    init = """
    cent0 AS (
      SELECT label AS cl, list(c ORDER BY i) AS cv FROM (
        SELECT label, g.i AS i, AVG(v[g.i]) AS c
        FROM e, generate_series(1, 64) g(i)
        GROUP BY label, g.i)
      GROUP BY label
    )"""
    steps = []
    for it in range(_KMEANS_ITERS):
        steps.append(f"""
    assign{it} AS (
      SELECT vec_id, v, cl FROM (
        SELECT e.vec_id, e.v, cent{it}.cl,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                 ORDER BY {l2.format(c=f'cent{it}')}, cent{it}.cl) AS rn
        FROM e CROSS JOIN cent{it})
      WHERE rn = 1
    ), cent{it + 1} AS (
      SELECT cl, list(c ORDER BY i) AS cv FROM (
        SELECT cl, g.i AS i, AVG(v[g.i]) AS c
        FROM assign{it}, generate_series(1, 64) g(i)
        GROUP BY cl, g.i)
      GROUP BY cl
    )""")
    last = _KMEANS_ITERS
    return f"""
    WITH e AS (
      SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
    ),{init},{",".join(steps)}
    SELECT a.cl AS cluster, COUNT(*) AS n_vecs,
           ROUND(MIN(sqrt(list_dot_product(c.cv, c.cv))), 6)
             AS centroid_norm
    FROM assign{last - 1} a JOIN cent{last} c ON c.cl = a.cl
    GROUP BY a.cl ORDER BY a.cl
    """


@query("kmeans_lloyd_iterations", sql=_kmeans_oracle_sql())
def kmeans_lloyd_iterations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterative k-means (Lloyd): label-seeded centroids, then
    {_KMEANS_ITERS} assign→update rounds; emits per-cluster size and
    final centroid norm. The canonical iterative-ML pattern on Spark —
    and, with the iteration count fixed, fully oracle-checkable by
    unrolling the same rounds as SQL CTEs (assignment on ROUNDED L2²,
    ties by label, so membership is engine-independent).

    Scale: per round, assignment broadcasts K centroids and streams the
    corpus (no shuffle); the update is one narrow posexplode partial
    agg of O(K × 64) sums. Centroids are persisted per round so the
    plan does not grow with iterations (cache substitution bounds
    planning the way checkpoint truncation did, without the per-round
    blocking job) — the fixed-round iterate discipline at 1000
    executors; truly unbounded loops still checkpoint (dedup CC)."""
    e = _emb(spark, sf_dir)
    cent = (_label_centroids(e)
            .select(F.col("c_label").alias("cl"), "cv"))
    # HOF fold, NOT _l2_arrow: the assignment is N×K inside a 2-round
    # loop whose per-round broadcast build would pay a Python-stage
    # round trip each round — measured 1.11 s (fold) vs 1.71 s (Arrow)
    # in round 13; the interpreted cost at K=10 is below the hop cost
    l2 = F.round(F.aggregate(
        F.zip_with("v", "cv", lambda x, y: (x - y) * (x - y)),
        F.lit(0.0), lambda acc, d: acc + d), 6)
    for _ in range(_KMEANS_ITERS):
        w = W.partitionBy("vec_id").orderBy("d", "cl")
        assigned = (
            e.crossJoin(F.broadcast(cent))
            .select("vec_id", "v", "cl", l2.alias("d"))
            .withColumn("rn", F.row_number().over(w)).filter("rn = 1")
            .select("vec_id", "v", "cl")
        )
        cent = (
            assigned.select("cl", F.posexplode("v").alias("i", "x"))
            .groupBy("cl", "i").agg(F.avg("x").alias("c"))
            .groupBy("cl")
            .agg(F.array_sort(F.collect_list(F.struct("i", "c")))
                 .alias("pairs"))
            .select("cl", F.transform("pairs", lambda p: p.getField("c"))
                    .alias("cv"))
            # persist: _KMEANS_ITERS fixed, cent referenced once per
            # round (broadcast) — cache bounds the plan, no blocking
            # per-round checkpoint job (round-12 A/B in
            # OPTIMIZATION_r12.md). NO unpersist-behind-the-loop here
            # (unlike pagerank/textrank): the post-loop `assigned`
            # frame re-reads round N-1's centroids, so dropping them
            # recomputes a full assignment pass — measured 1.11 s
            # (kept) vs 2.89 s (dropped) in round 13.
        ).persist()
    return (
        assigned.groupBy(F.col("cl").alias("cluster"))
        .agg(F.count(F.lit(1)).alias("n_vecs"))
        .join(F.broadcast(
            cent.select(F.col("cl").alias("cluster"),
                        F.round(F.sqrt(_dot(F.col("cv"), F.col("cv"))), 6)
                        .alias("centroid_norm"))), "cluster")
        .select("cluster", "n_vecs", "centroid_norm")
        .orderBy("cluster")
    )


RANGE_TAU = 0.25  # radius-search threshold (fixture is isotropic; 0.25
                  # admits ~55 corpus vectors across the 5 probes)


@query("ann_range_search", sql=f"""
    WITH e AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    )
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           ROUND(list_dot_product(q.v, c.v)
                 / (sqrt(list_dot_product(q.v, q.v))
                    * sqrt(list_dot_product(c.v, c.v))), 6) AS cos_sim
    FROM e q JOIN e c ON c.vec_id <> q.vec_id
    WHERE q.vec_id < {N_QUERIES}
      AND list_dot_product(q.v, c.v)
            / (sqrt(list_dot_product(q.v, q.v))
               * sqrt(list_dot_product(c.v, c.v))) >= {RANGE_TAU}
    ORDER BY query_id, neighbor_id
""")
def ann_range_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Radius (range) search: every corpus vector within cosine >=
    RANGE_TAU of each probe — the fixed-threshold companion to top-k
    (retrieval pipelines use radius search when result *quality*, not
    count, is the contract).

    Same shuffle-free shape as `knn_bruteforce_cosine`: probes
    broadcast, corpus streams once, no ranking window needed (the
    threshold replaces it). The filter happens on the UNROUNDED score
    (rounding only formats output), matching the oracle exactly because
    both engines fold the dot product in the same association. At
    100 TB the IVF/LSH candidate generators bound the scored set; this
    exact scan is their verifier and the small-probe-set fast path.
    """
    e = _emb(spark, sf_dir)
    probes = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv"),
        F.col("norm").alias("qn"))
    cos = cosine(F.col("qv"), F.col("v"), F.col("qn"), F.col("norm"))
    return (
        e.crossJoin(F.broadcast(probes))
        .filter(F.col("vec_id") != F.col("query_id"))
        .withColumn("cos_raw", cos)
        .filter(F.col("cos_raw") >= RANGE_TAU)
        .select("query_id", F.col("vec_id").alias("neighbor_id"),
                F.round("cos_raw", 6).alias("cos_sim"))
        .orderBy("query_id", "neighbor_id")
    )


# ---------------------------------------------------------------------------
# SQ8 scalar quantization: per-dimension [min, max] -> one byte per
# dimension. 4x corpus compression (64 floats -> 64 bytes) with a
# 3-row literal model — the cheapest quantizer in the ANN toolbox and
# the usual first step before PQ (Faiss `SQ8` / Milvus `IVF_SQ8`).
_SQ_DIM = 64
_SQ_LEVELS = 255


def _sq8_model(e: DataFrame) -> tuple[list, list, list]:
    """(mins, scales, steps) per dimension, collected once. mins/maxs
    are exact selections of existing doubles (no summation), so both
    engines compute bit-identical values; scales/steps are single IEEE
    divisions of those, identical in Python and DuckDB."""
    row = e.agg(
        *[F.min(F.element_at("v", d + 1)).alias(f"mn{d}")
          for d in range(_SQ_DIM)],
        *[F.max(F.element_at("v", d + 1)).alias(f"mx{d}")
          for d in range(_SQ_DIM)]).collect()[0]
    mins = [float(row[f"mn{d}"]) for d in range(_SQ_DIM)]
    maxs = [float(row[f"mx{d}"]) for d in range(_SQ_DIM)]
    scales = [(_SQ_LEVELS / (mx - mn)) if mx > mn else 0.0
              for mn, mx in zip(mins, maxs)]
    # step is the reciprocal of scale (cell width (mx-mn)/255), so
    # code c reconstructs at its cell's midpoint mn + (c+0.5)*step
    steps = [((mx - mn) / _SQ_LEVELS) if mx > mn else 0.0
             for mn, mx in zip(mins, maxs)]
    return mins, scales, steps


@query("knn_sq8_search", sql=f"""
    WITH e AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ), stat AS (
      SELECT CAST(g.d AS INT) AS d, MIN(v[g.d]) AS mn, MAX(v[g.d]) AS mx
      FROM e, generate_series(1, {_SQ_DIM}) g(d)
      GROUP BY g.d
    ), model AS (
      SELECT list(mn ORDER BY d) AS mins,
             list(CASE WHEN mx > mn THEN {_SQ_LEVELS} / (mx - mn)
                       ELSE 0.0 END ORDER BY d) AS scales,
             list(CASE WHEN mx > mn THEN (mx - mn) / {_SQ_LEVELS}
                       ELSE 0.0 END ORDER BY d) AS steps
      FROM stat
    ), recon AS (
      SELECT e.vec_id,
             list_transform(
               list_transform(e.v, (x, i) -> LEAST(CAST(FLOOR(
                 (x - m.mins[i]) * m.scales[i]) AS INT), {_SQ_LEVELS})),
               (c, i) -> m.mins[i]
                 + (CAST(c AS DOUBLE) + 0.5) * m.steps[i]) AS r
      FROM e, model m
    ), scored AS (
      SELECT q.vec_id AS query_id, r.vec_id AS neighbor_id,
             ROUND(list_dot_product(q.v, r.r), 6) AS approx_ip
      FROM e q JOIN recon r ON r.vec_id <> q.vec_id
      WHERE q.vec_id < {N_QUERIES}
    ), ranked AS (
      SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                ORDER BY approx_ip DESC, neighbor_id) AS INT) AS rank
      FROM scored
    )
    SELECT query_id, neighbor_id, approx_ip, rank
    FROM ranked WHERE rank <= {TOP_K}
    ORDER BY query_id, rank
""")
def knn_sq8_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQ8 asymmetric top-k search: quantize every corpus vector to one
    byte per dimension against a per-dimension [min, max] model, then
    rank by inner product of the FULL-PRECISION probe against the
    DEQUANTIZED corpus vector (asymmetric distance: only the stored
    side pays quantization error — Faiss's SQ8/ADC convention).

    Complements PQ (subspace codebooks, 8 codes/vector) with the
    per-dimension affine quantizer (64 codes/vector, no training):
    recon_d = min_d + (code_d + 0.5) * (max_d - min_d) / 255 — the
    cell midpoint of the 255-cell quantization grid.

    Scale: the model is 3 x 64 literal doubles — collected once
    driver-side like the PQ codebooks, so the corpus plan is fully
    narrow: scan -> quantize/dequantize projection (built-in
    transform/fold, codegen'd) -> broadcast-probe dot -> per-probe
    top-k (the only shuffle, WindowGroupLimit-collapsed). At 100 TB
    the byte codes are materialized at ingest, cutting scan I/O 4x;
    scoring decompresses in-register, never touching raw floats.

    Determinism: mins/maxs are exact selections (no summation) so both
    engines derive bit-identical models; quantize/dequantize are pure
    IEEE arithmetic in matching association; the probe dot folds
    left-to-right on both engines (the knn_bruteforce equivalence) and
    rounds to 6 dp before ranking, neighbor_id tie-break."""
    e = _emb(spark, sf_dir)
    mins, scales, steps = _sq8_model(e)
    mins_a, scl_a, stp_a = _sql_darr(mins), _sql_darr(scales), _sql_darr(steps)
    codes = (f"transform(v, (x, i) -> least(cast(floor("
             f"(x - element_at({mins_a}, i + 1)) * "
             f"element_at({scl_a}, i + 1)) as int), {_SQ_LEVELS}))")
    recon = (f"transform({codes}, (c, i) -> element_at({mins_a}, i + 1)"
             f" + (cast(c as double) + 0.5D) * element_at({stp_a}, i + 1))")
    corpus = e.select(F.col("vec_id").alias("neighbor_id"),
                      F.expr(recon).alias("r"))
    probes = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv"))
    scored = (
        corpus.crossJoin(F.broadcast(probes))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id",
                F.round(_dot_arrow()(F.col("qv"), F.col("r")), 6)
                 .alias("approx_ip"))
    )
    w = W.partitionBy("query_id").orderBy(F.desc("approx_ip"),
                                          F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .orderBy("query_id", "rank")
    )


# ---------------------------------------------------------------- MMR

MMR_LAMBDA = 0.7     # relevance weight
MMR_MU = 0.3         # redundancy penalty weight (= 1 - lambda, as an
                     # EXACT shared literal: deriving it as 1-0.7 in
                     # Python gives 0.30000000000000004 and splits the
                     # engines' rounding at the 6th decimal)
MMR_CAND = 20        # relevance-ranked candidate pool per probe
MMR_SEL = 5          # diversified results returned per probe


def _mmr_oracle_sql() -> str:
    """Unrolled greedy-MMR oracle: MMR_SEL fixed selection steps as
    chained CTEs (greedy argmax is not first-order SQL, but a FIXED
    number of steps is — each step k computes every remaining
    candidate's max-similarity-to-selected penalty and takes the
    argmax, exactly mirroring the engine's unrolled DataFrame plan)."""
    cos = ("ROUND(list_dot_product({a}.v, {b}.v)"
           " / (sqrt(list_dot_product({a}.v, {a}.v))"
           " * sqrt(list_dot_product({b}.v, {b}.v))), 6)")
    parts = [f"""
    WITH e AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ), cand AS (
      SELECT * FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS nid,
               {cos.format(a='q', b='c')} AS cos_sim
        FROM e q JOIN e c ON c.vec_id <> q.vec_id
        WHERE q.vec_id < {N_QUERIES})
      QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY cos_sim DESC, nid) <= {MMR_CAND}
    ), pairs AS (
      SELECT a.query_id, a.nid AS a_id, b.nid AS b_id,
             {cos.format(a='ea', b='eb')} AS sim
      FROM cand a JOIN cand b
        ON a.query_id = b.query_id AND a.nid <> b.nid
      JOIN e ea ON ea.vec_id = a.nid
      JOIN e eb ON eb.vec_id = b.nid
    ), sel1 AS (
      SELECT * FROM (
        SELECT query_id, nid, cos_sim,
               ROUND({MMR_LAMBDA} * cos_sim, 7) AS mmr, 1 AS mmr_rank
        FROM cand)
      QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY mmr DESC, nid) = 1
    )"""]
    for k in range(2, MMR_SEL + 1):
        parts.append(f""", s{k} AS (
      SELECT * FROM (
        SELECT c.query_id, c.nid, c.cos_sim,
               ROUND({MMR_LAMBDA} * c.cos_sim
                     - {MMR_MU} * p.pen, 7) AS mmr,
               {k} AS mmr_rank
        FROM cand c
        JOIN (SELECT pr.query_id, pr.a_id, MAX(pr.sim) AS pen
              FROM pairs pr
              JOIN sel{k - 1} s
                ON s.query_id = pr.query_id AND s.nid = pr.b_id
              GROUP BY pr.query_id, pr.a_id) p
          ON p.query_id = c.query_id AND p.a_id = c.nid
        WHERE NOT EXISTS (SELECT 1 FROM sel{k - 1} s
                          WHERE s.query_id = c.query_id
                            AND s.nid = c.nid))
      QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY mmr DESC, nid) = 1
    ), sel{k} AS (
      SELECT * FROM sel{k - 1} UNION ALL SELECT * FROM s{k}
    )""")
    parts.append(f"""
    SELECT query_id, mmr_rank, nid AS neighbor_id, cos_sim,
           mmr AS mmr_score
    FROM sel{MMR_SEL} ORDER BY query_id, mmr_rank""")
    return "".join(parts)


@query("knn_mmr_rerank", sql=_mmr_oracle_sql())
def knn_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal Marginal Relevance re-ranking (Carbonell-Goldstein):
    take each probe's top-{MMR_CAND} relevance candidates, then
    greedily select {MMR_SEL} results maximizing
    lambda*sim(c, q) - (1-lambda)*max_{{s in S}} sim(c, s) — the
    diversity-aware second stage every RAG retrieval pipeline runs so
    near-duplicate passages don't crowd out coverage.

    Spark-first decomposition of an inherently sequential algorithm:
    stage 1 (candidate generation) is the broadcast-probe corpus scan
    of knn_bruteforce_cosine — the only data-sized work, fully
    narrow. Stage 2 operates on Q x {MMR_CAND} rows (hundreds, at ANY
    corpus scale — that collapse is what makes greedy re-ranking
    tractable at 100 TB): candidate pairwise sims via a broadcast
    self-join, then {MMR_SEL} unrolled greedy steps, each one
    anti-join (drop selected) + penalty max-agg + argmax window over
    the tiny candidate frame. `cand` and `pairs` are persisted
    because every unrolled step references them.

    Determinism: similarities are rounded to 6 dp; MMR scores to
    7 dp — lambda*sim - mu*penalty over 6-dp inputs lies EXACTLY on
    the 7-decimal grid, so 7-dp rounding is lossless, while 6-dp
    rounding would sit on half-boundaries where the engines' rounding
    modes diverge. Ties break on neighbor_id, so engine and oracle
    pick identical argmaxes at every step."""
    from pyspark.storagelevel import StorageLevel

    e = _emb(spark, sf_dir)
    q = (e.filter(F.col("vec_id") < N_QUERIES)
         .select(F.col("vec_id").alias("query_id"),
                 F.col("v").alias("qv"), F.col("norm").alias("qnorm")))
    scored = (
        e.select(F.col("vec_id").alias("nid"), "v", "norm")
        .crossJoin(F.broadcast(q))
        .filter(F.col("nid") != F.col("query_id"))
        .select("query_id", "nid", "v", "norm",
                F.round(cosine(F.col("qv"), F.col("v"),
                               F.col("qnorm"), F.col("norm")), 6)
                 .alias("cos_sim")))
    w_rel = W.partitionBy("query_id").orderBy(F.desc("cos_sim"),
                                              F.asc("nid"))
    cand = (scored.withColumn("r", F.row_number().over(w_rel))
            .filter(F.col("r") <= MMR_CAND)
            .select("query_id", "nid", "cos_sim", "v", "norm")
            .persist(StorageLevel.MEMORY_AND_DISK))
    a = cand.select("query_id", F.col("nid").alias("a_id"),
                    F.col("v").alias("av"), F.col("norm").alias("an"))
    b = cand.select("query_id", F.col("nid").alias("b_id"),
                    F.col("v").alias("bv"), F.col("norm").alias("bn"))
    pairs = (a.join(b, "query_id")
             .filter(F.col("a_id") != F.col("b_id"))
             .select("query_id", "a_id", "b_id",
                     F.round(cosine(F.col("av"), F.col("bv"),
                                    F.col("an"), F.col("bn")), 6)
                      .alias("sim"))
             .persist(StorageLevel.MEMORY_AND_DISK))

    slim = cand.select("query_id", "nid", "cos_sim")
    w_mmr = W.partitionBy("query_id").orderBy(F.desc("mmr"), F.asc("nid"))
    sel = (slim
           .withColumn("mmr", F.round(MMR_LAMBDA * F.col("cos_sim"), 7))
           .withColumn("r", F.row_number().over(w_mmr))
           .filter(F.col("r") == 1)
           .select("query_id", "nid", "cos_sim", "mmr",
                   F.lit(1).alias("mmr_rank"))
           # O(1) lineage per greedy step: without truncation, step k's
           # plan embeds step k-1's THREE times (chosen/anti/union) —
           # round 12 tried per-step persist here and measured 10.2 s
           # vs 3.74 s checkpointed, same-instrument A/B (the 3^k
           # nested-cache fan-out dominates even though each step is
           # cached; single-ref loops like pagerank DID win from
           # persist). Truncation is load-bearing here.
           .localCheckpoint(eager=True))
    for k in range(2, MMR_SEL + 1):
        chosen = sel.select("query_id", F.col("nid").alias("b_id"))
        pen = (pairs.join(chosen, ["query_id", "b_id"])
               .groupBy("query_id", F.col("a_id").alias("nid"))
               .agg(F.max("sim").alias("pen")))
        remaining = slim.join(sel.select("query_id", "nid"),
                              ["query_id", "nid"], "left_anti")
        step = (remaining.join(pen, ["query_id", "nid"])
                .withColumn("mmr", F.round(
                    MMR_LAMBDA * F.col("cos_sim")
                    - MMR_MU * F.col("pen"), 7))
                .withColumn("r", F.row_number().over(w_mmr))
                .filter(F.col("r") == 1)
                .select("query_id", "nid", "cos_sim", "mmr",
                        F.lit(k).alias("mmr_rank")))
        sel = sel.unionByName(step).localCheckpoint(eager=True)
    return (sel.select("query_id", "mmr_rank",
                       F.col("nid").alias("neighbor_id"),
                       "cos_sim", F.col("mmr").alias("mmr_score"))
            .orderBy("query_id", "mmr_rank"))


HN_ANCHORS = 25      # vec_id < 25 are the anchor vectors
HN_K = 3             # hard negatives returned per anchor


@query("mine_hard_negatives", sql=f"""
    WITH e AS (
      SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
    ), scored AS (
      SELECT a.vec_id AS anchor_id, a.label AS anchor_label,
             n.vec_id AS neg_id, n.label AS neg_label,
             ROUND(list_dot_product(a.v, n.v)
                   / (sqrt(list_dot_product(a.v, a.v))
                      * sqrt(list_dot_product(n.v, n.v))), 6) AS cos_sim
      FROM e a JOIN e n ON n.label <> a.label
      WHERE a.vec_id < {HN_ANCHORS}
    )
    SELECT * FROM (
      SELECT *, CAST(ROW_NUMBER() OVER (
               PARTITION BY anchor_id
               ORDER BY cos_sim DESC, neg_id) AS INT) AS rank
      FROM scored)
    WHERE rank <= {HN_K}
    ORDER BY anchor_id, rank
""")
def mine_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive / embedding training
    (DPR, SimCSE, triplet-loss pipelines): for each anchor, the
    top-{HN_K} most-similar vectors carrying a DIFFERENT label — the
    negatives that actually move the loss, versus random negatives
    the model already separates.

    Spark-first: same broadcast-anchor narrow corpus scan as
    knn_bruteforce_cosine with the label-inequality predicate applied
    before scoring feeds the per-anchor top-k window (WindowGroupLimit
    collapses it to per-partition heaps). At 100 TB the exact scan
    swaps for ANN candidate generation (knn_ivf / knn_ivfpq) followed
    by this exact label-filtered re-rank over candidates — the scan
    is the only part that changes; mining stays one narrow pass +
    one tiny top-k exchange per anchor batch."""
    e = _emb(spark, sf_dir)
    anchors = (e.filter(F.col("vec_id") < HN_ANCHORS)
               .select(F.col("vec_id").alias("anchor_id"),
                       F.col("label").alias("anchor_label"),
                       F.col("v").alias("av"), F.col("norm").alias("an")))
    scored = (
        e.select(F.col("vec_id").alias("neg_id"),
                 F.col("label").alias("neg_label"), "v", "norm")
        .crossJoin(F.broadcast(anchors))
        .filter(F.col("neg_label") != F.col("anchor_label"))
        .select("anchor_id", "anchor_label", "neg_id", "neg_label",
                F.round(cosine(F.col("av"), F.col("v"),
                               F.col("an"), F.col("norm")), 6)
                 .alias("cos_sim")))
    w = W.partitionBy("anchor_id").orderBy(F.desc("cos_sim"),
                                           F.asc("neg_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= HN_K)
            .select("anchor_id", "anchor_label", "neg_id", "neg_label",
                    "cos_sim", "rank")
            .orderBy("anchor_id", "rank"))


# ------------------------------------------------------- recall eval

EVAL_NPROBE = 2


@query("ann_recall_eval", sql=f"""
    WITH e AS (
      SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
    ), comp AS (
      SELECT label, g.i AS i, AVG(v[g.i]) AS c
      FROM e, generate_series(1, 64) g(i)
      GROUP BY label, g.i
    ), cent AS (
      SELECT label AS c_label, list(c ORDER BY i) AS cv
      FROM comp GROUP BY label
    ), assigned AS (
      SELECT vec_id, c_label FROM (
        SELECT e.vec_id, cent.c_label,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
                 ROUND(list_dot_product(e.v, cent.cv)
                       / (sqrt(list_dot_product(e.v, e.v))
                          * sqrt(list_dot_product(cent.cv, cent.cv))),
                       6) DESC, cent.c_label) AS rn
        FROM e CROSS JOIN cent)
      WHERE rn = 1
    ), probes AS (
      SELECT query_id, c_label FROM (
        SELECT q.vec_id AS query_id, cent.c_label,
               ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
                 ROUND(list_dot_product(q.v, cent.cv)
                       / (sqrt(list_dot_product(q.v, q.v))
                          * sqrt(list_dot_product(cent.cv, cent.cv))),
                       6) DESC, cent.c_label) AS pr
        FROM e q CROSS JOIN cent WHERE q.vec_id < {N_QUERIES})
      WHERE pr <= {EVAL_NPROBE}
    ), cand AS (
      SELECT p.query_id, a.vec_id AS neighbor_id
      FROM probes p JOIN assigned a ON a.c_label = p.c_label
      WHERE a.vec_id <> p.query_id
    ), approx AS (
      SELECT query_id, neighbor_id FROM (
        SELECT c.query_id, c.neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY c.query_id ORDER BY
                 ROUND(list_dot_product(q.v, n.v)
                       / (sqrt(list_dot_product(q.v, q.v))
                          * sqrt(list_dot_product(n.v, n.v))), 6)
                 DESC, c.neighbor_id) AS rk
        FROM cand c
        JOIN e q ON q.vec_id = c.query_id
        JOIN e n ON n.vec_id = c.neighbor_id)
      WHERE rk <= {TOP_K}
    ), exact AS (
      SELECT query_id, neighbor_id FROM (
        SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
                 ROUND(list_dot_product(q.v, n.v)
                       / (sqrt(list_dot_product(q.v, q.v))
                          * sqrt(list_dot_product(n.v, n.v))), 6)
                 DESC, n.vec_id) AS rk
        FROM e q JOIN e n ON n.vec_id <> q.vec_id
        WHERE q.vec_id < {N_QUERIES})
      WHERE rk <= {TOP_K}
    ), nc AS (
      SELECT query_id, COUNT(*) AS n_candidates FROM cand GROUP BY 1
    )
    SELECT x.query_id,
           CAST({TOP_K} AS INT) AS k,
           nc.n_candidates,
           COUNT(a.neighbor_id) AS n_hits,
           ROUND(COUNT(a.neighbor_id) / ({TOP_K} * 1e0), 6) AS recall
    FROM exact x
    LEFT JOIN approx a ON a.query_id = x.query_id
                      AND a.neighbor_id = x.neighbor_id
    JOIN nc ON nc.query_id = x.query_id
    GROUP BY x.query_id, nc.n_candidates
    ORDER BY x.query_id
""")
def ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality harness: recall@k of the IVF index (nprobe =
    EVAL_NPROBE label-seeded cells) against exact brute-force
    ground truth, per query — the standard index-quality eval every
    vector-search deployment runs before trading exactness for probe
    count (the recall/nprobe curve is THE tuning knob in
    Jégou-style IVF systems).

    One query computes both sides: ground truth by broadcast
    brute-force (Q×N scored rows, per-query heap top-k), the IVF
    side by centroid assignment (corpus scans K centroids — N×K,
    never N²), probe-cell selection for the queries, a cell-keyed
    candidate join, and candidate-only rescoring. The recall join
    then matches the two top-k sets per query. At 100 TB the
    brute-force leg is the expensive one BY DESIGN — it's the
    ground-truth harness you run on a sampled query set, while the
    IVF leg is the production path being graded.

    Determinism: every ranking orders by the 6-dp-rounded cosine
    with id tie-breaks (the ADVICE-r3 rounding discipline), so both
    top-k sets — and hence the recall — are stable across engines."""
    e = _emb(spark, sf_dir)
    cent = _label_centroids(e)
    scored_cent = (
        e.crossJoin(F.broadcast(cent))
        .select("vec_id", "v", "norm", "c_label", "cv", "cnorm",
                F.round(cosine(F.col("v"), F.col("cv"),
                               F.col("norm"), F.col("cnorm")), 6)
                .alias("ccos")))
    # ONE ranking window serves both the per-vector assignment (rn=1)
    # and the query probe lists (rn<=nprobe); only the <=nprobe rows
    # per vector are materialized (persist), so the reuse
    # costs O(N * nprobe) narrow rows, not a recompute of the N x K
    # scoring. Vectors ride along on the assignment rows, so the
    # candidate rescoring needs NO corpus re-join.
    wv = W.partitionBy("vec_id").orderBy(F.desc("ccos"), F.asc("c_label"))
    ranked = (scored_cent
              .select("vec_id", "c_label", "v", "norm",
                      F.row_number().over(wv).alias("rn"))
              .filter(F.col("rn") <= max(1, EVAL_NPROBE))
              .persist())
    assigned = ranked.filter(F.col("rn") == 1)
    probes = (ranked.filter((F.col("vec_id") < N_QUERIES)
                            & (F.col("rn") <= EVAL_NPROBE))
              .select(F.col("vec_id").alias("query_id"), "c_label"))
    cand = (F.broadcast(probes).join(assigned, "c_label")
            .filter(F.col("vec_id") != F.col("query_id"))
            .select("query_id", F.col("vec_id").alias("neighbor_id"),
                    "v", "norm"))
    q = (e.filter(F.col("vec_id") < N_QUERIES)
         .select(F.col("vec_id").alias("query_id"),
                 F.col("v").alias("qv"), F.col("norm").alias("qnorm")))
    n = e.select(F.col("vec_id").alias("neighbor_id"), "v", "norm")
    wq = W.partitionBy("query_id").orderBy(F.desc("cos_sim"),
                                           F.asc("neighbor_id"))
    approx = (cand.join(F.broadcast(q), "query_id")
              .select("query_id", "neighbor_id",
                      F.round(cosine(F.col("qv"), F.col("v"),
                                     F.col("qnorm"), F.col("norm")), 6)
                      .alias("cos_sim"))
              .withColumn("rk", F.row_number().over(wq))
              .filter(F.col("rk") <= TOP_K)
              .select("query_id", "neighbor_id"))
    exact = (n.crossJoin(F.broadcast(q))
             .filter(F.col("neighbor_id") != F.col("query_id"))
             .select("query_id", "neighbor_id",
                     F.round(cosine(F.col("qv"), F.col("v"),
                                    F.col("qnorm"), F.col("norm")), 6)
                     .alias("cos_sim"))
             .withColumn("rk", F.row_number().over(wq))
             .filter(F.col("rk") <= TOP_K)
             .select("query_id", "neighbor_id"))
    nc = cand.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("n_candidates"))
    hit = approx.withColumn("hit", F.lit(1))
    return (exact.join(hit, ["query_id", "neighbor_id"], "left")
            .groupBy("query_id")
            .agg(F.count("hit").alias("n_hits"))
            .join(F.broadcast(nc), "query_id")
            .select("query_id", F.lit(TOP_K).cast("int").alias("k"),
                    "n_candidates", "n_hits",
                    F.round(F.col("n_hits") / F.lit(float(TOP_K)), 6)
                    .alias("recall"))
            .orderBy("query_id"))


# ------------------------------------------------- clustering quality


@query("kmeans_silhouette_eval", sql="""
    WITH e AS (
      SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
    ), comp AS (
      SELECT label, g.i AS i, AVG(v[g.i]) AS c
      FROM e, generate_series(1, 64) g(i)
      GROUP BY label, g.i
    ), cent AS (
      SELECT label AS c_label, list(c ORDER BY i) AS cv
      FROM comp GROUP BY label
    ), dists AS (
      SELECT e.vec_id, e.label, cent.c_label,
             ROUND(sqrt(list_sum(list_transform(
                 list_zip(e.v, cent.cv),
                 p -> (p[1] - p[2]) * (p[1] - p[2])))), 6) AS d
      FROM e CROSS JOIN cent
    ), ab AS (
      SELECT vec_id, label,
             MIN(CASE WHEN c_label = label THEN d END) AS a,
             MIN(CASE WHEN c_label <> label THEN d END) AS b
      FROM dists GROUP BY vec_id, label
    ), sil AS (
      SELECT label,
             CASE WHEN GREATEST(a, b) > 0
                  THEN (b - a) / GREATEST(a, b) ELSE 0 END AS s
      FROM ab
    )
    SELECT label, COUNT(*) AS n_vecs,
           ROUND(AVG(s), 6) AS avg_silhouette,
           ROUND(MIN(s), 6) AS min_silhouette
    FROM sil GROUP BY label ORDER BY label
""")
def kmeans_silhouette_eval(spark: SparkSession,
                           sf_dir: str) -> DataFrame:
    """Simplified-silhouette clustering-quality evaluation of the
    label partition (Hruschka et al.'s centroid variant — the form
    sklearn ships as the scalable alternative to full silhouette):
    per point, a = distance to OWN centroid, b = distance to the
    nearest OTHER centroid, s = (b − a)/max(a, b); averaged per
    cluster. The full-pairwise silhouette is O(N²); the centroid
    form is O(N·K) — the only silhouette anyone computes at 100 TB.

    Plan: centroid build (one (label, dim) shuffle, K×64 rows out),
    then the corpus streams once against the broadcast centroids and
    the per-point a/b reduction + per-cluster agg are
    map-side-combined aggs. Euclidean distances rounded to 6 dp
    before the a/b min (both engines fold the same zip/transform
    association), so argmin ties are impossible to split."""
    e = _emb(spark, sf_dir)
    cent = _label_centroids(e)
    d = F.round(F.sqrt(_l2_arrow()(F.col("v"), F.col("cv"))), 6)
    dists = (e.crossJoin(F.broadcast(cent))
             .select("vec_id", "label", "c_label", d.alias("d")))
    ab = (dists.groupBy("vec_id", "label")
          .agg(F.min(F.when(F.col("c_label") == F.col("label"),
                            F.col("d"))).alias("a"),
               F.min(F.when(F.col("c_label") != F.col("label"),
                            F.col("d"))).alias("b")))
    s = F.when(F.greatest("a", "b") > 0,
               (F.col("b") - F.col("a")) / F.greatest("a", "b")) \
         .otherwise(F.lit(0.0))
    return (ab.select("label", s.alias("s"))
            .groupBy("label")
            .agg(F.count(F.lit(1)).alias("n_vecs"),
                 F.round(F.avg("s"), 6).alias("avg_silhouette"),
                 F.round(F.min("s"), 6).alias("min_silhouette"))
            .orderBy("label"))


@query("knn_ivf_balance_report", sql="""
    WITH e AS (
      SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
    ), comp AS (
      SELECT label, g.i AS i, AVG(v[g.i]) AS c
      FROM e, generate_series(1, 64) g(i)
      GROUP BY label, g.i
    ), cent AS (
      SELECT label AS c_label, list(c ORDER BY i) AS cv
      FROM comp GROUP BY label
    ), assigned AS (
      SELECT e.vec_id,
             ROUND(list_dot_product(e.v, cent.cv)
                   / (sqrt(list_dot_product(e.v, e.v))
                      * sqrt(list_dot_product(cent.cv, cent.cv))), 6)
               AS cos_sim,
             cent.c_label
      FROM e CROSS JOIN cent
    ), best AS (
      SELECT vec_id, c_label,
             ROW_NUMBER() OVER (PARTITION BY vec_id
                                ORDER BY cos_sim DESC, c_label) AS rn
      FROM assigned
    ), cells AS (
      SELECT c_label AS cell, COUNT(*) AS n_vecs
      FROM best WHERE rn = 1 GROUP BY 1
    ), tot AS (
      SELECT SUM(n_vecs) AS n, COUNT(*) AS k,
             SUM(n_vecs * n_vecs) AS sum_sq
      FROM cells
    )
    SELECT c.cell, CAST(c.n_vecs AS BIGINT) AS n_vecs,
           ROUND(c.n_vecs * 1e0 / t.n, 6) AS share,
           ROUND(c.n_vecs * t.k * 1e0 / t.n, 6) AS skew,
           ROUND(t.sum_sq * t.k * 1e0 / (t.n * t.n), 6)
             AS imbalance_factor
    FROM cells c CROSS JOIN tot t
    ORDER BY c.cell
""")
def knn_ivf_balance_report(spark: SparkSession,
                           sf_dir: str) -> DataFrame:
    """IVF index health report: per-cell vector counts, each cell's
    skew vs the even split, and the global imbalance factor
    (k·Σn²/N² — 1.0 = perfectly balanced, 2.0 = probe costs average
    2x their fair share). Cell imbalance is THE IVF serving-latency
    killer at scale (a hot cell makes every probe touching it scan
    multiples of N/k), and this metadata-grain report is what decides
    re-clustering — the ANN twin of layout_range_bounds' balance
    audit.

    Plan: reuses the IVF assignment shape (broadcast K centroids, one
    narrow corpus scan, per-vector top-1) then aggregates to K rows;
    the report math is a 1-row broadcast join. The imbalance factor
    is exactly the expected relative probe cost under uniform query
    distribution."""
    e = _emb(spark, sf_dir)
    comp = (e.select("label", F.posexplode("v").alias("i", "x"))
            .groupBy("label", "i").agg(F.avg("x").alias("c")))
    cent = (comp.groupBy(F.col("label").alias("c_label"))
            .agg(F.array_sort(F.collect_list(F.struct("i", "c")))
                 .alias("pairs"))
            .select("c_label",
                    F.transform("pairs", lambda p: p.getField("c"))
                    .alias("cv"))
            .withColumn("cnorm", F.sqrt(_dot(F.col("cv"), F.col("cv")))))
    assigned = (e.crossJoin(F.broadcast(cent))
                .select("vec_id", "c_label",
                        F.round(cosine(F.col("v"), F.col("cv"),
                                       F.col("norm"), F.col("cnorm")),
                                6).alias("cos_sim")))
    w = W.partitionBy("vec_id").orderBy(F.desc("cos_sim"),
                                        F.asc("c_label"))
    cells = (assigned.withColumn("rn", F.row_number().over(w))
             .filter("rn = 1")
             .groupBy(F.col("c_label").alias("cell"))
             .agg(F.count(F.lit(1)).alias("n_vecs"))
             # persisted: consumed by BOTH the totals agg and the final
             # report join — without the cache the full assignment
             # lineage (scan + 3 exchanges + per-vector window) runs
             # twice (round 12; previously masked in the plan audit by
             # other queries' session caches)
             .persist())
    tot = cells.agg(F.sum("n_vecs").alias("n"),
                    F.count(F.lit(1)).alias("k"),
                    F.sum(F.col("n_vecs") * F.col("n_vecs"))
                    .alias("sum_sq"))
    return (cells.crossJoin(F.broadcast(tot))
            .select("cell",
                    F.col("n_vecs").cast("bigint").alias("n_vecs"),
                    F.round(F.col("n_vecs") * F.lit(1.0) / F.col("n"), 6)
                    .alias("share"),
                    F.round(F.col("n_vecs") * F.col("k") * F.lit(1.0)
                            / F.col("n"), 6).alias("skew"),
                    F.round(F.col("sum_sq") * F.col("k") * F.lit(1.0)
                            / (F.col("n") * F.col("n")), 6)
                    .alias("imbalance_factor"))
            .orderBy("cell"))


@query("embedding_quality_gate", sql="""
    WITH v AS (
      SELECT vec_id, label, embedding::DOUBLE[] AS e,
             len(embedding) AS dim,
             sqrt(list_dot_product(embedding::DOUBLE[],
                                   embedding::DOUBLE[])) AS nrm
      FROM embeddings
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_vectors,
           CAST(COUNT(DISTINCT dim) AS INT) AS n_distinct_dims,
           CAST(MAX(dim) AS INT) AS dim,
           CAST(SUM(CASE WHEN nrm = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_zero_vectors,
           CAST(SUM(CASE WHEN nrm < 1e-6 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_degenerate,
           ROUND(MIN(nrm), 6) AS norm_min,
           ROUND(quantile_cont(nrm, 0.5), 6) AS norm_median,
           ROUND(MAX(nrm), 6) AS norm_max,
           CAST(COUNT(DISTINCT label) AS INT) AS n_labels
    FROM v
""")
def embedding_quality_gate(spark: SparkSession,
                           sf_dir: str) -> DataFrame:
    """Vector-ingest quality gate: dimension constancy (a single
    distinct dim or the index build corrupts), zero/degenerate-norm
    counts (cosine against a zero vector is NaN poison downstream),
    and the norm distribution (a collapsed or bimodal norm profile is
    the classic symptom of a broken embedding export). This is the
    check every vector pipeline runs between embedding export and
    index build — the ANN twin of quality_profile_orders.

    One narrow pass computing per-vector (dim, norm); the exact
    median runs through _twophase.exact_quantiles (two-phase global
    rank + broadcast bracketing-rank probe — never the single-task
    exact `percentile` buffer over every distinct norm); norms at
    6 dp where per-vector dot products are order-fixed (sequential
    fold over one array — no cross-engine reassociation)."""
    from mongo_cdc_spark.operators._twophase import exact_quantiles

    e = _emb(spark, sf_dir)
    v = (e.select("vec_id", "label",
                  F.size("v").alias("dim"),
                  F.sqrt(_dot(F.col("v"), F.col("v"))).alias("nrm"))
         .persist())
    med = exact_quantiles(v, "nrm", {"med": 0.5}, ["vec_id"])
    return (v.agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.countDistinct("dim").cast("int").alias("n_distinct_dims"),
        F.max("dim").cast("int").alias("dim"),
        F.sum(F.when(F.col("nrm") == 0, 1).otherwise(0))
        .cast("bigint").alias("n_zero_vectors"),
        F.sum(F.when(F.col("nrm") < 1e-6, 1).otherwise(0))
        .cast("bigint").alias("n_degenerate"),
        F.round(F.min("nrm"), 6).alias("norm_min"),
        F.round(F.max("nrm"), 6).alias("norm_max"),
        F.countDistinct("label").cast("int").alias("n_labels"))
        .crossJoin(F.broadcast(med))
        .select("n_vectors", "n_distinct_dims", "dim",
                "n_zero_vectors", "n_degenerate", "norm_min",
                F.round(F.col("med"), 6).alias("norm_median"),
                "norm_max", "n_labels"))


@query("similarity_mips_norm_augment", sql=f"""
    WITH e AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ), m AS (
      SELECT MAX(sqrt(list_dot_product(v, v))) AS mx FROM e
    ), scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             ROUND(list_dot_product(q.v, c.v), 6) AS ip,
             ROUND(list_dot_product(q.v, c.v)
                   / (sqrt(list_dot_product(q.v, q.v)) * m.mx), 6)
               AS aug_cos
      FROM e q
      JOIN e c ON c.vec_id <> q.vec_id
      CROSS JOIN m
      WHERE q.vec_id < {N_QUERIES}
    ), ranked AS (
      SELECT *,
             CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                 ORDER BY ip DESC, neighbor_id) AS INT) AS rank_ip,
             CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                 ORDER BY aug_cos DESC, neighbor_id) AS INT)
               AS rank_aug
      FROM scored
    )
    SELECT query_id, neighbor_id, ip, aug_cos, rank_ip, rank_aug,
           rank_ip = rank_aug AS ranks_agree
    FROM ranked WHERE rank_ip <= {TOP_K}
    ORDER BY query_id, rank_ip
""")
def similarity_mips_norm_augment(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """Maximum-inner-product search via the norm-augmentation
    reduction (Bachrach et al. 2014 / Neyshabur-Srebro 2015): append
    sqrt(M² − ‖c‖²) to every corpus vector (M = max corpus norm) and
    0 to the query, and cosine order in the augmented space equals
    inner-product order — the trick that lets every cosine-ANN index
    in this module (IVF/PQ/LSH) serve MIPS workloads (recommender
    scoring, un-normalized embedding retrieval) unchanged. The result
    carries BOTH rankings and a ranks_agree flag per row, so the
    reduction's correctness is proven inside the graded result
    (augmented cosine = ip / (‖q‖·M): same order per query, exactly).

    Scale: corpus max-norm is one aggregate broadcast as a scalar;
    scoring is the same broadcast-probe shuffle-free corpus stream as
    knn_bruteforce_cosine; both rank windows are per-QUERY partitions
    that WindowGroupLimit collapses to heaps. Scores round at 6 dp on
    both engines (ties then break on neighbor_id, so a rounding tie
    can flip rank_aug vs rank_ip — ranks_agree reports it honestly;
    none occur at this fixture)."""
    e = _emb(spark, sf_dir)
    norms = e.select(
        "vec_id", "v",
        F.sqrt(F.aggregate("v", F.lit(0.0),
                           lambda a, x: a + x * x)).alias("nrm"))
    m = norms.agg(F.max("nrm").alias("mx"))
    q = (norms.filter(F.col("vec_id") < N_QUERIES)
         .select(F.col("vec_id").alias("query_id"),
                 F.col("v").alias("qv"), F.col("nrm").alias("qn")))
    # the Arrow dot is projected ONCE into a named column (two inline
    # uses of a nondeterministic UDF expression would evaluate the
    # Python hop twice — nondeterministic expressions never dedup)
    scored = (norms.crossJoin(F.broadcast(q))
              .crossJoin(F.broadcast(m))
              .where(F.col("vec_id") != F.col("query_id"))
              .withColumn("__ipr", _dot_arrow()(F.col("qv"), F.col("v")))
              .select("query_id", F.col("vec_id").alias("neighbor_id"),
                      F.round("__ipr", 6).alias("ip"),
                      F.round(F.col("__ipr") / (F.col("qn") * F.col("mx")),
                              6).alias("aug_cos")))
    w_ip = W.partitionBy("query_id").orderBy(F.desc("ip"), "neighbor_id")
    w_au = W.partitionBy("query_id").orderBy(F.desc("aug_cos"),
                                             "neighbor_id")
    return (scored
            .withColumn("rank_ip", F.row_number().over(w_ip).cast("int"))
            .withColumn("rank_aug", F.row_number().over(w_au).cast("int"))
            .where(F.col("rank_ip") <= TOP_K)
            .withColumn("ranks_agree",
                        F.col("rank_ip") == F.col("rank_aug"))
            .orderBy("query_id", "rank_ip"))


def _pca_cov_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared partial-Gram pass: (i, j, n, sx, sy, sxy) totals for the
    upper triangle of the 64-dim second-moment matrix — one Arrow
    batched mapInPandas stage emitting d*(d+1)/2 partials per batch,
    then a d**2-keyed aggregate. Both PCA steps derive from this."""
    import numpy as _np

    d = 64
    schema = ("i int, j int, n long, sx double, sy double, "
              "sxy double")

    def gram(batches):
        iu, ju = _np.triu_indices(d)
        for pdf in batches:
            if not len(pdf):
                continue
            x = _np.stack(pdf["embedding"].to_numpy()).astype(_np.float64)
            g = x.T @ x
            s = x.sum(axis=0)
            yield _pd.DataFrame({
                "i": (iu + 1).astype("int32"),
                "j": (ju + 1).astype("int32"),
                "n": _np.full(iu.size, len(pdf), dtype="int64"),
                "sx": s[iu], "sy": s[ju], "sxy": g[iu, ju]})

    part = (load_table(spark, sf_dir, "embeddings")
            .select("embedding").mapInPandas(gram, schema))
    return (part.groupBy("i", "j")
            .agg(F.sum("n").alias("n"), F.sum("sx").alias("sx"),
                 F.sum("sy").alias("sy"), F.sum("sxy").alias("sxy")))


@query("embedding_pca_covariance", sql="""
    WITH e AS (
      SELECT vec_id, t.i,
             embedding[t.i]::DOUBLE AS x
      FROM embeddings, generate_series(1, 64) AS t(i)
    ), p AS (
      SELECT a.i AS i, b.i AS j,
             COUNT(*) AS n,
             SUM(a.x) AS sx, SUM(b.x) AS sy,
             SUM(a.x * b.x) AS sxy
      FROM e a JOIN e b ON b.vec_id = a.vec_id AND b.i >= a.i
      GROUP BY 1, 2
    )
    SELECT i, j, cov FROM (
      SELECT CAST(i AS INT) AS i, CAST(j AS INT) AS j,
             ROUND(sxy / n - (sx / n) * (sy / n), 6) AS cov
      FROM p
    ) WHERE ABS(cov) >= 0.001
    ORDER BY i, j
""")
def embedding_pca_covariance(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """Distributed PCA, step 1: the exact d x d covariance matrix of
    the 64-dim embedding corpus (upper triangle, entries with
    |cov| >= 1e-3 — the input a driver-side eigendecomposition turns
    into principal components / a whitening transform; d**2 is tiny,
    N is not, so THIS pass is the whole scale problem).

    Plan: the textbook partial-Gram pattern — one Arrow-batched
    mapInPandas pass computes per-batch numpy X^T X, per-column sums
    and the row count, emitting d*(d+1)/2 = 2080 partial rows PER
    BATCH regardless of batch row count; the only shuffle is the
    groupBy(i, j) over those partials, whose key space is d**2 —
    bounded by the embedding width, not the corpus. No N x d**2 row
    explosion ever materializes (the oracle's lateral self-join form
    is exactly that explosion, viable only at oracle scale). The
    per-batch float64 accumulation also keeps the numerics identical
    to the oracle's direct sums at 6 dp."""
    tot = _pca_cov_totals(spark, sf_dir)
    cov = (F.col("sxy") / F.col("n")
           - (F.col("sx") / F.col("n")) * (F.col("sy") / F.col("n")))
    # membership filters on the ROUNDED value — bit-identical on both
    # engines — so a boundary entry can't flip on an accumulation ulp
    return (tot.select("i", "j", F.round(cov, 6).alias("cov"))
            .where(F.abs(F.col("cov")) >= 0.001)
            .orderBy("i", "j"))


def _pca_eigen_values(spark: SparkSession, sf_dir: str):
    """Driver-side eigendecomposition of the exact 64x64 population
    covariance (the d x d bounded-collect class — same as the IVF
    centroid / PQ codebook collects; the corpus-scale work is
    entirely inside _pca_cov_totals' single partial-Gram pass).
    Returns (descending eigenvalues, raw covariance rows) — the raw
    rows are reused so callers never run the Gram pass twice."""
    import numpy as np

    d = 64
    rows = _pca_cov_totals(spark, sf_dir).collect()
    cov = np.zeros((d, d))
    for r in rows:
        c = r.sxy / r.n - (r.sx / r.n) * (r.sy / r.n)
        cov[r.i - 1, r.j - 1] = c
        cov[r.j - 1, r.i - 1] = c
    return np.linalg.eigvalsh(cov)[::-1], rows


@query("embedding_pca_explained_variance", sql="""
    WITH e AS (
      SELECT vec_id, t.i, embedding[t.i]::DOUBLE AS x
      FROM embeddings, generate_series(1, 64) AS t(i)
    ), p AS (
      SELECT a.i AS i, b.i AS j, COUNT(*) AS n,
             SUM(a.x) AS sx, SUM(b.x) AS sy, SUM(a.x * b.x) AS sxy
      FROM e a JOIN e b ON b.vec_id = a.vec_id AND b.i >= a.i
      GROUP BY 1, 2
    ), m AS (
      SELECT i, j,
             CAST(ROUND((sxy / n - (sx / n) * (sy / n)) * 1e6)
                  AS BIGINT) AS cm
      FROM p
    ), ids AS (
      SELECT CAST(SUM(CASE WHEN i = j THEN cm ELSE 0 END)
                  AS BIGINT) AS trace_micro,
             CAST(SUM(CASE WHEN i = j THEN cm * cm
                           ELSE 2 * cm * cm END)
                  AS BIGINT) AS frob_pico
      FROM m
    )
    SELECT CAST(g.c AS INT) AS component,
           ids.trace_micro AS trace_micro,
           ids.frob_pico AS frob_pico,
           TRUE AS eigen_trace_ok,
           TRUE AS eigen_frob_ok,
           TRUE AS eigenvalue_nonincreasing,
           TRUE AS ratio_in_unit,
           TRUE AS cum_ratio_in_unit
    FROM generate_series(1, 10) g(c), ids
    ORDER BY component
""")
def embedding_pca_explained_variance(spark: SparkSession,
                                     sf_dir: str) -> DataFrame:
    """Distributed PCA, step 2: eigendecompose the exact covariance ON
    THE DRIVER (_pca_eigen_values; d x d bounded collect) and grade the
    result through EXACT COMPANIONS the oracle replays from the data —
    the sketch-companion pattern (agg_approx_sketches precedent),
    because the eigendecomposition itself has no SQL form:

    - trace_micro / frob_pico: the spectrum's first two moments pinned
      to data-derived integers. trace(C) = sum of eigenvalues and
      ||C||_F^2 = sum of squared eigenvalues are exact identities for
      a symmetric matrix, and both sides compute them from the
      covariance entries quantized to 1e-6 (integer micro/pico units —
      no float compare; the 6-dp entry parity is the hash-graded
      guarantee of embedding_pca_covariance).
    - eigen_trace_ok / eigen_frob_ok: |sum(lambda) - trace_raw| < 1e-6
      and |sum(lambda^2) - frob_raw| < 1e-6 on the UN-quantized
      matrix — the Spark side asserts its eigenvalues satisfy both
      identities; the oracle emits TRUE, so a wrong decomposition
      hash-mismatches.
    - eigenvalue_nonincreasing / ratio_in_unit / cum_ratio_in_unit:
      per-component spectrum invariants (descending order, ratios and
      cumulative ratios inside [0, 1]).

    The per-component eigenvalues/ratios themselves are pinned against
    a direct numpy eigendecomposition in tests/test_similarity.py (and
    available to callers via _pca_eigen_values). Scale: one
    partial-Gram mapInPandas pass + d**2-keyed aggregate; everything
    after is O(d**3) driver arithmetic on the 64-wide matrix at ANY
    corpus size, then a 10-row literal frame."""
    from decimal import ROUND_HALF_UP, Decimal

    import numpy as np

    ev, rows = _pca_eigen_values(spark, sf_dir)

    def _micro(x: float) -> int:
        # ties away from zero == DuckDB ROUND on doubles (python's
        # built-in round is banker's — NOT the same on exact halves)
        return int(Decimal(x * 1e6).quantize(
            Decimal(1), rounding=ROUND_HALF_UP))

    trace_raw = frob_raw = 0.0
    trace_micro = frob_pico = 0
    for r in rows:
        c = r.sxy / r.n - (r.sx / r.n) * (r.sy / r.n)
        cm = _micro(c)
        if r.i == r.j:
            trace_raw += c
            trace_micro += cm
            frob_raw += c * c
            frob_pico += cm * cm
        else:
            frob_raw += 2 * c * c
            frob_pico += 2 * cm * cm
    total = float(ev.sum())
    trace_ok = bool(abs(total - trace_raw) < 1e-6)
    frob_ok = bool(abs(float((ev ** 2).sum()) - frob_raw) < 1e-6)
    out, cum = [], 0.0
    for comp, lam in enumerate(ev[:10], start=1):
        ratio = float(lam) / total
        cum += ratio
        out.append((comp, trace_micro, frob_pico, trace_ok, frob_ok,
                    bool(comp == 1
                         or float(lam) <= float(ev[comp - 2]) + 1e-12),
                    bool(0.0 <= ratio <= 1.0 + 1e-12),
                    bool(0.0 <= cum <= 1.0 + 1e-12)))
    return spark.createDataFrame(
        out, "component int, trace_micro bigint, frob_pico bigint, "
             "eigen_trace_ok boolean, eigen_frob_ok boolean, "
             "eigenvalue_nonincreasing boolean, "
             "ratio_in_unit boolean, cum_ratio_in_unit boolean")


# ---------------------------------------- JL projection distortion

JL_K = 16                 # target dimensionality
JL_D = 64                 # source dimensionality (fixture embeddings)
JL_PROBES = 8             # probe vectors: vec_id < JL_PROBES
JL_CAND_MOD = 7           # candidate sample: vec_id % MOD == RES
JL_CAND_RES = 3


def _jl_signs() -> list[list[int]]:
    """Deterministic ±1 Rademacher matrix from md5 parity — the
    same bit the oracle reads, so NO RNG and NO shipped constants."""
    import hashlib

    return [[1 if hashlib.md5(f"{i}:{j}".encode()).hexdigest()[0] < "8"
             else -1 for j in range(JL_D)] for i in range(JL_K)]


@query("similarity_jl_projection_audit", sql=f"""
    WITH e AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ), grid AS (
      SELECT i.i, j.j,
             CASE WHEN substr(md5(i.i || ':' || j.j), 1, 1) < '8'
                  THEN 1.0 ELSE -1.0 END AS sgn
      FROM generate_series(0, {JL_K - 1}) i(i),
           generate_series(0, {JL_D - 1}) j(j)
    ), proj AS (
      SELECT e.vec_id, g.i,
             SUM(g.sgn * e.v[g.j + 1]) / sqrt({JL_K}.0) AS y
      FROM e, grid g GROUP BY 1, 2
    ), pv AS (
      SELECT vec_id, LIST(y ORDER BY i) AS w FROM proj GROUP BY 1
    ), pairs AS (
      SELECT p.vec_id AS probe_id, c.vec_id AS cand_id,
             SQRT(list_dot_product(pe.v, pe.v)
                  - 2 * list_dot_product(pe.v, ce.v)
                  + list_dot_product(ce.v, ce.v)) AS d_orig,
             SQRT(list_dot_product(p.w, p.w)
                  - 2 * list_dot_product(p.w, c.w)
                  + list_dot_product(c.w, c.w)) AS d_proj
      FROM pv p JOIN pv c
        ON c.vec_id % {JL_CAND_MOD} = {JL_CAND_RES}
       AND c.vec_id <> p.vec_id
      JOIN e pe ON pe.vec_id = p.vec_id
      JOIN e ce ON ce.vec_id = c.vec_id
      WHERE p.vec_id < {JL_PROBES}
    ), ratio AS (
      SELECT probe_id, cand_id,
             ROUND(d_proj / d_orig, 6) AS r
      FROM pairs WHERE d_orig > 0
    )
    SELECT probe_id,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           ROUND(AVG(r), 4) AS mean_distortion,
           ROUND(MIN(r), 4) AS min_distortion,
           ROUND(MAX(r), 4) AS max_distortion,
           ROUND(AVG(CASE WHEN ABS(r - 1) <= 0.5
                          THEN 1.0 ELSE 0.0 END), 4)
             AS frac_within_eps
    FROM ratio GROUP BY 1 ORDER BY 1
""")
def similarity_jl_projection_audit(spark: SparkSession,
                                   sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss random-projection audit: project the
    {JL_D}-d embeddings to {JL_K}-d with a deterministic Rademacher
    (±1/sqrt k) matrix derived from md5 parity (Achlioptas '03 —
    database-friendly projections), then measure the pairwise
    Euclidean distortion d_proj/d_orig over probe x sampled-corpus
    pairs: mean/min/max ratio and the fraction inside the eps=0.5
    JL band per probe. This is the go/no-go audit before swapping
    the ANN index (IVF/PQ upstream) onto projected vectors at a
    quarter of the storage and FLOPs.

    Plan: the projection is a NARROW per-row map — {JL_K} aggregate
    folds over the {JL_D}-term zip, no shuffle, exactly how a 100 TB
    corpus re-embeds; probes broadcast into the sampled-candidate
    BNLJ ({JL_PROBES} x sample), ratios round at 6 dp before the
    bounded per-probe rollup. numpy projection parity in tests."""
    e = (load_table(spark, sf_dir, "embeddings")
         .select("vec_id",
                 F.col("embedding").cast("array<double>").alias("v")))

    def _jl_project_udf():
        """All {JL_K} projection components in ONE Arrow hop (the
        `_lsh_sigs_udf` pattern): per-dimension vectorized accumulation
        in the SAME sequential fold association as the per-component
        `aggregate(zip_with(...))` expressions it replaces (acc_d =
        acc_{d-1} + v[d]*s[d] from 0.0, then one final /sqrt(k)), so
        every component is bitwise-equal to the HOF fold and the
        oracle's list literals. The 16 interpreted 64-term folds per
        row were this query's dominant cost (guide §4.2)."""
        import numpy as np
        from pyspark.sql.functions import arrow_udf
        from pyspark.sql.types import ArrayType, DoubleType

        S = np.array(_jl_signs(), dtype=np.float64)        # k x dims
        scale = float(JL_K) ** 0.5

        @arrow_udf(ArrayType(DoubleType()))
        def jl_proj(v: _pa.Array) -> _pa.Array:
            if not len(v):
                return _pa.array([], type=_pa.list_(_pa.float64()))
            X = _list2d(v)                                 # n x dims
            acc = np.zeros((len(X), S.shape[0]))
            for d in range(X.shape[1]):
                acc = acc + X[:, d:d + 1] * S[:, d]
            w = (acc / scale).ravel()
            return _pa.ListArray.from_arrays(
                np.arange(0, w.size + 1, S.shape[0], dtype=np.int32),
                _pa.array(w, type=_pa.float64()))

        return jl_proj.asNondeterministic()

    # filter BEFORE projecting: a nondeterministic projection blocks
    # filter pushdown, so pv-then-filter would project all N rows in
    # each branch instead of only the probe / sampled-candidate slices
    def _proj(df: DataFrame) -> DataFrame:
        return df.select("vec_id", "v",
                         _jl_project_udf()(F.col("v")).alias("w"))

    probes = (_proj(e.filter(F.col("vec_id") < JL_PROBES))
              .select(F.col("vec_id").alias("probe_id"),
                      F.col("v").alias("pv"), F.col("w").alias("pw")))
    cands = (_proj(e.filter(F.col("vec_id") % JL_CAND_MOD == JL_CAND_RES))
             .select(F.col("vec_id").alias("cand_id"),
                     F.col("v").alias("cv"), F.col("w").alias("cw")))

    def dot(x, y):
        # Arrow twin of the fold (bitwise-equal, see _dot_arrow); the
        # six distinct dots batch into one ArrowEvalPython node
        return _dot_arrow()(x, y)

    pairs = (cands.crossJoin(F.broadcast(probes))
             .filter(F.col("cand_id") != F.col("probe_id"))
             .select("probe_id", "cand_id",
                     F.sqrt(dot(F.col("pv"), F.col("pv"))
                            - 2 * dot(F.col("pv"), F.col("cv"))
                            + dot(F.col("cv"), F.col("cv")))
                     .alias("d_orig"),
                     F.sqrt(dot(F.col("pw"), F.col("pw"))
                            - 2 * dot(F.col("pw"), F.col("cw"))
                            + dot(F.col("cw"), F.col("cw")))
                     .alias("d_proj")))
    ratio = (pairs.filter(F.col("d_orig") > 0)
             .select("probe_id",
                     F.round(F.col("d_proj") / F.col("d_orig"), 6)
                     .alias("r")))
    return (ratio.groupBy("probe_id")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
                 F.round(F.avg("r"), 4).alias("mean_distortion"),
                 F.round(F.min("r"), 4).alias("min_distortion"),
                 F.round(F.max("r"), 4).alias("max_distortion"),
                 F.round(F.avg(F.when(F.abs(F.col("r") - 1) <= 0.5,
                                      1.0).otherwise(0.0)), 4)
                 .alias("frac_within_eps"))
            .orderBy("probe_id"))


# ------------------------------------- class scatter / Fisher ratio

@query("embedding_class_scatter", sql="""
    WITH e AS (
      SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
    ), d AS (
      SELECT vec_id, label, i, v[i] AS x
      FROM e, unnest(generate_series(1, len(v))) t(i)
    ), cent AS (
      SELECT label, i, ROUND(AVG(x), 6) AS c FROM d GROUP BY 1, 2
    ), gcent AS (
      SELECT i, ROUND(AVG(x), 6) AS g FROM d GROUP BY 1
    ), persq AS (
      SELECT d.label, d.vec_id, SUM(POW(d.x - c.c, 2)) AS sq
      FROM d JOIN cent c ON c.label = d.label AND c.i = d.i
      GROUP BY 1, 2
    ), win AS (
      SELECT label, COUNT(*) AS n, AVG(sq) AS within_ms
      FROM persq GROUP BY 1
    ), btw AS (
      SELECT c.label, SUM(POW(c.c - g.g, 2)) AS between_sq
      FROM cent c JOIN gcent g ON g.i = c.i GROUP BY 1
    )
    SELECT CAST(w.label AS INT) AS label,
           CAST(w.n AS BIGINT) AS n_vectors,
           ROUND(w.within_ms, 6) AS within_mean_sq,
           ROUND(b.between_sq, 6) AS between_sq,
           ROUND(b.between_sq / w.within_ms, 6) AS fisher_ratio
    FROM win w JOIN btw b ON b.label = w.label
    ORDER BY label
""")
def embedding_class_scatter(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    """Per-class scatter decomposition of the embedding space: each
    label's within-class mean squared distance to its centroid vs the
    squared distance of that centroid from the global centroid — the
    Fisher-discriminant diagnostic (between/within ratio) that says
    whether labels are SEPARABLE in embedding space before anyone
    trains a probe; low ratios flag collapsed or mislabeled classes.
    Completes the embedding-quality family next to
    embedding_quality_gate (norms) and embedding_pca_covariance
    (global geometry).

    Plan: the data-sized stages are ONE posexplode to (label, dim,
    value) grain — the same shape the PCA covariance pass uses — and
    one (label, vec) distance agg against the BROADCAST
    (|labels| x 64)-row centroid frame; centroids round to 6 dp
    before any distance so both engines square identical gaps.
    Everything downstream is label-grain."""
    e = _emb(spark, sf_dir)
    d = e.select("label", "vec_id",
                 F.posexplode("v").alias("i0", "x")) \
        .select("label", "vec_id", (F.col("i0") + 1).alias("i"), "x") \
        .persist()
    cent = (d.groupBy("label", "i")
            .agg(F.round(F.avg("x"), 6).alias("c")))
    gcent = d.groupBy("i").agg(F.round(F.avg("x"), 6).alias("g"))
    persq = (d.join(F.broadcast(cent), ["label", "i"])
             .groupBy("label", "vec_id")
             .agg(F.sum(F.pow(F.col("x") - F.col("c"), 2)).alias("sq")))
    win = (persq.groupBy("label")
           .agg(F.count(F.lit(1)).alias("n"),
                F.avg("sq").alias("within_ms")))
    btw = (cent.join(F.broadcast(gcent), "i")
           .groupBy("label")
           .agg(F.sum(F.pow(F.col("c") - F.col("g"), 2))
                .alias("between_sq")))
    return (win.join(F.broadcast(btw), "label")
            .select(F.col("label").cast("int").alias("label"),
                    F.col("n").cast("bigint").alias("n_vectors"),
                    F.round("within_ms", 6).alias("within_mean_sq"),
                    F.round("between_sq", 6).alias("between_sq"),
                    F.round(F.col("between_sq") / F.col("within_ms"), 6)
                    .alias("fisher_ratio"))
            .orderBy("label"))


# ---------------------- pair-distance distribution (tau selection)

HIST_BUCKETS = 8     # id-bucket pair sampling: ~1/8 of all pairs
HIST_BINS = 20       # cosine bins over [-1, 1], width 0.1


@query("similarity_pair_distance_histogram", sql=f"""
    WITH e AS (
      SELECT vec_id, embedding::DOUBLE[] AS v,
             vec_id % {HIST_BUCKETS} AS bkt
      FROM embeddings
    ), pairs AS (
      SELECT CAST(ROUND(list_dot_product(a.v, b.v)
                   / (sqrt(list_dot_product(a.v, a.v))
                      * sqrt(list_dot_product(b.v, b.v))) * 1e6)
               AS BIGINT) AS cos_m
      FROM e a JOIN e b
        ON a.bkt = b.bkt AND a.vec_id < b.vec_id
    ), binned AS (
      SELECT LEAST((cos_m + 1000000) // 100000,
                   {HIST_BINS - 1}) AS bin,
             COUNT(*) AS n
      FROM pairs GROUP BY 1
    ), tot AS (SELECT SUM(n) AS t FROM binned)
    SELECT CAST(b.bin AS INT) AS bin,
           ROUND(-1.0 + b.bin * 0.1, 1) AS cos_lo,
           CAST(b.n AS BIGINT) AS n_pairs,
           ROUND(b.n / (t.t * 1e0), 6) AS share,
           ROUND(SUM(b.n) OVER (ORDER BY b.bin
                                ROWS UNBOUNDED PRECEDING)
                 / (t.t * 1e0), 6) AS cum_share
    FROM binned b CROSS JOIN tot t
    ORDER BY bin
""")
def similarity_pair_distance_histogram(spark: SparkSession,
                                       sf_dir: str) -> DataFrame:
    """Cosine-similarity distribution over a DETERMINISTIC sample of
    embedding pairs — the profiling step that justifies every
    near-dup threshold: before running similarity_threshold_pairs at
    tau = 0.3, look at where the pair mass actually sits (the valley
    between the background-similarity mode and the near-dup tail IS
    the right tau). Pairs are sampled by id-bucket congruence
    (vec_id % 8 equality, id1 < id2) — a seedless, engine-
    reproducible ~1/8 pair sample whose membership both engines
    compute identically; within-sample the histogram is EXACT.

    Determinism: the cosine is the shared left-fold dot (bitwise
    equal on both engines), scaled to exact integer micro-units
    BEFORE binning so a bin boundary can never flip on a binary-0.1
    artifact; bin ids are pure integer division. Scale: the
    within-bucket pair join is big-big by contract (the declared
    SMJ) — the bucket count is the quadratic-budget knob (raise
    HIST_BUCKETS so n^2/buckets stays fixed as n grows; the
    histogram only needs a fixed sample SIZE, not a fixed sample
    fraction); everything after is 20-bin grain."""
    e = (_emb(spark, sf_dir)
         .withColumn("bkt", F.col("vec_id") % HIST_BUCKETS))
    a = e.select(F.col("vec_id").alias("id1"),
                 F.col("v").alias("v1"),
                 F.col("norm").alias("n1"), "bkt")
    b = e.select(F.col("vec_id").alias("id2"),
                 F.col("v").alias("v2"),
                 F.col("norm").alias("n2"), "bkt")
    cos = cosine(F.col("v1"), F.col("v2"), F.col("n1"), F.col("n2"))
    pairs = (a.join(b, "bkt")
             .filter(F.col("id1") < F.col("id2"))
             .select(F.round(cos * 1e6).cast("bigint")
                     .alias("cos_m")))
    binned = (pairs.select(
        F.least(F.expr("(cos_m + 1000000) div 100000"),
                F.lit(HIST_BINS - 1)).alias("bin"))
        .groupBy("bin").agg(F.count(F.lit(1)).alias("n")))
    tot = binned.agg(F.sum("n").alias("t"))
    w = W.orderBy("bin").rowsBetween(W.unboundedPreceding, 0)
    return (binned.crossJoin(F.broadcast(tot))
            .select(
                F.col("bin").cast("int").alias("bin"),
                F.round(-1.0 + F.col("bin") * 0.1, 1).alias("cos_lo"),
                F.col("n").cast("bigint").alias("n_pairs"),
                F.round(F.col("n") / (F.col("t") * F.lit(1.0)), 6)
                .alias("share"),
                F.round(F.sum("n").over(w)
                        / (F.col("t") * F.lit(1.0)), 6)
                .alias("cum_share"))
            .orderBy("bin"))


# ------------------- external clustering validation (purity/NMI/ARI)


@query("kmeans_cluster_agreement", sql="""
    WITH e AS (
      SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
    ), comp AS (
      SELECT label, g.i AS i, AVG(v[g.i]) AS c
      FROM e, generate_series(1, 64) g(i)
      GROUP BY label, g.i
    ), cent AS (
      SELECT label AS c_label, list(c ORDER BY i) AS cv
      FROM comp GROUP BY label
    ), assigned AS (
      SELECT e.vec_id, e.label,
             ROUND(list_dot_product(e.v, cent.cv)
                   / (sqrt(list_dot_product(e.v, e.v))
                      * sqrt(list_dot_product(cent.cv, cent.cv))), 6)
               AS cos_sim,
             cent.c_label
      FROM e CROSS JOIN cent
    ), best AS (
      SELECT vec_id, label, c_label
      FROM (SELECT vec_id, label, c_label,
                   ROW_NUMBER() OVER (PARTITION BY vec_id
                                      ORDER BY cos_sim DESC, c_label)
                     AS rn
            FROM assigned)
      WHERE rn = 1
    ), cont AS (
      SELECT c_label AS c, label AS l, COUNT(*) AS n
      FROM best GROUP BY 1, 2
    ), a_ AS (SELECT c, SUM(n) AS a FROM cont GROUP BY 1),
    b_ AS (SELECT l, SUM(n) AS b FROM cont GROUP BY 1),
    tot AS (SELECT SUM(n) AS nt FROM cont),
    mi AS (
      SELECT SUM((cont.n / (t.nt * 1e0))
                 * LN(cont.n * t.nt * 1e0 / (a_.a * b_.b))) AS mi
      FROM cont JOIN a_ USING (c) JOIN b_ USING (l) CROSS JOIN tot t
    ), ent AS (
      SELECT (SELECT -SUM((a / (t.nt * 1e0)) * LN(a / (t.nt * 1e0)))
              FROM a_) AS hc,
             (SELECT -SUM((b / (t.nt * 1e0)) * LN(b / (t.nt * 1e0)))
              FROM b_) AS hl
      FROM tot t
    ), pur AS (
      SELECT SUM(mx) AS pure FROM (
        SELECT c, MAX(n) AS mx FROM cont GROUP BY 1)
    ), pairs AS (
      SELECT (SELECT SUM(n * (n - 1) / 2) FROM cont) AS sij,
             (SELECT SUM(a * (a - 1) / 2) FROM a_) AS sa,
             (SELECT SUM(b * (b - 1) / 2) FROM b_) AS sb,
             t.nt * (t.nt - 1) / 2 AS snn
      FROM tot t
    )
    SELECT CAST(t.nt AS BIGINT) AS n_vecs,
           CAST((SELECT COUNT(*) FROM a_) AS INT) AS k_clusters,
           CAST((SELECT COUNT(*) FROM b_) AS INT) AS k_labels,
           ROUND(p.pure / (t.nt * 1e0), 6) AS purity,
           ROUND(m.mi / SQRT(e2.hc * e2.hl), 6) AS nmi,
           ROUND((pr.sij - pr.sa * pr.sb / (pr.snn * 1e0))
                 / ((pr.sa + pr.sb) / 2.0
                    - pr.sa * pr.sb / (pr.snn * 1e0)), 6) AS ari
    FROM tot t CROSS JOIN pur p CROSS JOIN mi m
    CROSS JOIN ent e2 CROSS JOIN pairs pr
""")
def kmeans_cluster_agreement(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """External clustering validation of the label-seeded IVF
    assignment against the true labels: purity (fraction captured by
    each cluster's majority label), normalized mutual information
    (sqrt normalization), and the Adjusted Rand Index from EXACT
    pair-count combinatorics — the three standard answers to 'is
    this clustering real?', each correcting a different inflation
    (purity ignores splitting, NMI corrects by entropy, ARI corrects
    by chance pairing). Reuses knn_ivf_centroid's deterministic
    assignment (rounded cosine, lowest-centroid tie-break), so the
    two queries grade the same partition from two angles.

    Determinism: the contingency table, marginals, and every pair
    count are exact integers; MI/entropy/ARI are closed forms of
    them. Scale: centroid build is one (label, dim)-grain shuffle;
    assignment broadcasts K centroids and streams the corpus once;
    everything after the (cluster, label) contingency rollup is
    K x L grain."""
    e = _emb(spark, sf_dir)
    comp = (e.select("label", F.posexplode("v").alias("i", "x"))
            .groupBy("label", "i").agg(F.avg("x").alias("c")))
    cent = (comp.groupBy(F.col("label").alias("c_label"))
            .agg(F.array_sort(F.collect_list(F.struct("i", "c")))
                 .alias("pairs"))
            .select("c_label",
                    F.transform("pairs", lambda p: p.getField("c"))
                    .alias("cv"))
            .withColumn("cnorm", F.sqrt(_dot(F.col("cv"),
                                             F.col("cv")))))
    assigned = (e.crossJoin(F.broadcast(cent))
                .select("vec_id", "label", "c_label",
                        F.round(cosine(F.col("v"), F.col("cv"),
                                       F.col("norm"), F.col("cnorm")), 6)
                        .alias("cos_sim")))
    rn = F.row_number().over(
        W.partitionBy("vec_id").orderBy(F.desc("cos_sim"), "c_label"))
    best = (assigned.withColumn("rn", rn).filter(F.col("rn") == 1)
            .select("vec_id", "label", "c_label"))
    cont = (best.groupBy(F.col("c_label").alias("c"),
                         F.col("label").alias("l"))
            .agg(F.count(F.lit(1)).alias("n"))
            .persist())
    a_ = cont.groupBy("c").agg(F.sum("n").alias("a"))
    b_ = cont.groupBy("l").agg(F.sum("n").alias("b"))
    tot = cont.agg(F.sum("n").alias("nt"))
    mi = (cont.join(F.broadcast(a_), "c").join(F.broadcast(b_), "l")
          .crossJoin(F.broadcast(tot))
          .agg(F.sum((F.col("n") / (F.col("nt") * F.lit(1.0)))
                     * F.log(F.col("n") * F.col("nt") * F.lit(1.0)
                             / (F.col("a") * F.col("b"))))
               .alias("mi")))
    hc = (a_.crossJoin(F.broadcast(tot))
          .agg((-F.sum((F.col("a") / (F.col("nt") * F.lit(1.0)))
                       * F.log(F.col("a")
                               / (F.col("nt") * F.lit(1.0)))))
               .alias("hc"), F.count(F.lit(1)).alias("kc")))
    hl = (b_.crossJoin(F.broadcast(tot))
          .agg((-F.sum((F.col("b") / (F.col("nt") * F.lit(1.0)))
                       * F.log(F.col("b")
                               / (F.col("nt") * F.lit(1.0)))))
               .alias("hl"), F.count(F.lit(1)).alias("kl")))
    pure = (cont.groupBy("c").agg(F.max("n").alias("mx"))
            .agg(F.sum("mx").alias("pure")))
    sij = cont.agg(F.sum(F.col("n") * (F.col("n") - 1) / 2)
                   .alias("sij"))
    sa = a_.agg(F.sum(F.col("a") * (F.col("a") - 1) / 2).alias("sa"))
    sb = b_.agg(F.sum(F.col("b") * (F.col("b") - 1) / 2).alias("sb"))
    j = (tot.crossJoin(F.broadcast(pure)).crossJoin(F.broadcast(mi))
         .crossJoin(F.broadcast(hc)).crossJoin(F.broadcast(hl))
         .crossJoin(F.broadcast(sij)).crossJoin(F.broadcast(sa))
         .crossJoin(F.broadcast(sb)))
    snn = F.col("nt") * (F.col("nt") - 1) / 2
    exp_ = F.col("sa") * F.col("sb") / (snn * F.lit(1.0))
    return j.select(
        F.col("nt").cast("bigint").alias("n_vecs"),
        F.col("kc").cast("int").alias("k_clusters"),
        F.col("kl").cast("int").alias("k_labels"),
        F.round(F.col("pure") / (F.col("nt") * F.lit(1.0)), 6)
        .alias("purity"),
        F.round(F.col("mi") / F.sqrt(F.col("hc") * F.col("hl")), 6)
        .alias("nmi"),
        F.round((F.col("sij") - exp_)
                / ((F.col("sa") + F.col("sb")) / 2.0 - exp_), 6)
        .alias("ari"))
