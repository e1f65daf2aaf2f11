"""Vector similarity search.

Reference behavior (/root/reference/src/mcpvectordb/store.py:292-325): exact
(flat) KNN with metadata pre-filters applied *before* ranking, top-k bounded
to [1,100]; vectors are L2-normalised so dot == cosine; the reference itself
stays exact below ~50k rows (store.py:274) and recommends IVF beyond — here
``knn_topk`` is the exact path and ``ivf_topk`` the scale path.

Scale notes:
- :func:`vector_score` picks the kernel by dimension: below 256 dims a
  pure JVM expression (``zip_with`` + ``aggregate``, the query vector a
  plan literal) that stays in whole-stage codegen; at 256 dims and up
  (the API's 768-d default) an Arrow UDF doing one BLAS matmul per batch,
  because a 768-literal expression costs more to analyse than a small
  store costs to score.  The Arrow UDF adds about 0.15 s of fixed cost to
  its stage on a 4-core host, now that ``session.get_spark`` starts
  workers through ``_pyworker`` (it was about 0.3 s while every task
  re-read pyspark.zip and the spark-core jar).  A JVM kernel with the
  query as one constant-folded array literal (``aggregate(zip_with(...))``)
  was measured against it at 768 dims: faster at 1k rows, 1.3-2.4x slower
  at 20k-100k rows — not worth a third kernel;
- the pre-filter sits below the scoring projection, so Catalyst pushes it
  into the Parquet scan (partition pruning on ``library``);
- global top-k compiles to TakeOrderedAndProject — each partition keeps k
  rows, one tiny final merge, no full sort;
- IVF: centroid assignment is a small broadcast cross-join; probing prunes
  the scan to nprobe/nlist of the corpus before exact re-scoring, which is
  exactly the reference's refine_factor semantics (store.py:302,317).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    """Σ a[i]*b[i] in double precision (matches DuckDB list arithmetic)."""
    return F.aggregate(
        F.zip_with(a.cast("array<double>"), b.cast("array<double>"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    # try_divide: a zero vector yields NULL (sorts last under desc) instead
    # of throwing DIVIDE_BY_ZERO under ANSI mode; NULL vectors yield NULL
    return F.try_divide(dot(a, b), l2_norm(a) * l2_norm(b))


def query_vec_lit(vec: Sequence[float]) -> Column:
    """Inline a query vector as a literal array (plan-side broadcast —
    the Spark analog of the reference passing the numpy query vector into
    the LanceDB search builder, store.py:298)."""
    return F.array(*[F.lit(float(v)) for v in vec])


def cosine_pandas(query: Sequence[float]):
    """Arrow-vectorized cosine scorer: one numpy matmul per batch.

    The codegen'd :func:`cosine` expression folds element-by-element; at
    small dims (≤~128) that wins, but for wide embeddings (768-d+) a
    BLAS matmul over the Arrow batch is the faster path — same contract,
    same float64 math (summation order differs in the last ulp, so the
    oracle-checked catalog keeps the expression form)."""
    import numpy as np
    import pandas as pd

    q = np.asarray(list(query), dtype=np.float64)
    qn = np.linalg.norm(q)
    dim = len(q)

    def cos(s):
        # Semantics mirror the expression path exactly: NULL embedding,
        # wrong-dimension embedding, or zero vector → NULL score (which
        # sorts LAST under desc — NaN would sort FIRST in Spark).
        vals = s.tolist()
        ok = np.array([v is not None and len(v) == dim for v in vals])
        out = np.full(len(vals), np.nan)
        if ok.any():
            m = np.array([vals[i] for i in np.nonzero(ok)[0]], dtype=np.float64)
            norms = np.linalg.norm(m, axis=1) * qn
            with np.errstate(divide="ignore", invalid="ignore"):
                scores = np.where(norms > 0, (m @ q) / norms, np.nan)
            out[np.nonzero(ok)[0]] = scores
        return pd.Series(pd.array(out, dtype="Float64"))  # nullable: NaN→NULL in Spark

    # annotations set as real objects: the module's postponed-annotations
    # mode would leave pandas_udf with unresolvable string hints
    cos.__annotations__ = {"s": pd.Series, "return": pd.Series}
    return F.pandas_udf(cos, "double")


def vector_score(
    vec: Column, query: Sequence[float], metric: str = "cosine", impl: str = "auto"
) -> Column:
    """The similarity kernel of a query against a vector column.

    ``impl``: "expr" (codegen fold — exact, oracle-parity), "pandas"
    (Arrow/BLAS batch — faster for wide vectors), or "auto" (expr below
    256 dims, pandas at or above).  The literal kernel inlines every
    component as a plan literal, so at 768-d its analysis alone costs
    more than scoring a small store — "auto" avoids it there.  The Arrow
    kernel adds about 0.15 s of fixed cost per stage (Python worker
    start-up included); a constant-folded array-literal JVM kernel beats
    it at 1k rows but is 1.3-2.4x slower at 20k-100k rows, so "auto"
    stays Arrow at >= 256 dims."""
    query = [float(x) for x in query]
    if impl == "auto":
        impl = "pandas" if len(query) >= 256 else "expr"
    if impl == "pandas" and metric == "cosine":
        return cosine_pandas(query)(vec)
    q = query_vec_lit(query)
    return cosine(vec, q) if metric == "cosine" else dot(vec, q)


def knn_topk(
    df: DataFrame,
    query: Sequence[float],
    k: int,
    vec_col: str = "embedding",
    pre_filter: Column | None = None,
    metric: str = "cosine",
    tie_col: str | None = None,
    score_col: str = "score",
    impl: str = "auto",
) -> DataFrame:
    """Exact KNN: filter → score → top-k (reference search path §3.1).

    Ordering is score DESC with an explicit id tiebreak so results are total
    and deterministic (FIXTURES.md table 3 contract).

    ``impl``: the kernel choice of :func:`vector_score`.
    """
    if pre_filter is not None:
        df = df.filter(pre_filter)
    scored = df.withColumn(score_col, vector_score(F.col(vec_col), query, metric, impl))
    order = [F.desc(score_col)] + ([F.asc(tie_col)] if tie_col else [])
    return scored.orderBy(*order).limit(k)


def knn_join(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    query_id: str = "query_id",
    query_vec: str = "query_vec",
    corpus_id: str = "id",
    vec_col: str = "embedding",
    score_col: str = "score",
    pair_filter: Column | None = None,
) -> DataFrame:
    """Batch KNN: top-k corpus neighbors for every query row.

    The (small) query set is broadcast against the corpus — a map-side
    cross product; per-query top-k via a window. At 100 TB the corpus side
    streams through executors once, queries stay in memory.
    ``pair_filter`` (e.g. excluding self-matches) is applied before ranking.
    """
    q = F.broadcast(
        queries.select(F.col(query_id), F.col(query_vec).alias("__qv"))
    )
    paired = corpus.crossJoin(q)
    if pair_filter is not None:
        paired = paired.filter(pair_filter)
    scored = paired.withColumn(score_col, cosine(F.col(vec_col), F.col("__qv")))
    w = Window.partitionBy(query_id).orderBy(F.desc(score_col), F.asc(corpus_id))
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn", "__qv")
    )


def build_centroids_kmeans(
    corpus: DataFrame,
    k: int,
    vec_col: str = "embedding",
    seed: int = 42,
    sample_fraction: float | None = None,
) -> DataFrame:
    """Train IVF coarse centroids with MLlib KMeans (deterministic seed).

    At 100 TB you fit on a sample (``sample_fraction``) — KMeans quality
    saturates long before the full corpus — then :func:`ivf_assign` labels
    everything.  Returns (centroid_id int, centroid_vec array<float>).
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    df = corpus
    if sample_fraction:
        df = df.sample(fraction=sample_fraction, seed=seed)
    train = df.select(array_to_vector(F.col(vec_col).cast("array<double>")).alias("features"))
    model = KMeans(k=k, seed=seed, featuresCol="features").fit(train)
    spark = corpus.sparkSession
    rows = [
        (i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())
    ]
    return spark.createDataFrame(rows, "centroid_id int, centroid_vec array<float>")


def ivf_assign(
    corpus: DataFrame,
    centroids: DataFrame,
    corpus_id: str = "id",
    vec_col: str = "embedding",
    centroid_id: str = "centroid_id",
    centroid_vec: str = "centroid_vec",
) -> DataFrame:
    """Assign every corpus vector to its nearest centroid (IVF build step —
    the Spark analog of LanceDB's IVF-PQ coarse quantizer, store.py:274).
    Centroids are broadcast; output adds a ``centroid_id`` column that a
    real deployment would use as a partition/bucket key for the corpus."""
    c = F.broadcast(
        centroids.select(
            F.col(centroid_id).alias("__cid"), F.col(centroid_vec).alias("__cv")
        )
    )
    scored = corpus.crossJoin(c).withColumn("__sim", cosine(F.col(vec_col), F.col("__cv")))
    w = Window.partitionBy(corpus_id).orderBy(F.desc("__sim"), F.asc("__cid"))
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .withColumn(centroid_id, F.col("__cid"))
        .drop("__rn", "__cid", "__cv", "__sim")
    )


def ivf_topk(
    assigned: DataFrame,
    centroids: DataFrame,
    query: Sequence[float],
    k: int,
    nprobe: int = 3,
    corpus_id: str = "id",
    vec_col: str = "embedding",
    centroid_id: str = "centroid_id",
    centroid_vec: str = "centroid_vec",
    score_col: str = "score",
    static_prune: bool = False,
) -> DataFrame:
    """IVF search: probe the ``nprobe`` centroids nearest to the query, then
    exact-rescore only their members (refine semantics, reference
    store.py:302,317). ``assigned`` is the output of :func:`ivf_assign` —
    at scale it is bucketed/partitioned by ``centroid_id`` so the probe
    filter is partition pruning, touching nprobe/nlist of the data.

    ``static_prune=True`` collects the nprobe probed cell ids to the driver
    (O(nprobe) scalars — the centroid table is tiny by construction) and
    plants them as a literal IN-filter, which Catalyst turns into STATIC
    partition pruning on a ``centroid_id``-partitioned corpus: the scan
    lists only nprobe of nlist directories (asserted via the scan's
    numPartitions metric in tests/test_plans.py::test_ivf_static_prune).
    The default semi-join form keeps the whole plan lazy, which the
    one-shot oracle comparison prefers."""
    q = query_vec_lit(query)
    probe = (
        centroids.withColumn("__sim", cosine(F.col(centroid_vec), q))
        .orderBy(F.desc("__sim"), F.asc(centroid_id))
        .limit(nprobe)
        .select(centroid_id)
    )
    if static_prune:
        probe_ids = [r[0] for r in probe.collect()]
        candidates = assigned.filter(F.col(centroid_id).isin(probe_ids))
    else:
        candidates = assigned.join(F.broadcast(probe), centroid_id, "left_semi")
    return (
        candidates.withColumn(score_col, cosine(F.col(vec_col), q))
        .orderBy(F.desc(score_col), F.asc(corpus_id))
        .limit(k)
    )


def knn_join_bucketed(
    queries: DataFrame,
    assigned: DataFrame,
    centroids: DataFrame,
    k: int,
    nprobe: int = 3,
    query_id: str = "query_id",
    query_vec: str = "query_vec",
    corpus_id: str = "id",
    vec_col: str = "embedding",
    centroid_id: str = "centroid_id",
    centroid_vec: str = "centroid_vec",
    score_col: str = "score",
) -> DataFrame:
    """Batch ANN join for the both-sides-large regime.

    :func:`knn_join` broadcasts the query set — fine to ~10^5 queries;
    beyond that neither side fits a broadcast, so both sides meet on the
    IVF cell id instead (SCALE.md: 'at 1M queries the roles flip'):

    1. each query ranks its ``nprobe`` nearest centroids (only the tiny
       centroid table broadcasts);
    2. corpus rows carry their cell from :func:`ivf_assign` — at scale the
       cell id is a bucket/partition column, so the equi-join reads
       co-located buckets without shuffling the corpus;
    3. exact cosine scoring runs only inside probed cells, then a
       per-query window top-k.

    Probe semantics (and therefore recall) match :func:`ivf_topk`, run as
    one join for the whole query set instead of per-query plans.
    """
    c = F.broadcast(
        centroids.select(F.col(centroid_id).alias("__cid"), F.col(centroid_vec).alias("__cv"))
    )
    wq = Window.partitionBy(query_id).orderBy(F.desc("__csim"), F.asc("__cid"))
    qcells = (
        queries.select(F.col(query_id), F.col(query_vec).alias("__qv"))
        .crossJoin(c)
        .withColumn("__csim", cosine(F.col("__qv"), F.col("__cv")))
        .withColumn("__crn", F.row_number().over(wq))
        .filter(F.col("__crn") <= nprobe)
        .select(F.col(query_id), F.col("__qv"), F.col("__cid").alias(centroid_id))
    )
    paired = assigned.join(qcells, centroid_id)
    scored = paired.withColumn(score_col, cosine(F.col(vec_col), F.col("__qv")))
    wk = Window.partitionBy(query_id).orderBy(F.desc(score_col), F.asc(corpus_id))
    return (
        scored.withColumn("__rn", F.row_number().over(wk))
        .filter(F.col("__rn") <= k)
        # same output shape as knn_join (corpus cols + query_id + score) so
        # the two paths are drop-in interchangeable downstream
        .drop("__rn", "__qv", centroid_id)
    )


# ---------------------------------------------------------------------------
# SQ8 scalar quantization (100 TB storage/IO path)
#
# Per-row symmetric int8 quantization: scale = max|x|/127, q[i] =
# round_half_away(x[i]/scale).  4x smaller embedding storage, integer dot
# products for the coarse pass, exact float re-score of the top
# k*refine_factor candidates — the same coarse→refine contract as the
# reference's deferred IVF-PQ index (store.py:274) and refine_factor
# (store.py:302,317), realised as pure columnar expressions.
#
# The rounding is written as sign-split floor(|x|/s + 0.5) — NOT F.round —
# so the Spark expression and the DuckDB oracle are the same IEEE operation
# sequence and the quantized codes match bit-for-bit across engines.


def _half_away(x: Column) -> Column:
    """round-half-away-from-zero as explicit floor arithmetic (portable)."""
    return F.when(x >= 0, F.floor(x + F.lit(0.5))).otherwise(-F.floor(-x + F.lit(0.5)))


def sq8_quantize(
    df: DataFrame,
    vec_col: str = "embedding",
    scale_col: str = "sq8_scale",
    code_col: str = "sq8_code",
) -> DataFrame:
    """Add per-row SQ8 scale + int8 code columns.

    At scale this runs once at ingest and the codes are what the coarse
    scan reads (array<tinyint> parquet column ≈ dim bytes/row vs 4*dim) —
    here it also runs inline in catalog queries over the float testdata."""
    v = F.col(vec_col).cast("array<double>")
    scale = F.array_max(F.transform(v, lambda x: F.abs(x))) / F.lit(127.0)
    df = df.withColumn(scale_col, scale)
    s = F.col(scale_col)
    codes = F.when(
        s > 0,
        F.transform(v, lambda x: _half_away(x / s).cast("tinyint")),
    ).otherwise(F.transform(v, lambda x: F.lit(0).cast("tinyint")))
    return df.withColumn(code_col, codes)


def sq8_quantize_query(query: Sequence[float]) -> tuple[float, list[int]]:
    """Driver-side twin of :func:`sq8_quantize` for the query vector."""
    import math

    vals = [float(v) for v in query]
    scale = max((abs(v) for v in vals), default=0.0) / 127.0
    if scale <= 0:
        return 0.0, [0] * len(vals)
    codes = [
        int(math.floor(v / scale + 0.5)) if v >= 0 else -int(math.floor(-v / scale + 0.5))
        for v in vals
    ]
    return scale, codes


def sq8_dot(a: Column, b: Column) -> Column:
    """Integer dot product of two code arrays (exact, order-independent)."""
    return F.aggregate(
        F.zip_with(a.cast("array<long>"), b.cast("array<long>"), lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def knn_topk_sq8(
    df: DataFrame,
    query: Sequence[float],
    k: int,
    vec_col: str = "embedding",
    refine_factor: int = 4,
    tie_col: str | None = None,
    score_col: str = "score",
) -> DataFrame:
    """Two-stage KNN: int8 coarse scan → exact re-score of k*refine_factor.

    Coarse score = row_scale * query_scale * int_dot(codes) ≈ dot(float).
    Both stages compile to TakeOrderedAndProject (partition-local top-k +
    tiny merge); the refine stage touches only k*refine_factor rows, so
    the float vectors of the non-candidates are never needed — with a
    materialised code column the fat float column drops out of the scan
    entirely (column pruning)."""
    qscale, qcodes = sq8_quantize_query(query)
    df = sq8_quantize(df, vec_col)
    qlit = F.array(*[F.lit(c) for c in qcodes])
    approx = F.col("sq8_scale") * F.lit(qscale) * sq8_dot(F.col("sq8_code"), qlit)
    order = [F.desc("sq8_approx")] + ([F.asc(tie_col)] if tie_col else [])
    cand = df.withColumn("sq8_approx", approx).orderBy(*order).limit(k * refine_factor)
    rescored = cand.withColumn(score_col, cosine(F.col(vec_col), query_vec_lit(query)))
    final_order = [F.desc(score_col)] + ([F.asc(tie_col)] if tie_col else [])
    return rescored.orderBy(*final_order).limit(k).drop("sq8_scale", "sq8_code", "sq8_approx")


def knn_truncated_topk(
    df: DataFrame,
    query: Sequence[float],
    k: int,
    dims_coarse: int = 16,
    refine: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    score_col: str = "score",
) -> DataFrame:
    """Dimension-truncated coarse scan + exact refine (the Matryoshka-
    representation-learning serving pattern, Kusupati et al. 2022): score
    every row on only the FIRST ``dims_coarse`` components (cosine of the
    truncated vectors), keep ``k*refine`` candidates, then re-rank those
    candidates with the exact full-dimension cosine.

    Scale rationale: with dimension-sliced storage (or simply Parquet
    byte-range efficiency on a prefix column) the coarse pass reads and
    multiplies dims_coarse/dim of the data — for 768-d embeddings truncated
    at 64 that is a 12× cut in arithmetic and scan volume — while the exact
    pass touches only k·refine rows.  Both stages are deterministic, so the
    whole operator is oracle-expressible (unlike IVF, no trained state).
    """
    v = F.col(vec_col)
    q = list(query)
    coarse_q = query_vec_lit(q[:dims_coarse])
    coarse = cosine(F.slice(v, 1, dims_coarse), coarse_q)
    cand = (
        df.withColumn("_coarse", coarse)
        .orderBy(F.desc("_coarse"), F.asc(id_col))
        .limit(k * refine)
    )
    exact = cand.withColumn(score_col, cosine(v, query_vec_lit(q))).drop("_coarse")
    return exact.orderBy(F.desc(score_col), F.asc(id_col)).limit(k)


def mean_pool_embeddings(
    df: DataFrame,
    group_col: str,
    vec_col: str = "embedding",
    out_col: str = "doc_embedding",
    renormalize: bool = True,
) -> DataFrame:
    """Element-wise mean of vectors per group — chunk embeddings pooled to
    one document vector (the standard doc-level retrieval representation
    when the index stores chunks).  Optionally L2-renormalized so cosine
    against pooled vectors keeps unit-norm semantics.

    Portable shape: posexplode → (group, position)-keyed avg → ordered
    array_agg; every step mirrors in SQL.  The per-position mean is
    9dp-QUANTIZED (the centroid-update discipline of
    lloyd_kmeans_replayable): a raw avg's summation order differs between
    engines, so downstream cosines over raw pools could flip a top-k cut
    at a near-tie — rounding at 9dp (three decades under any real score
    gap) makes the pooled vectors engine-identical, and every downstream
    per-row fold stays exact.  Caught by tools/rankkey_report.py (r8).
    Shuffles are keyed on (group, position) then group — no collect, no
    UDF."""
    exploded = df.select(
        F.col(group_col).alias("grp"),
        F.posexplode(F.col(vec_col).cast("array<double>")).alias("pos", "v"),
    )
    per_pos = exploded.groupBy("grp", "pos").agg(F.round(F.avg("v"), 9).alias("m"))
    pooled = (
        per_pos.groupBy("grp")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "m"))), lambda s: s["m"]
            ).alias(out_col)
        )
        .withColumnRenamed("grp", group_col)
    )
    if renormalize:
        norm = F.sqrt(
            F.aggregate(F.col(out_col), F.lit(0.0), lambda a, x: a + x * x)
        )
        pooled = pooled.withColumn(
            out_col,
            F.transform(F.col(out_col), lambda x: F.try_divide(x, norm)),
        )
    return pooled


# ---------------------------------------------------------------------------
# Persisted IVF index with O(batch) incremental append.
#
# The reference rebuilds its FTS statistics over the whole corpus on every
# upsert (store.py:197-202) and defers ANN indexing to a LanceDB IVF-PQ
# build (store.py:274) that would likewise be a full retrain.  A 100 TB
# corpus cannot re-shuffle itself per ingest batch, so the index freezes
# its coarse quantizer: centroids are persisted next to the corpus, and an
# append assigns ONLY the new rows against them (broadcast, no corpus
# shuffle) before appending into the centroid_id-partitioned layout.
# Frozen centroids ⇒ an appended index is cell-for-cell IDENTICAL to a
# full rebuild with the same centroids (asserted in test_search.py), and
# search partition-prunes to nprobe directories exactly as before.
# Centroid drift under heavy append is a re-bucketing decision, not an
# ingest-path one — rebuild with kmeans_refine'd centroids offline.


class IvfIndex:
    """Directory layout: ``<path>/centroids`` (one tiny parquet file) and
    ``<path>/corpus`` partitioned by ``centroid_id``."""

    def __init__(self, spark, path: str, corpus_id: str = "id", vec_col: str = "embedding"):
        self.spark = spark
        self.path = path.rstrip("/")
        self.corpus_id = corpus_id
        self.vec_col = vec_col

    # -- build / maintain ---------------------------------------------------

    @classmethod
    def build(
        cls,
        spark,
        corpus: DataFrame,
        centroids: DataFrame,
        path: str,
        corpus_id: str = "id",
        vec_col: str = "embedding",
    ) -> "IvfIndex":
        idx = cls(spark, path, corpus_id, vec_col)
        centroids.coalesce(1).write.mode("overwrite").parquet(idx.path + "/centroids")
        assigned = ivf_assign(corpus, idx.centroids(), corpus_id, vec_col)
        assigned.write.partitionBy("centroid_id").mode("overwrite").parquet(idx.path + "/corpus")
        return idx

    def centroids(self) -> DataFrame:
        return self.spark.read.parquet(self.path + "/centroids")

    def assigned(self) -> DataFrame:
        return self.spark.read.parquet(self.path + "/corpus")

    def append(self, batch: DataFrame) -> None:
        """Assign the batch against the FROZEN centroids and append.
        O(batch × nlist) work, zero existing-row movement — the incremental
        twin of a full rebuild (identical because centroids are frozen)."""
        assigned = ivf_assign(batch, self.centroids(), self.corpus_id, self.vec_col)
        assigned.write.partitionBy("centroid_id").mode("append").parquet(self.path + "/corpus")

    # -- query --------------------------------------------------------------

    def search(
        self, query: Sequence[float], k: int, nprobe: int = 3, static_prune: bool = True
    ) -> DataFrame:
        """Probe-and-refine over the partitioned layout; ``static_prune``
        plants the probed cell ids as a literal filter so the parquet scan
        lists only nprobe directories (plan-asserted in tests)."""
        return ivf_topk(
            self.assigned(),
            self.centroids(),
            query,
            k,
            nprobe=nprobe,
            corpus_id=self.corpus_id,
            vec_col=self.vec_col,
            static_prune=static_prune,
        )


def pca_components(
    corpus: DataFrame,
    k: int,
    vec_col: str = "embedding",
    quantize: int | None = 6,
) -> list[list[float]]:
    """Top-k principal components of the corpus embeddings (MLlib PCA —
    distributed Gramian, driver-side eigendecomposition; the classic
    dimensionality-reduction serving path beside Matryoshka truncation,
    for embeddings NOT trained with nested prefixes).

    Sign-fixed (each component's largest-|x| entry is made positive) and
    quantized to ``quantize`` decimals so the trained state is run-stable
    — the same convention as semdedup_refined's centroids.  Returns k
    rows of d floats; O(k·d) driver memory."""
    from pyspark.ml.feature import PCA as MlPca
    from pyspark.ml.functions import array_to_vector

    train = corpus.select(
        array_to_vector(F.col(vec_col).cast("array<double>")).alias("features")
    )
    model = MlPca(k=k, inputCol="features", outputCol="pc").fit(train)
    comps = model.pc.toArray()  # d × k
    out = []
    for j in range(comps.shape[1]):
        col = [float(x) for x in comps[:, j]]
        mx = max(range(len(col)), key=lambda i: abs(col[i]))
        if col[mx] < 0:
            col = [-x for x in col]
        if quantize is not None:
            col = [round(x, quantize) for x in col]
        out.append(col)
    return out


def pca_project_col(vec: Column, components: list[list[float]]) -> Column:
    """Project a vector column onto the component rows — a codegen'd fold
    per output dim against the literal component matrix (no UDF)."""
    v = vec.cast("array<double>")
    outs = []
    for comp in components:
        c_lit = F.array(*[F.lit(x) for x in comp])
        outs.append(
            F.aggregate(
                F.zip_with(v, c_lit, lambda x, y: x * y), F.lit(0.0), lambda a, x: a + x
            )
        )
    return F.array(*outs)


def knn_topk_pca(
    df: DataFrame,
    query: Sequence[float],
    components: list[list[float]],
    k: int,
    refine: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    score_col: str = "score",
) -> DataFrame:
    """PCA-projected coarse scan + exact refine: score every row by the
    inner product in the k'-dim projected space (k'/d of the arithmetic;
    with a materialized projection column, k'/d of the scan too), keep
    k·refine candidates, exact-cosine re-rank.  The projection preserves
    dominant-variance structure, so recall at moderate refine is far
    above random truncation for non-Matryoshka embeddings."""
    pq = [
        sum(float(query[i]) * c[i] for i in range(len(c))) for c in components
    ]
    coarse = F.aggregate(
        F.zip_with(
            pca_project_col(F.col(vec_col), components),
            F.array(*[F.lit(x) for x in pq]),
            lambda x, y: x * y,
        ),
        F.lit(0.0),
        lambda a, x: a + x,
    )
    cand = (
        df.withColumn("_coarse", coarse)
        .orderBy(F.desc("_coarse"), F.asc(id_col))
        .limit(k * refine)
    )
    exact = cand.withColumn(score_col, cosine(F.col(vec_col), query_vec_lit(list(query)))).drop(
        "_coarse"
    )
    return exact.orderBy(F.desc(score_col), F.asc(id_col)).limit(k)


def embedding_quality(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    expect_dim: int,
    norm_lo: float = 0.5,
    norm_hi: float = 2.0,
) -> DataFrame:
    """Embedding-column data-quality gate — the ingest-time validation an
    embedding pipeline needs before vectors reach an index: dimension
    check, non-finite scan (NaN/±Inf from overflowed or buggy encoders),
    L2 norm with an acceptance band (zero vectors poison cosine; wildly
    off-norm vectors indicate a missing normalization step).

    Pure codegen column expressions (``aggregate``/``filter`` over the
    array — the :func:`dot` discipline), map-only: validation adds no
    shuffle to an ingest pipeline and one boolean to its output.  NaN
    norms propagate (a NaN vector fails ``norm_ok``, never hides)."""
    v = F.col(vec_col).cast("array<double>")
    dim = F.size(v)
    n_nonfinite = F.size(
        F.filter(v, lambda x: F.isnan(x) | (F.abs(x) == F.lit(float("inf"))))
    )
    norm = F.sqrt(F.aggregate(v, F.lit(0.0), lambda a, x: a + x * x))
    dim_ok = dim == expect_dim
    finite_ok = n_nonfinite == 0
    norm_ok = finite_ok & (norm >= norm_lo) & (norm <= norm_hi)
    return df.select(
        F.col(id_col),
        dim.cast("int").alias("dim"),
        n_nonfinite.cast("int").alias("n_nonfinite"),
        F.round(norm, 6).alias("norm"),
        dim_ok.alias("dim_ok"),
        finite_ok.alias("finite_ok"),
        norm_ok.alias("norm_ok"),
        (dim_ok & norm_ok).alias("ok"),
    )


def sqdist(a: Column, b: Column) -> Column:
    """Squared L2 distance as a left fold — same op structure as dot()
    above, so a SQL list_reduce over the same element order replays it
    bit-for-bit (0.0 + t1 + t2 + ... == t1 + t2 + ... exactly)."""
    return F.aggregate(
        F.zip_with(
            a.cast("array<double>"),
            b.cast("array<double>"),
            lambda x, y: (x - y) * (x - y),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def lloyd_kmeans_replayable(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 8,
    iters: int = 2,
    dim: int = 64,
    quant: int = 9,
    precached: tuple | None = None,
) -> DataFrame:
    """Lloyd's k-means with a fixed iteration count and a fully
    SQL-replayable trajectory — the oracle-gated sibling of
    build_centroids_kmeans above (which uses MLlib and serves the IVF
    build, but whose internals no SQL engine can replay).  Three
    determinism devices make the distributed trainer equal a single-node
    CTE replay bit-for-bit:

    - seeds are the k lowest-id corpus vectors (trained-state-free, the
      semdedup centroid convention — catalog/_corpus.py);
    - assignment breaks distance ties by lowest centroid id via a
      struct-min over (dist, cid), and distances are left folds with
      identical element order on both engines;
    - updated centroid coordinates are round(avg, quant)-quantized, so
      the one order-sensitive float reduction per iteration (the per-dim
      mean) is pinned far above both engines' summation-order noise
      (~1e-15 relative vs 1e-9 grid).

    An EMPTIED cluster keeps its previous centroid (both engines
    coalesce to the prior table).  Scale shape: per iteration, the k*dim
    centroid table is a driver codebook pull (the RFM-boundary /
    BPE-merge bounded-driver-state pattern), assignment is a broadcast
    map-only expression, and the update is ONE map-side-combinable
    groupBy — nothing corpus-sized ever sits on one node.

    Returns the final assignment: (id, cid, dist2) — callers roll up
    sizes/inertia or join back for cluster-balanced sampling (the
    SemDeDup curation shape).
    """
    base, cents = precached or _lloyd_train(
        df, id_col, vec_col, k, iters, dim, quant
    )
    return _lloyd_assign(base, cents).select("id", "cid", "dist2")


def _lloyd_dist_structs(cent_list) -> str:
    """The per-centroid (dist, cid) struct array as ONE SQL string — a
    single py4j round-trip instead of k*dim F.lit() calls.  The
    CAST('repr' AS DOUBLE) literals are exact (repr round-trips and
    string->double conversion is correctly rounded), and the
    aggregate/zip_with fold is op-for-op the sqdist() shape above."""
    structs = []
    for ci, c in enumerate(cent_list):
        arr = ", ".join(f"CAST('{repr(x)}' AS DOUBLE)" for x in c)
        d = (
            f"aggregate(zip_with(v, array({arr}),"
            " (x, y) -> (x - y) * (x - y)), 0D, (acc, x) -> acc + x)"
        )
        structs.append(f"named_struct('d', {d}, 'cid', {ci})")
    return f"array({', '.join(structs)})"


def _lloyd_assign(base: DataFrame, cent_list) -> DataFrame:
    best = F.expr(f"array_min({_lloyd_dist_structs(cent_list)})")
    return base.select(
        "id", "v", best["cid"].alias("cid"), best["d"].alias("dist2")
    )


def _lloyd_train(df, id_col, vec_col, k, iters, dim, quant):
    """Shared Lloyd trajectory: returns (pinned base, final centroids)."""
    base = df.select(
        F.col(id_col).cast("long").alias("id"),
        F.col(vec_col).cast("array<double>").alias("v"),
    ).localCheckpoint(eager=True)
    cents = [
        [float(x) for x in r.v]
        for r in base.orderBy("id").limit(k).collect()
    ]
    if len(cents) < k:
        # Without this the empty-cluster fallback cents[ci] would raise a
        # bare IndexError while the SQL twin silently seeds fewer
        # centroids — fail loudly and identically on both entry points.
        raise ValueError(
            f"k-means needs at least k={k} vectors; corpus has {len(cents)}"
        )
    for _ in range(iters):
        rows = (
            _lloyd_assign(base, cents)
            .groupBy("cid")
            .agg(*[F.round(F.avg(F.col("v")[i]), quant).alias(f"d{i}") for i in range(dim)])
            .collect()
        )
        new = {r["cid"]: [r[f"d{i}"] for i in range(dim)] for r in rows}
        cents = [new.get(ci, cents[ci]) for ci in range(k)]
    return base, cents


def silhouette_simplified(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 8,
    iters: int = 2,
    dim: int = 64,
    quant: int = 9,
    precached: tuple | None = None,
) -> DataFrame:
    """Simplified silhouette (Hruschka et al. 2004) against the SAME
    replayable Lloyd trajectory as lloyd_kmeans_replayable: per point,
    a = euclidean distance to its own centroid, b = distance to the
    nearest OTHER centroid,  s = (b - a) / max(a, b)  — the O(n*k)
    cluster-quality readout that replaces the O(n^2) full silhouette at
    corpus scale (the full form is a pairwise self-join; this form reuses
    the k distances the assignment already computes).

    Both distances come from sorting the same per-centroid struct array
    the assignment argmin uses (positions 1 and 2 of array_sort), so the
    oracle's rn <= 2 window replay is term-for-term identical; sqrt is
    IEEE-exact, keeping the score engine-exact before the final rounded
    mean.  A point coincident with two centroids (a == b == 0) scores a
    DEFINITE 0.0, never a 0/0 NULL.

    Returns one row per cluster: (cid, n, silhouette = round(avg s, 6)).

    ``precached``: an already-trained (base, centroids) pair — the
    catalog session-shares one trajectory between the kmeans and
    silhouette queries (the operators/mlr.py precached seam).

    Exactness (r8; the r7 caveat is closed): the readout is the mean of
    9dp-QUANTIZED scores — round(s, 9dp-units) per point (engine-exact,
    a single multiply + round of an engine-exact double), summed as
    BIGINT (order-independent), divided once.  No step depends on
    float-summation order, so the 6dp readout is bit-guaranteed on both
    engines; the 9dp quantum perturbs the mean by < 5e-10, three decades
    under the readout's 5e-7 half-step.
    """
    if k < 2:
        raise ValueError("silhouette needs k >= 2 (no 'other' centroid at k=1)")
    base, cents = precached or _lloyd_train(
        df, id_col, vec_col, k, iters, dim, quant
    )
    two = F.expr(f"slice(array_sort({_lloyd_dist_structs(cents)}), 1, 2)")
    scored = base.select(
        two[0]["cid"].alias("cid"),
        F.sqrt(two[0]["d"]).alias("a"),
        F.sqrt(two[1]["d"]).alias("b"),
    ).select(
        "cid",
        F.when(
            F.greatest("a", "b") > 0,
            (F.col("b") - F.col("a")) / F.greatest("a", "b"),
        )
        .otherwise(F.lit(0.0))
        .alias("s"),
    )
    # Exact-integer readout (r8, closing the r7 probabilistic-gate caveat):
    # each per-point s is engine-exact, so quantize it to 9dp integer
    # units FIRST — the BIGINT sum is order-independent, so the final
    # round(sum / (n*1e9), 6) is one deterministic double division + round
    # on identical integer inputs, bit-guaranteed on both engines (the
    # old round(avg(s), 6) averaged doubles whose summation ORDER differed
    # between Spark partial aggregation and a sequential scan).  The 9dp
    # quantum biases the mean by < 5e-10, three decades under the 6dp
    # readout's half-step; |s| <= 1 so the sum overflows BIGINT only past
    # ~9e9 points per cluster (ANSI mode then fails loudly — switch the
    # sum to decimal(38,0) at that scale).
    qs = F.round(F.col("s") * 1e9).cast("long")
    return scored.groupBy("cid").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.round(
            F.sum(qs) / (F.count(F.lit(1)) * F.lit(1e9)), 6
        ).alias("silhouette"),
    )
