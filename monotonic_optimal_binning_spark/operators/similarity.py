"""Similarity search over embedding columns.

Two tiers (as a 100 TB pipeline needs both):
  - brute_force_topk: exact cosine top-k; the QUERY side is broadcast, the
    corpus streams through executors — one scan, no shuffle of the corpus,
    per-partition top-k via window rank after a broadcast nested-loop join.
    Right tool when |queries| is small (re-ranking, eval probes).
  - lsh_topk: random-hyperplane LSH bucketing; candidates only meet inside
    matching (band, bucket) keys, so the join is an equi-join Catalyst can
    shuffle-hash — the scale path for all-pairs-ish workloads.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import List, Optional

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .. import artifacts
from ..functions.vector import dot, l2_norm


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    *,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "embedding",
    include_self: bool = False,
) -> DataFrame:
    """Exact cosine top-k neighbors in the corpus for each query vector.

    Output: (query_id, neighbor_id, cosine, rank). Deterministic tie-break
    on neighbor id.
    """
    # cast to double and compute norms ONCE PER ROW, below the join: the
    # per-pair work is then a single double dot product (computing
    # sqrt(dot(v,v)) inside the pair expression would redo both norms
    # |corpus|x|queries| times)
    q = queries.select(
        F.col(query_id).alias("query_id"),
        F.col(query_vec).cast("array<double>").alias("__qv"),
    ).withColumn("__qn", l2_norm(F.col("__qv")))
    c = corpus.select(
        F.col(corpus_id).alias("neighbor_id"),
        F.col(corpus_vec).cast("array<double>").alias("__cv"),
    ).withColumn("__cn", l2_norm(F.col("__cv")))
    pairs = c.crossJoin(F.broadcast(q))
    if not include_self:
        pairs = pairs.filter(F.col("neighbor_id") != F.col("query_id"))
    denom = F.col("__qn") * F.col("__cn")
    scored = pairs.select(
        "query_id",
        "neighbor_id",
        F.when(denom > 0, dot(F.col("__qv"), F.col("__cv")) / denom).alias(
            "cosine"
        ),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def _hyperplanes(dim: int, n_planes: int, seed: int) -> np.ndarray:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim)).astype(float)


def add_lsh_buckets(
    df: DataFrame,
    vec_col: str,
    dim: int,
    *,
    n_planes: int = 16,
    n_bands: int = 4,
    seed: int = 42,
    bucket_col: str = "lsh",
) -> DataFrame:
    """Random-hyperplane signature sliced into bands -> exploded bucket rows.

    Output gains (band, bucket) — rows sharing both are LSH candidates. The
    planes are generated deterministically from ``seed`` on the driver and
    inlined as literals (a few KB) so executors need no side channel.
    """
    planes = _hyperplanes(dim, n_planes, seed)
    bits = F.array(
        *[
            (
                dot(
                    F.col(vec_col),
                    F.array(*[F.lit(float(v)) for v in plane]),
                )
                >= 0
            ).cast("int")
            for plane in planes
        ]
    )
    rows_per_band = n_planes // n_bands
    # Explode the band index FIRST (Generate is a project-collapse barrier):
    # referencing bits[i] once per band would inline the n_planes
    # dot-product expressions into every reference — n_bands x the work.
    # The signature array materializes once per row; buckets hash a slice.
    out = df.withColumn("__bits", bits).select(
        "*", F.explode(F.sequence(F.lit(0), F.lit(n_bands - 1))).alias("band")
    )
    out = out.select(
        *df.columns,
        "band",
        F.xxhash64(
            "band",
            F.slice(F.col("__bits"), F.col("band") * rows_per_band + 1, rows_per_band),
        ).alias("bucket"),
    )
    return out


def nearest_cells_udf(spark, centroids: np.ndarray, n_probe: int):
    """Vectorized query-router for IVF: returns a pandas-UDF column mapping
    a vector column to its ``n_probe`` nearest centroid indices
    (``array<int>``, ascending distance, ties broken by cell index).

    The centroid matrix is a DRIVER-side numpy array shipped via a Spark
    broadcast and the per-batch work is ONE matmul — O(batch × n_cells ×
    dim) in BLAS. The previous formulation inlined n_cells × dim literal
    doubles as Catalyst struct expressions, which plans fine at n_cells=64
    but collapses at the n_cells a 100 TB corpus wants (4k–65k cells make a
    ~million-node expression tree); the broadcast+matmul path is flat in
    plan size and scales in n_cells.
    """
    cmat = np.ascontiguousarray(centroids, dtype=np.float64)
    c_sq = (cmat * cmat).sum(axis=1)
    bc = spark.sparkContext.broadcast((cmat, c_sq))
    k = int(min(n_probe, cmat.shape[0]))

    @F.pandas_udf("array<int>")
    def _route(vecs: pd.Series) -> pd.Series:
        mat, sq = bc.value
        q = np.stack([np.asarray(v, dtype=np.float64) for v in vecs])
        # squared L2: ||q||^2 - 2 q.C^T + ||c||^2; the q^2 term is constant
        # per row and irrelevant to the argsort — skip it
        d = sq[None, :] - 2.0 * (q @ mat.T)
        # stable sort on distance ties -> lower cell index first (matches
        # the array_sort(struct(d, cell)) semantics this replaced)
        idx = np.argsort(d, axis=1, kind="stable")[:, :k].astype(np.int32)
        return pd.Series(list(idx))

    return _route


@dataclass
class IVFCodebook:
    """The fitted coarse quantizer of :func:`ivf_topk` as a persistable
    artifact (mirrors ``FittedBins``): production amortizes the KMeans
    training pass across many query batches by fitting ONCE
    (:func:`fit_ivf_codebook`), saving the centroid matrix, and routing
    every later ``ivf_topk`` call against the loaded codebook — no
    training scan on the query path (PLANS.md §10 crossover table).

    JSON floats round-trip exactly in Python, so a loaded codebook routes
    identically to the freshly fitted one (pinned by test)."""

    centroids: List[List[float]]  # n_cells x dim, row-major
    seed: int = 42

    @property
    def n_cells(self) -> int:
        return len(self.centroids)

    @property
    def dim(self) -> int:
        return len(self.centroids[0]) if self.centroids else 0

    def matrix(self) -> np.ndarray:
        return np.ascontiguousarray(self.centroids, dtype=np.float64)

    def to_dict(self) -> dict:
        return {
            "kind": "ivf_codebook",
            "n_cells": self.n_cells,
            "dim": self.dim,
            "seed": self.seed,
            "centroids": [[float(v) for v in row] for row in self.centroids],
        }

    @classmethod
    def from_dict(cls, d: dict) -> "IVFCodebook":
        return cls(centroids=d["centroids"], seed=d.get("seed", 42))

    def save_json(self, path: str) -> None:
        artifacts.save_json(self.to_dict(), path, indent=None)

    @classmethod
    def load_json(cls, path: str) -> "IVFCodebook":
        return cls.from_dict(artifacts.load_json(path))


def fit_ivf_codebook(
    corpus: DataFrame,
    *,
    corpus_vec: str = "embedding",
    n_cells: int = 64,
    seed: int = 42,
    train_fraction: Optional[float] = None,
) -> IVFCodebook:
    """Fit the IVF coarse quantizer (distributed JVM KMeans over the —
    optionally sampled — corpus vectors) and return the centroid codebook.
    Save with :meth:`IVFCodebook.save_json` and pass to :func:`ivf_topk`
    ``codebook=`` to skip the training pass on later calls."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    # null filter BELOW array_to_vector: the conversion UDF NPEs on null
    train = (
        corpus.select(F.col(corpus_vec).cast("array<double>").alias("__v"))
        .filter(F.col("__v").isNotNull())
        .select(array_to_vector(F.col("__v")).alias("features"))
    )
    if train_fraction is not None:
        train = train.sample(fraction=train_fraction, seed=seed)
    model = KMeans(k=n_cells, seed=seed, featuresCol="features").fit(train)
    return IVFCodebook(
        centroids=[list(map(float, ct)) for ct in model.clusterCenters()],
        seed=seed,
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    *,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "embedding",
    n_cells: int = 64,
    n_probe: int = 4,
    seed: int = 42,
    train_fraction: Optional[float] = None,
    codebook: Optional[IVFCodebook] = None,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: k-means coarse quantizer,
    corpus rows live in their nearest-centroid cell, each query probes its
    ``n_probe`` nearest cells and exact-rescores only those candidates.

    The second ANN tier next to :func:`lsh_topk`: IVF adapts to the data
    distribution (cells follow density; LSH planes are data-oblivious), at
    the cost of a training pass — pass a saved ``codebook``
    (:func:`fit_ivf_codebook` + ``save_json``/``load_json``) to skip it
    (``n_cells``/``seed``/``train_fraction`` are then ignored). Plan
    shape: corpus cell assignment and query probe lists both come from the
    driver-broadcast centroid matrix (n_cells × dim doubles — kilobytes)
    through the same vectorized matmul router, so a loaded codebook
    reproduces the fit-fresh result bit-for-bit; candidates meet through a
    plain equi-join on the cell id; exact cosine (double, norms
    precomputed per row) + window rank. Recall grows with n_probe; cost
    with n_probe/|cell|.
    """
    if codebook is None:
        codebook = fit_ivf_codebook(
            corpus, corpus_vec=corpus_vec, n_cells=n_cells, seed=seed,
            train_fraction=train_fraction,
        )
    centroids = codebook.matrix()

    # null vectors can neither be assigned to a cell nor routed (the
    # vectorized router stacks the batch) — they produce no neighbors.
    # Corpus assignment = router with n_probe=1: same broadcast + matmul
    # as the query side (no JVM model object needed — the codebook alone
    # reconstructs the whole operator)
    assign = nearest_cells_udf(corpus.sparkSession, centroids, 1)
    c = corpus.select(
        F.col(corpus_id).alias("neighbor_id"),
        F.col(corpus_vec).cast("array<double>").alias("__cv"),
    ).filter(F.col("__cv").isNotNull()).withColumn("__cn", l2_norm(F.col("__cv")))
    c = c.withColumn("cell", assign(F.col("__cv"))[0])

    q = queries.select(
        F.col(query_id).alias("query_id"),
        F.col(query_vec).cast("array<double>").alias("__qv"),
    ).filter(F.col("__qv").isNotNull()).withColumn("__qn", l2_norm(F.col("__qv")))
    # probe-cell routing: broadcast centroid matrix + one matmul per Arrow
    # batch (nearest_cells_udf) — flat plan size in n_cells, unlike the
    # literal-expression formulation this replaced
    route = nearest_cells_udf(corpus.sparkSession, centroids, n_probe)
    q = q.withColumn("cell", F.explode(route(F.col("__qv"))))

    cand = (
        c.join(q, on="cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", "__qv", "__cv", "__qn", "__cn")
    )
    denom = F.col("__qn") * F.col("__cn")
    scored = cand.select(
        "query_id",
        "neighbor_id",
        F.when(denom > 0, dot(F.col("__qv"), F.col("__cv")) / denom).alias(
            "cosine"
        ),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    dim: int,
    *,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "embedding",
    n_planes: int = 16,
    n_bands: int = 4,
    seed: int = 42,
    max_bucket_size: Optional[int] = 5000,
) -> DataFrame:
    """Approximate cosine top-k: candidates generated by banded
    random-hyperplane LSH, then exactly re-scored. Recall grows with
    n_bands; cost grows with bucket collision rate.

    ``max_bucket_size`` caps degenerate corpus buckets (e.g. an all-zero
    band over near-identical vectors would otherwise meet every query in a
    single m×q blowup): corpus rows in buckets larger than the cap are
    dropped from candidate generation. The cap is a window count over the
    (band, bucket) partitioning the join needs anyway — no extra shuffle.
    ``None`` disables.
    """
    c = add_lsh_buckets(
        corpus.select(
            F.col(corpus_id).alias("neighbor_id"),
            F.col(corpus_vec).cast("array<double>").alias("__cv"),
        ).withColumn("__cn", l2_norm(F.col("__cv"))),
        "__cv",
        dim,
        n_planes=n_planes,
        n_bands=n_bands,
        seed=seed,
    )
    if max_bucket_size is not None:
        wb = Window.partitionBy("band", "bucket")
        c = (
            c.withColumn("__bsz", F.count(F.lit(1)).over(wb))
            .filter(F.col("__bsz") <= max_bucket_size)
            .drop("__bsz")
        )
    q = add_lsh_buckets(
        queries.select(
            F.col(query_id).alias("query_id"),
            F.col(query_vec).cast("array<double>").alias("__qv"),
        ).withColumn("__qn", l2_norm(F.col("__qv"))),
        "__qv",
        dim,
        n_planes=n_planes,
        n_bands=n_bands,
        seed=seed,
    )
    cand = (
        c.join(q, on=["band", "bucket"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", "__qv", "__cv", "__qn", "__cn")
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    denom = F.col("__qn") * F.col("__cn")
    scored = cand.select(
        "query_id",
        "neighbor_id",
        F.when(denom > 0, dot(F.col("__qv"), F.col("__cv")) / denom).alias(
            "cosine"
        ),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def quantize_embeddings(
    df: DataFrame,
    vec_col: str = "embedding",
    *,
    qmax: int = 127,
    scale_col: str = "q_scale",
    out_col: str = "q_vec",
) -> DataFrame:
    """Symmetric per-vector int8 quantization of an embedding column —
    the storage-side operator of a corpus-scale vector pipeline (4x
    smaller than float32 at ~1e-2 cosine error; the standard serving
    trade-off). Appends ``scale_col`` (double, = max|v| / qmax) and
    ``out_col`` (array<smallint>, floor(v/scale + 0.5) per element — the
    EXPLICIT half-up formula, not a rounding-mode-dependent round(), so
    any engine reproduces it bit-exactly from the same doubles).

    Pure codegen, zero shuffles, no UDF. The per-vector max|v| is
    materialized through a Generate barrier (explode of a 1-element
    array) before the per-element lambda references it: Catalyst's
    project collapse would otherwise inline the O(d) max into the
    interpreted HOF lambda and re-evaluate it per element — O(d^2) per
    row (the repetition_features lesson, textstats.py).

    A zero (or all-zero) vector quantizes to scale 0 and an all-zero
    int vector. Degenerate vectors — NULL, EMPTY, containing a
    non-finite element (NaN/inf poison max|v|), or containing a NULL
    element (what Arrow ingestion turns a NaN into) — emit NULL scale
    and NULL quantized vector, explicitly rather than engine-dependently
    (Spark and DuckDB disagree on NaN > 0 and on folds over null
    elements, so a silent branch would diverge across engines exactly
    when bad data first appears).
    """
    v = F.col(vec_col).cast("array<double>")
    maxabs = F.array_max(F.transform(v, lambda x: F.abs(x)))
    has_null = F.exists(v, lambda x: x.isNull())
    barrier = df.select(
        "*",
        F.explode(
            F.array(
                F.when(~has_null, maxabs / float(qmax)).alias("s")
            )
        ).alias("__qs"),
    )
    raw = F.col("__qs")
    valid = raw.isNotNull() & ~F.isnan(raw) & (raw != float("inf"))
    scale = F.when(valid, raw)
    qvec = F.when(
        scale > 0,
        F.transform(
            F.col(vec_col).cast("array<double>"),
            lambda x: F.floor(x / scale + F.lit(0.5)).cast("smallint"),
        ),
    ).when(
        scale == 0,
        F.transform(F.col(vec_col), lambda x: F.lit(0).cast("smallint")),
    )
    return barrier.select(
        *df.columns, scale.alias(scale_col), qvec.alias(out_col)
    )


def dequantize_embeddings(
    df: DataFrame,
    qvec_col: str = "q_vec",
    scale_col: str = "q_scale",
    out_col: str = "embedding_hat",
) -> DataFrame:
    """Inverse of :func:`quantize_embeddings`: v_hat_i = q_i * scale
    (array<double>). Reconstruction is exact for the element that set the
    scale and within scale/2 elsewhere."""
    scale = F.col(scale_col)
    return df.withColumn(
        out_col,
        F.transform(
            F.col(qvec_col).cast("array<double>"), lambda q: q * scale
        ),
    )
