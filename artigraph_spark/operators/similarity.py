"""Similarity search over embedding columns (``array<float>``).

Brute-force cosine top-k is the exact baseline (oracle-checkable); the
LSH-bucketed variant is the scale path: random-hyperplane sign buckets turn
the all-pairs cross join into an equi-join on bucket ids.

All dot products run JVM-side via ``F.zip_with`` + ``F.aggregate`` —
no Python in the row path. Reductions use fixed-point 2^30 scaling
(exact, associative integer sums → engine- and partitioning-independent
results; see artigraph_spark.functions).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from artigraph_spark.operators._checkpoint import checkpoint as _ckpt
from artigraph_spark.operators.windows import top_k_per_group

_SCALE = float(1 << 30)


def dot(a: Column, b: Column) -> Column:
    """Deterministic fixed-point dot product of two float arrays, as double."""
    prods = F.zip_with(
        a, b, lambda x, y: F.floor(x.cast("double") * y.cast("double") * F.lit(_SCALE)).cast("long")
    )
    return F.aggregate(
        prods,
        F.lit(0).cast("long"),
        lambda acc, p: acc + p,
        lambda acc: acc.cast("double") / F.lit(_SCALE),
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def _safe_cos(dotc: Column, na: Column, nb: Column) -> Column:
    """Cosine, or NULL when either norm is zero: cosine is undefined for
    zero vectors (padding rows, failed-embedding sentinels), and the
    unguarded division is a DIVIDE_BY_ZERO abort under Spark 4's ANSI
    default. NULL scores fail threshold filters and are filtered before
    every ranked top-k, so zero vectors simply never match."""
    return F.when((na != F.lit(0.0)) & (nb != F.lit(0.0)), dotc / (na * nb))


def cosine(a: Column, b: Column) -> Column:
    return _safe_cos(dot(a, b), norm(a), norm(b))


def cosine_topk_bruteforce(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Exact top-k neighbors per query: broadcast the queries, score every
    corpus vector, window-reduce to k.

    Scale: |queries| is broadcast-sized by assumption (ANN query batches);
    the corpus is scanned once with no shuffle until the final per-query
    top-k (WindowGroupLimit prunes to k per map task before the exchange).
    Excludes self-matches.
    """
    # Norms are per-vector, not per-pair: compute each side's norm ONCE
    # (10 queries × 50k corpus would otherwise redo both norms 500k times —
    # measured 3× array-reduction waste in the 10× scale probe).
    # Zero-norm exclusion is per-VECTOR, not per-pair: filtering each
    # side up front (cosine is undefined for zero vectors; they can
    # never rank) keeps the per-pair expression the bare unguarded
    # division — no when-branch or null filter multiplied by
    # |queries|×|corpus|, and the ANSI DIVIDE_BY_ZERO abort stays
    # impossible because both norms are strictly positive by then.
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("__qvec__"),
        norm(F.col(vec_col)).alias("__qnorm__"),
    ).filter(F.col("__qnorm__") != F.lit(0.0))
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("__cvec__"),
        norm(F.col(vec_col)).alias("__cnorm__"),
    ).filter(F.col("__cnorm__") != F.lit(0.0))
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            (
                dot(F.col("__qvec__"), F.col("__cvec__"))
                / (F.col("__qnorm__") * F.col("__cnorm__"))
            ).alias("cos_sim"),
        )
    )
    return top_k_per_group(
        scored,
        "query_id",
        [F.col("cos_sim").desc(), F.col("neighbor_id").asc()],
        k,
        rank_col="rank",
    )


def _hyperplanes(dim: int, n_planes: int, seed: int) -> list[list[float]]:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim)).tolist()


def lsh_bucket(vec: Column, planes: list[list[float]]) -> Column:
    """Random-hyperplane bucket id: one sign bit per plane, packed to a
    long. Fails fast on a vector whose length differs from the plane
    dimension: zip_with would otherwise pad with NULLs, every dot
    product would go NULL, every sign bit 0, and ALL vectors would
    collapse into bucket 0 of every table — silently turning the LSH
    equi-join into a full cross product."""
    dim = len(planes[0])
    bucket = F.lit(0).cast("long")
    for i, plane in enumerate(planes):
        lit_plane = F.array(*[F.lit(float(v)) for v in plane])
        d = F.zip_with(vec, lit_plane, lambda x, y: x.cast("double") * y)
        s = F.aggregate(d, F.lit(0.0), lambda acc, p: acc + p)
        bucket = bucket + F.when(s >= 0, F.lit(1 << i).cast("long")).otherwise(F.lit(0).cast("long"))
    return F.when(F.size(vec) == F.lit(dim), bucket).otherwise(
        F.raise_error(
            F.concat(
                F.lit("lsh_bucket: vector length "),
                F.size(vec).cast("string"),
                F.lit(f" != hyperplane dim {dim} — pass dim= matching the embeddings"),
            )
        )
    )


def cosine_topk_lsh(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    dim: int = 64,
    n_planes: int = 4,
    n_tables: int = 8,
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k via MULTI-TABLE random-hyperplane LSH: L independent
    tables of n_planes sign-bits each; candidates = union over tables of
    same-bucket pairs, deduped before scoring. Recall ≈ 1−(1−p^k)^L where
    p = 1−θ/π — single-table LSH recalls poorly (measured 0.16 on the
    fixture); 8×4 recalls ≳0.9. The candidate join is an equi-join on
    (table, bucket) — shuffle-partitioned, no all-pairs.

    ORACLE CONTRACT (r12): although approximate, the result is a
    deterministic VALUE both engines agree on exactly — the seeded
    hyperplanes are Python-side constants baked into the plan as
    literals, and the DuckDB oracle for query ``cosine_topk_lsh``
    replays each plane dot as the identical LEFT FOLD this function
    builds with ``F.aggregate``. Do not replace that fold with a
    reordered/pairwise sum: a near-zero plane dot could flip a sign
    bit and the bucket sets (and the oracle) would diverge.
    """
    tables = [
        _hyperplanes(dim, n_planes, seed + 1000 * t) for t in range(n_tables)
    ]

    def bucketed(df: DataFrame, out_id: str, keep_vec: str, norm_col: str) -> DataFrame:
        buckets = F.array(
            *[lsh_bucket(F.col(vec_col), planes) for planes in tables]
        )
        return df.select(
            F.col(id_col).alias(out_id),
            F.col(vec_col).alias(keep_vec),
            norm(F.col(vec_col)).alias(norm_col),  # once per vector, not per pair
            F.posexplode(buckets).alias("__table__", "__bucket__"),
        )

    q = bucketed(queries, "query_id", "__qvec__", "__qnorm__")
    c = bucketed(corpus, "neighbor_id", "__cvec__", "__cnorm__")
    candidates = (
        c.join(F.broadcast(q), ["__table__", "__bucket__"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", "__qvec__", "__cvec__", "__qnorm__", "__cnorm__")
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    scored = candidates.select(
        "query_id",
        "neighbor_id",
        _safe_cos(
            dot(F.col("__qvec__"), F.col("__cvec__")),
            F.col("__qnorm__"),
            F.col("__cnorm__"),
        ).alias("cos_sim"),
    ).filter(F.col("cos_sim").isNotNull())
    return top_k_per_group(
        scored,
        "query_id",
        [F.col("cos_sim").desc(), F.col("neighbor_id").asc()],
        k,
        rank_col="rank",
    )


def _sq_dist(a: Column, b: Column) -> Column:
    """Deterministic fixed-point squared L2 distance of two float arrays."""
    diffs = F.zip_with(
        a,
        b,
        lambda x, y: F.floor(
            (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double"))
            * F.lit(_SCALE)
        ).cast("long"),
    )
    return F.aggregate(
        diffs,
        F.lit(0).cast("long"),
        lambda acc, d: acc + d,
        lambda acc: acc.cast("double") / F.lit(_SCALE),
    )


def train_ivf_centroids(
    corpus: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 16,
    iterations: int = 2,
    dim: int = 64,
) -> list[list[float]]:
    """Deterministic IVF coarse quantizer: k centroids = the first
    ``n_cells`` vectors by id (engine-independent seed), refined by a fixed
    number of Lloyd iterations whose means use fixed-point 2^30 sums — so the
    result is independent of partitioning and executor count (an mllib
    KMeans would drift with float summation order).

    The centroid table is index METADATA (n_cells × dim floats): the two
    driver collects here move kilobytes, not data. Each iteration is one
    corpus scan + one tiny aggregation — the standard distributed k-means
    shape.
    """
    seed_rows = (
        corpus.select(F.col(id_col), F.col(vec_col))
        .orderBy(F.col(id_col).asc())
        .limit(n_cells)
        .collect()
    )
    centroids = [[float(v) for v in r[vec_col]] for r in seed_rows]
    if centroids:
        # The declared dim must not drive centroid shape: deriving it from
        # the seed vectors prevents silent zero-padding/truncation (which
        # would null out every zip_with distance) when a caller's dim
        # disagrees with the data.
        dim = len(centroids[0])
    for _ in range(iterations):
        assigned = assign_ivf_cells(corpus, centroids, vec_col=vec_col)
        # Fixed-point per-dimension mean per cell via mean_pool —
        # deterministic under any partitioning, single implementation.
        means = mean_pool(
            assigned.select(
                "__cell__", F.transform(vec_col, lambda x: x.cast("double")).alias(vec_col)
            ),
            "__cell__",
            vec_col,
        ).collect()
        new_centroids = [list(c) for c in centroids]  # keep empty cells put
        by_cell: dict[int, dict[int, float]] = {}
        for r in means:
            by_cell.setdefault(r["__cell__"], {})[r["pos"]] = float(r["mean_val"])
        for cell, dims in by_cell.items():
            new_centroids[cell] = [dims.get(p, 0.0) for p in range(dim)]
        centroids = new_centroids
    return centroids


def assign_ivf_cells(
    df: DataFrame, centroids: list[list[float]], *, vec_col: str = "embedding"
) -> DataFrame:
    """Append ``__cell__`` = argmin squared-distance centroid id — a pure
    per-row JVM expression over literal centroids (no shuffle, no UDF)."""
    dists = F.array(
        *[
            F.struct(
                _sq_dist(
                    F.col(vec_col), F.array(*[F.lit(float(v)) for v in c])
                ).alias("d"),
                F.lit(i).alias("i"),
            )
            for i, c in enumerate(centroids)
        ]
    )
    # array_min over (distance, id) structs: ties break to the lowest cell id.
    return df.withColumn("__cell__", F.array_min(dists).getField("i"))


def cosine_topk_ivf(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_cells: int = 16,
    nprobe: int = 4,
    centroids: list[list[float]] | None = None,
    dim: int = 64,
) -> DataFrame:
    """Approximate top-k via IVF: corpus vectors bucketed into coarse cells,
    each query probes its ``nprobe`` nearest cells, candidates scored exactly.

    The scale path complement to `cosine_topk_lsh`: data-DEPENDENT cells
    (centroids track corpus density; LSH planes are data-oblivious), so
    recall per probed candidate is typically higher. The candidate join is
    an equi-join on cell id — shuffle-partitioned, never all-pairs; scan
    cost is |corpus| · n_cells distance expressions, all inside codegen'd
    JVM expressions.
    """
    if centroids is None:
        centroids = train_ivf_centroids(
            corpus, id_col=id_col, vec_col=vec_col, n_cells=n_cells, dim=dim
        )
    c = assign_ivf_cells(
        corpus.select(
            F.col(id_col).alias("neighbor_id"),
            F.col(vec_col).alias("__cvec__"),
            norm(F.col(vec_col)).alias("__cnorm__"),
        ),
        centroids,
        vec_col="__cvec__",
    )
    # Query side: nprobe nearest cells via array_sort over (distance, id)
    # structs — JVM-side, no driver collect of query vectors.
    dists = F.array(
        *[
            F.struct(
                _sq_dist(
                    F.col("__qvec__"), F.array(*[F.lit(float(v)) for v in cen])
                ).alias("d"),
                F.lit(i).alias("i"),
            )
            for i, cen in enumerate(centroids)
        ]
    )
    q = (
        queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("__qvec__"),
            norm(F.col(vec_col)).alias("__qnorm__"),
        )
        .withColumn(
            "__cell__",
            F.explode(
                F.transform(
                    F.slice(F.array_sort(dists), 1, nprobe), lambda s: s.getField("i")
                )
            ),
        )
    )
    scored = (
        c.join(F.broadcast(q), "__cell__")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            _safe_cos(
                dot(F.col("__qvec__"), F.col("__cvec__")),
                F.col("__qnorm__"),
                F.col("__cnorm__"),
            ).alias("cos_sim"),
        )
        .filter(F.col("cos_sim").isNotNull())
    )
    return top_k_per_group(
        scored,
        "query_id",
        [F.col("cos_sim").desc(), F.col("neighbor_id").asc()],
        k,
        rank_col="rank",
    )


def embedding_near_dup_pairs(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    dim: int = 64,
    n_planes: int = 4,
    n_tables: int = 8,
    seed: int = 42,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (a < b, cos ≥ threshold) — the
    vector-space member of the dedup family (exact / MinHash / SimHash /
    Jaccard / THIS).

    Candidates come from the multi-table random-hyperplane buckets (equi-join
    on (table, bucket) — never all-pairs), then exact fixed-point cosine
    filters. Identical vectors agree on every hyperplane sign, so exact
    duplicates are GUARANTEED candidates in every table; near-dups are
    recalled with the standard 1−(1−p^k)^L probability."""
    tables = [_hyperplanes(dim, n_planes, seed + 1000 * t) for t in range(n_tables)]
    buckets = F.array(*[lsh_bucket(F.col(vec_col), planes) for planes in tables])
    bucketed = df.select(
        F.col(id_col).alias("__id__"),
        F.col(vec_col).alias("__vec__"),
        norm(F.col(vec_col)).alias("__norm__"),
        F.posexplode(buckets).alias("__table__", "__bucket__"),
    )
    left = bucketed.select(
        F.col("__id__").alias("a"),
        F.col("__vec__").alias("__va__"),
        F.col("__norm__").alias("__na__"),
        "__table__",
        "__bucket__",
    )
    right = bucketed.select(
        F.col("__id__").alias("b"),
        F.col("__vec__").alias("__vb__"),
        F.col("__norm__").alias("__nb__"),
        "__table__",
        "__bucket__",
    )
    pairs = (
        left.join(right, ["__table__", "__bucket__"])
        .filter(F.col("a") < F.col("b"))
        .dropDuplicates(["a", "b"])
    )
    cos = _safe_cos(
        dot(F.col("__va__"), F.col("__vb__")), F.col("__na__"), F.col("__nb__")
    )
    return (
        pairs.withColumn("cos_sim", cos)
        .filter(F.col("cos_sim") >= threshold)
        .select("a", "b", "cos_sim")
    )


def mean_pool(df: DataFrame, group_col: str, vec_col: str = "embedding") -> DataFrame:
    """Per-group mean vector, exploded representation (group, pos, mean_val).

    posexplode + groupBy(group, pos) keeps the reduction native and exact
    (decimal sums); re-collect with collect_list over a pos-ordered window if
    an array is needed downstream.
    """
    exploded = df.select(
        F.col(group_col), F.posexplode(F.col(vec_col)).alias("pos", "val")
    )
    scaled_sum = F.sum(
        F.floor(F.col("val").cast("double") * F.lit(_SCALE)).cast("long")
    ).cast("double") / F.lit(_SCALE)
    return exploded.groupBy(group_col, "pos").agg(
        (scaled_sum / F.count("val")).cast("double").alias("mean_val")
    )


def quantize_embeddings(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    *,
    bits: int = 8,
) -> DataFrame:
    """Per-vector min/max linear quantization — the storage-compression
    step before an ANN index ships to serving: each embedding is encoded as
    ``code = floor((x - vmin) / scale + 0.5)`` with
    ``scale = (vmax - vmin) / (2^bits - 1)`` computed per vector. Returns
    ``(id, n_dims, vmin, vmax, mse)``: the per-vector quantization range
    and the reconstruction mean-squared-error — the quality metric that
    decides whether ``bits`` is enough for the corpus.

    Deterministic by construction: ``floor(q + 0.5)`` (not banker's/half-up
    round, which differ across engines at exact .5), and the MSE accumulates
    integer fixed-point per-element errors (exact, order-independent) before
    one float division. Constant vectors (scale 0) encode as all-zero codes
    with mse 0.

    Scale: min/max/scale are per-row array expressions (zero shuffle); the
    error sum explodes to (id, element) rows and aggregates per id — one
    shuffle keyed by the vector id, partition-even.
    """
    if not 1 <= bits <= 16:
        raise ValueError(f"bits must be in [1, 16], got {bits}")
    levels = (1 << bits) - 1
    v = F.col(vec_col)
    base = df.select(
        F.col(id_col),
        v.alias("__v"),
        F.size(v).cast("long").alias("n_dims"),
        F.array_min(v).cast("double").alias("vmin"),
        F.array_max(v).cast("double").alias("vmax"),
    ).filter(F.col("n_dims") > 0)
    scale = (F.col("vmax") - F.col("vmin")) / F.lit(float(levels))
    base = base.withColumn("__scale", scale)
    x = F.explode("__v").alias("__x")
    el = base.select(
        F.col(id_col), "n_dims", "vmin", "vmax", "__scale", x
    ).withColumn("__xd", F.col("__x").cast("double"))
    code = F.when(
        F.col("__scale") > 0,
        F.floor((F.col("__xd") - F.col("vmin")) / F.col("__scale") + F.lit(0.5)),
    ).otherwise(F.lit(0))
    err = F.col("__xd") - (F.col("vmin") + code.cast("double") * F.col("__scale"))
    # Integer fixed-point (2^20) per-element squared error: exact and
    # order-independent under SUM, one float division at the end.
    fxp_err = F.floor(err * err * F.lit(float(1 << 20)) + F.lit(0.5)).cast("long")
    return (
        el.withColumn("__e", fxp_err)
        .groupBy(id_col, "n_dims", "vmin", "vmax")
        .agg(
            (
                F.sum("__e").cast("double")
                / (F.col("n_dims") * F.lit(float(1 << 20)))
            ).alias("mse")
        )
        .select(F.col(id_col), "n_dims", "vmin", "vmax", "mse")
    )


# Assignment strategy switch for kmeans_exact: at most this many centroids
# are unrolled as literal JVM expression arms (linear-in-k expression tree,
# codegen-bounded); above it assignment runs as ONE Arrow-batched numpy
# matmul per batch — same exact integers, same tie-break, scales to the
# SemDeDup regime (k in the tens of thousands).
_UNROLL_MAX_K = 16


def kmeans_exact(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 4,
    iterations: int = 2,
    qbits: int = 12,
) -> DataFrame:
    """Exact-arithmetic distributed k-means (Lloyd's, fixed iterations):
    embedding coordinates quantize to NON-NEGATIVE fixed-point integers
    (``floor(x·2^qbits) + 2^qbits`` — the shift makes every later
    truncating division agree with floor division on any engine), seeds
    are the ``k`` smallest ids, assignment is integer squared-L2 argmin
    with (distance, cluster-id) tie-break, and each centroid update is
    the per-dimension integer mean ``sum div n``. Every number in the
    loop is exact int64, so the final assignment — cluster AND distance
    — replays bit-for-bit in a DuckDB oracle (unrolled one CTE pair per
    iteration), something float k-means fundamentally cannot do
    (summation-order drift flips argmin ties). Empty clusters keep their
    previous centroid.

    Scale shape — the standard distributed Lloyd's: per iteration ONE
    corpus scan into a k×dim-cell aggregate (map-side partial sums of
    ``q[d]`` per cluster — no explode, no shuffle of vectors) and a
    driver fetch of the new centroids that is **O(k·dim)**, NOT
    constant — the driver is the bound on k, not the executors. Small
    k collects Rows (kilobytes); large k (the same ``_UNROLL_MAX_K``
    switch) fetches the k×(dim+2) aggregate columnar via toPandas and
    rebuilds with one vectorized floor-divide, so the SemDeDup regime
    (k = 50k, dim = 768) moves ~300 MB as flat columns instead of Row
    objects and skips the k·dim Python loop. Callers still budget
    driver memory O(k·dim) at that scale.
    Assignment switches on k
    (``_UNROLL_MAX_K``): small k runs as pure JVM zip_with/aggregate
    expressions over literal centroids; large k (the SemDeDup regime,
    k ∝ N) runs as ONE Arrow-batched numpy matmul per batch — identical
    int64 arithmetic and tie-break, verified equal by test.
    int64 bounds: per-dim sums stay exact to ~2^(62-qbits) points per
    cluster (≈4.5e14 at qbits=12).

    Returns ``(id, cluster, dist_q)`` — cluster in 0..k-1, dist_q the
    exact quantized squared distance to the final centroid.
    """
    if k <= 0 or iterations < 0:
        raise ValueError(f"need k > 0 and iterations >= 0, got k={k}, it={iterations}")
    if not 1 <= qbits <= 20:
        raise ValueError(f"qbits must be in [1, 20], got {qbits}")
    from pyspark import StorageLevel

    one = 1 << qbits
    q = F.transform(
        F.col(vec_col),
        lambda x: F.floor(x.cast("double") * F.lit(float(one))).cast("long")
        + F.lit(one),
    )
    pts = (
        df.filter(F.col(vec_col).isNotNull() & F.col(id_col).isNotNull())
        .select(F.col(id_col), q.alias("__q"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    try:
        seed_rows = pts.orderBy(F.col(id_col).asc()).limit(k).collect()
        if not seed_rows:
            return pts.select(
                F.col(id_col),
                F.lit(None).cast("long").alias("cluster"),
                F.lit(None).cast("long").alias("dist_q"),
            )
        cents = [list(r["__q"]) for r in seed_rows]
        dim = len(cents[0])
        # Seeds ARE data rows and are collected before any executor-side
        # guard can fire — validate them here so a ragged/NULL seed raises
        # the same loud error as any other malformed vector (np.asarray on
        # ragged centroids would otherwise fail with an opaque shape error
        # on the matmul path only).
        for r, c in zip(seed_rows, cents):
            if len(c) != dim or any(v is None for v in c):
                raise ValueError(
                    f"kmeans_exact: vector with length {len(c)} != dim {dim} "
                    f"or NULL coordinates (seed id {r[id_col]!r}) — fix or "
                    f"filter malformed embeddings"
                )

        id_type = df.schema[id_col].dataType.simpleString()
        out_schema = (
            f"{id_col} {id_type}, __q array<bigint>, cluster bigint, dist_q bigint"
        )

        def guard_q(frame: DataFrame) -> DataFrame:
            # Fail FAST on ragged vectors / NULL coordinates, identically on
            # both assignment paths: the unrolled expressions would quietly
            # zip_with-pad a short vector with NULLs (NULL arms, distorted
            # argmin) while numpy would crash the stage on ragged input —
            # same data must never get "an answer vs a crash" depending on k.
            ok = (F.size(F.col("__q")) == F.lit(dim)) & ~F.exists(
                F.col("__q"), lambda v: v.isNull()
            )
            return frame.withColumn(
                "__q",
                F.when(ok, F.col("__q")).otherwise(
                    F.raise_error(
                        F.concat(
                            F.lit("kmeans_exact: vector with length "),
                            F.size(F.col("__q")).cast("string"),
                            F.lit(f" != dim {dim} or NULL coordinates — "
                                  "fix or filter malformed embeddings"),
                        )
                    )
                ),
            )

        def assign(frame: DataFrame, cents: list[list[int]]) -> DataFrame:
            frame = guard_q(frame)
            if len(cents) <= _UNROLL_MAX_K:
                # Small k: k literal struct arms, whole-stage-codegen'd JVM
                # expressions — zero Python in the hot path.
                arms = []
                for j, c in enumerate(cents):
                    lit_c = F.array(*[F.lit(int(v)).cast("long") for v in c])
                    d = F.aggregate(
                        F.zip_with("__q", lit_c, lambda x, y: (x - y) * (x - y)),
                        F.lit(0).cast("long"),
                        lambda acc, v: acc + v,
                    )
                    arms.append(
                        F.struct(d.alias("d"), F.lit(j).cast("long").alias("j"))
                    )
                best = F.array_min(F.array(*arms))
                return frame.select(
                    F.col(id_col),
                    F.col("__q"),
                    best["j"].alias("cluster"),
                    best["d"].alias("dist_q"),
                )
            # Large k (the SemDeDup regime, k ∝ N): the unrolled expression
            # tree is linear in k to BUILD and blows past codegen limits —
            # switch to one Arrow-batched numpy matmul per batch.
            # BIT-IDENTICAL arithmetic: same int64 quantized coords,
            # d = ‖q‖² − 2·q·c + ‖c‖² (exact int64; coords ≤ 2^(qbits+1),
            # so per-dim terms ≤ dim·4^(qbits+1) — qbits ≤ 20 keeps the
            # full sum < 2^63 for dim into the tens of thousands), and
            # np.argmin's first-minimum rule IS the struct-min (d, j)
            # tie-break. The centroid matrix ships once per stage with the
            # serialized task function (k·dim·8 bytes — index metadata).
            import numpy as np
            import pandas as pd

            cmat = np.asarray(cents, dtype=np.int64)
            cnorm = (cmat * cmat).sum(axis=1)
            # Tile the batch rows so the distance matrix stays ~tile×k ≈
            # 2^22 int64 cells (32 MB) regardless of k: at the SemDeDup
            # regime (k = 50k) a full 10k-row Arrow batch would otherwise
            # materialize a 4 GB dist matrix (plus the matmul intermediate)
            # per concurrent task.
            tile = max(1, (1 << 22) // max(len(cents), 1))

            def batches(it):
                for pdf in it:
                    if not len(pdf):
                        continue
                    qmat = np.asarray(pdf["__q"].tolist(), dtype=np.int64)
                    qnorm = (qmat * qmat).sum(axis=1)
                    js = np.empty(len(pdf), dtype=np.int64)
                    ds = np.empty(len(pdf), dtype=np.int64)
                    for s in range(0, len(pdf), tile):
                        e = min(s + tile, len(pdf))
                        dist = (
                            qnorm[s:e, None]
                            - 2 * (qmat[s:e] @ cmat.T)
                            + cnorm[None, :]
                        )
                        j = dist.argmin(axis=1)
                        js[s:e] = j
                        ds[s:e] = dist[np.arange(e - s), j]
                    yield pd.DataFrame(
                        {
                            id_col: pdf[id_col].to_numpy(),
                            "__q": pdf["__q"],
                            "cluster": js,
                            "dist_q": ds,
                        }
                    )

            return frame.select(F.col(id_col), F.col("__q")).mapInPandas(
                batches, out_schema
            )

        for _ in range(iterations):
            a = assign(pts, cents)
            agg = a.groupBy("cluster").agg(
                F.count(F.lit(1)).alias("__n"),
                *[F.sum(F.col("__q")[d]).alias(f"__s{d}") for d in range(dim)],
            )
            if len(cents) <= _UNROLL_MAX_K:
                rows = agg.collect()
                new = [list(c) for c in cents]
                for r in rows:
                    j, n = int(r["cluster"]), int(r["__n"])
                    new[j] = [int(r[f"__s{d}"]) // n for d in range(dim)]
                cents = new
            else:
                # Large-k (SemDeDup regime, k ∝ N): the k-Row collect plus
                # the k·dim Python rebuild loop is the DRIVER bottleneck —
                # ~300 MB of Row objects at k=50k, dim=768. Fetch the
                # k×(dim+2) aggregate columnar (toPandas rides Arrow when
                # the session enables it; either way no per-cell Python)
                # and rebuild with one vectorized floor-divide. Arithmetic
                # is identical: int64 sums, floor division on the
                # non-negative shifted scale (numpy // floors like
                # Python's), empty clusters keep their previous centroid —
                # the matmul-vs-unrolled equality test pins both paths
                # through this update with iterations > 0.
                pdf = agg.toPandas()
                cmat = np.asarray(cents, dtype=np.int64)
                if len(pdf):
                    js = pdf["cluster"].to_numpy(np.int64)
                    ns = pdf["__n"].to_numpy(np.int64)
                    sums = pdf[[f"__s{d}" for d in range(dim)]].to_numpy(np.int64)
                    cmat[js] = sums // ns[:, None]
                cents = [list(map(int, row)) for row in cmat]
        return assign(pts, cents).select(id_col, "cluster", "dist_q")
    finally:
        pts.unpersist()


def _cos_int64_bound_check(
    op: str, *, dim: int, qbits: int, max_abs: float, p: int, q: int
) -> None:
    """Shared semdedup-family validation: threshold rational, qbits/dim
    bounds, and the int64 overflow PROOF for the exact ``cos ≥ p/q`` test
    (``q²·dot² ≥ p²·‖a‖²·‖b‖²`` with dot ≤ dim·M², M = ⌈max_abs·2^qbits⌉).
    Rejects any (dim, qbits, max_abs, q) combo whose worst case reaches
    2^63 — silent wraparound would corrupt prune flags, and nothing
    downstream could tell."""
    import math

    if not (0 < p <= q):
        raise ValueError(f"threshold must be a rational in (0, 1], got {p}/{q}")
    if not 1 <= qbits <= 14:
        raise ValueError(f"qbits must be in [1, 14], got {qbits}")
    if dim < 1 or not max_abs > 0:
        raise ValueError(f"need dim >= 1 and max_abs > 0, got dim={dim}, max_abs={max_abs}")
    m_coord = math.ceil(max_abs * (1 << qbits))
    worst = (q * dim * m_coord * m_coord) ** 2
    if worst >= (1 << 63):
        raise ValueError(
            f"{op}: q²·dot² can overflow int64 at dim={dim}, qbits={qbits}, "
            f"max_abs={max_abs}, threshold denominator {q} "
            f"(worst case 2^{worst.bit_length()}); lower qbits/q or the bounds"
        )


def _fixed_point_vec(
    vec_col: str, *, dim: int, max_abs: float, qbits: int, op: str
) -> Column:
    """SIGNED fixed-point quantization ``floor(x·2^qbits)`` with the
    overflow proof's preconditions ENFORCED: every coordinate must sit
    inside ±max_abs (else the int64 bound is void) and the vector must
    have exactly ``dim`` elements (the lsh_bucket rule: a short vector
    zip_with-padding to NULL would silently distort dots). Violations
    abort loudly instead of corrupting prune flags."""
    one = 1 << qbits
    per_coord = lambda x: F.when(  # noqa: E731
        F.abs(x.cast("double")) <= F.lit(float(max_abs)),
        F.floor(x.cast("double") * F.lit(float(one))).cast("long"),
    ).otherwise(
        F.raise_error(
            F.concat(
                F.lit(f"{op}: |coordinate| > max_abs={max_abs} (got "),
                x.cast("string"),
                F.lit(") — the int64 overflow proof requires the bound; "
                      "raise max_abs (and re-check qbits/threshold)"),
            )
        ).cast("long")
    )
    return F.when(
        F.size(F.col(vec_col)) == F.lit(dim),
        F.transform(F.col(vec_col), per_coord),
    ).otherwise(
        F.raise_error(
            F.concat(
                F.lit(f"{op}: vector length "),
                F.size(F.col(vec_col)).cast("string"),
                F.lit(f" != dim {dim} — pass dim= matching the embeddings"),
            )
        )
    )


def _sdot(u: Column, v: Column) -> Column:
    """Exact int64 dot of two quantized long arrays."""
    return F.aggregate(
        F.zip_with(u, v, lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, w: acc + w,
    )


def semdedup(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 4,
    iterations: int = 2,
    kmeans_qbits: int = 12,
    qbits: int = 8,
    threshold: "tuple[int, int]" = (3, 10),
    dim: int = 64,
    max_abs: float = 2.0,
    keeper: str = "min_id",
) -> DataFrame:
    """SemDeDup-style SEMANTIC dedup (Abbas et al. 2023, arXiv:2303.09540):
    the embedding-space member of the dedup family — MinHash/SimHash/CDC
    catch lexical twins, this catches paraphrases and re-encodes that share
    no tokens at all. Cluster the corpus with :func:`kmeans_exact`, then
    prune, WITHIN each cluster only, every point that has a
    keeper-preceding cluster-mate with cosine ≥ ``threshold``.

    ``keeper`` picks which member of a near-dup pair survives:

    - ``"min_id"`` (default): smaller-id-wins — this repo's deterministic
      `dedup_exact` convention; the oracle-checked query pins this mode.
    - ``"min_centroid_sim"``: the SemDeDup paper's quality-aware rule —
      keep the member LEAST similar to its cluster centroid (maximizes
      retained diversity). The exact ordering key is the k-means
      assignment's own int64 ``dist_q`` (quantized squared L2 to the
      final centroid), ordered DESC with id ASC tie-break: for
      unit-normalized embeddings squared L2 distance to a fixed point is
      strictly decreasing in cosine similarity, so max-``dist_q`` IS
      min-centroid-cosine, decided in already-computed exact integers
      (no new float surface, still oracle-replayable).

    Exactness: the intra-cluster test runs on SIGNED fixed-point
    coordinates ``floor(x·2^qbits)``; ``cos ≥ p/q`` is decided as
    ``dot > 0 AND q²·dot² ≥ p²·‖a‖²·‖b‖²`` — pure int64, so the whole
    report (cluster ids from the exact k-means loop AND the prune flags)
    replays bit-for-bit in a DuckDB oracle. The int64 bound is PROVED at
    validation, not assumed: with M = ⌈max_abs·2^qbits⌉ the worst case is
    ``(q·dim·M²)²``, rejected up front when it reaches 2^63, and the
    preconditions are enforced at execution (every |coordinate| ≤
    ``max_abs``, every vector exactly ``dim`` long, no NULL coordinates —
    violations raise instead of silently corrupting prune flags).
    Zero-norm vectors never match (cosine undefined — the `_safe_cos`
    rule) and are never pruned.

    Scale shape: never all-pairs — candidates are equi-joined on the
    cluster id, so the pair count is Σ cluster_size², controlled by
    choosing ``k ∝ N`` (the paper runs k = 50k clusters on LAION-scale
    corpora; cluster size, not corpus size, bounds the quadratic term —
    a FIXED k is quadratic in N and only right for bounded corpora).
    Large k rides :func:`kmeans_exact`'s Arrow-matmul assignment path
    (×10 probe at k ∝ N: ratio 0.92); the k-means stage is one corpus
    scan per iteration with a centroid-table collect, the prune stage
    one shuffle on (cluster) plus a broadcast-sized distinct of pruned
    ids.

    Returns ``(id, cluster, pruned)`` — one row per non-null input vector,
    ``pruned`` 0/1 (1 = drop: a KEEPER-PRECEDING near-twin exists
    in-cluster — a smaller-id one under the default ``min_id``, a
    farther-from-centroid one (dist_q DESC, id ASC) under
    ``min_centroid_sim``).
    """
    p, q = threshold
    _cos_int64_bound_check("semdedup", dim=dim, qbits=qbits, max_abs=max_abs, p=p, q=q)
    if keeper not in ("min_id", "min_centroid_sim"):
        raise ValueError(
            f"keeper must be 'min_id' or 'min_centroid_sim', got {keeper!r}"
        )
    # min_id rides (id, cluster) only; min_centroid_sim also carries the
    # assignment's dist_q as its exact ordering key — the default plan is
    # byte-identical to pre-keeper rounds.
    assign_cols = (
        [id_col, "cluster"] if keeper == "min_id" else [id_col, "cluster", "dist_q"]
    )
    assign = kmeans_exact(
        df, id_col=id_col, vec_col=vec_col, k=k, iterations=iterations,
        qbits=kmeans_qbits,
    ).select(*assign_cols)
    qexpr = _fixed_point_vec(
        vec_col, dim=dim, max_abs=max_abs, qbits=qbits, op="semdedup"
    )
    sdot = _sdot
    # Materialize (id, q, ‖q‖², cluster) ONCE: three consumers hang off it
    # (both self-join sides + the output frame), and each would otherwise
    # re-scan the corpus and re-run the k² assignment expression.
    pts = _ckpt(
        df.filter(F.col(vec_col).isNotNull() & F.col(id_col).isNotNull())
        .select(F.col(id_col), qexpr.alias("__q"))
        .withColumn("__n", sdot(F.col("__q"), F.col("__q")))
        .join(assign, id_col)
    )
    extra_a = [F.col("dist_q").alias("__da")] if keeper == "min_centroid_sim" else []
    extra_b = [F.col("dist_q").alias("__db")] if keeper == "min_centroid_sim" else []
    a = pts.select(
        F.col(id_col).alias("__ia"), F.col("cluster"),
        F.col("__q").alias("__qa"), F.col("__n").alias("__na"), *extra_a,
    )
    b = pts.select(
        F.col(id_col).alias("__ib"), F.col("cluster"),
        F.col("__q").alias("__qb"), F.col("__n").alias("__nb"), *extra_b,
    )
    if keeper == "min_id":
        precedes = F.col("__ia") < F.col("__ib")
    else:
        # a precedes b in keeper order (dist_q DESC, id ASC): farther
        # from the centroid wins, so b is prunable when a is strictly
        # farther, or equally far with the smaller id. Strict total
        # order — self-pairs can never satisfy it.
        precedes = (F.col("__da") > F.col("__db")) | (
            (F.col("__da") == F.col("__db")) & (F.col("__ia") < F.col("__ib"))
        )
    d = sdot(F.col("__qa"), F.col("__qb"))
    cond = (
        precedes
        & (d > F.lit(0))
        & (F.lit(q * q) * d * d >= F.lit(p * p) * F.col("__na") * F.col("__nb"))
    )
    pruned_ids = (
        a.join(b, on=["cluster"]).filter(cond)
        .select(F.col("__ib").alias(id_col)).distinct()
        .withColumn("__pruned", F.lit(1).cast("long"))
    )
    return (
        pts.join(pruned_ids, on=id_col, how="left")
        .select(
            F.col(id_col),
            F.col("cluster"),
            F.coalesce(F.col("__pruned"), F.lit(0).cast("long")).alias("pruned"),
        )
    )


def semdedup_auto(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    target_cluster_size: int = 128,
    min_k: int = 4,
    max_k: int = 65536,
    **kwargs,
) -> DataFrame:
    """:func:`semdedup` with the scale contract made EXECUTABLE: k is
    derived from the corpus size as ``ceil(n / target_cluster_size)``
    (clamped to [min_k, min(max_k, n)]), pinning expected cluster size —
    and therefore the intra-cluster quadratic term — as the corpus grows.
    A fixed k is quadratic in N (see the ×10 probe in docs/SCALE.md);
    this wrapper is what a production caller should reach for. Costs one
    extra count scan to size k (driver-side scalar). The oracle-checked
    query keeps calling :func:`semdedup` directly with a pinned k so its
    SQL twin stays static.

    ``max_k`` defaults to the SemDeDup paper's LAION-scale cluster count
    magnitude; beyond it cluster size grows again — raise it for larger
    corpora (assignment is the Arrow-matmul path, linear in k).
    """
    if target_cluster_size < 1:
        raise ValueError(
            f"target_cluster_size must be >= 1, got {target_cluster_size}"
        )
    if not 1 <= min_k <= max_k:
        raise ValueError(f"need 1 <= min_k <= max_k, got {min_k}..{max_k}")
    n = df.filter(F.col(vec_col).isNotNull() & F.col(id_col).isNotNull()).count()
    k = max(min_k, -(-n // target_cluster_size))
    k = min(k, max_k, max(n, 1))
    return semdedup(df, id_col=id_col, vec_col=vec_col, k=k, **kwargs)


def semdedup_against(
    new_df: DataFrame,
    ref_df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_planes: int = 4,
    n_tables: int = 8,
    seed: int = 42,
    qbits: int = 8,
    threshold: "tuple[int, int]" = (3, 10),
    max_abs: float = 2.0,
    max_ref_bucket: int | None = None,
) -> DataFrame:
    """Cross-snapshot SEMANTIC dedup: flag every vector in a NEW batch
    that has a cosine near-twin in a REFERENCE corpus, WITHOUT
    re-clustering the union — the embedding-space member of the
    incremental-dedup trio (:func:`..dedup.dedup_against` is the exact
    digest member, :func:`..dedup.lsh_pairs_between` the lexical one).
    Re-running :func:`semdedup` over ref ∪ new would re-cluster and
    re-prune the whole reference every batch; this touches the reference
    only through bucket keys and id-keyed candidate lookups.

    Candidates come from the multi-table random-hyperplane machinery
    (:func:`cosine_topk_lsh` / the streaming semantic gate): both sides
    are signed with the SAME ``n_tables`` seeded tables of ``n_planes``
    sign bits, and a (table, bucket) equi-join yields cross-side pairs —
    never all-pairs. Verification is :func:`semdedup`'s exact int64
    fixed-point test (``cos ≥ p/q`` ⟺ ``dot > 0 ∧ q²·dot² ≥
    p²·‖a‖²·‖b‖²`` on ``floor(x·2^qbits)`` coords, overflow-proof
    checked up front), so the report is deterministic and replays
    bit-for-bit in SQL with the seeded planes embedded as literals (the
    `cosine_topk_lsh` oracle precedent).

    Recall contract: a new vector BYTE-IDENTICAL in direction to a ref
    vector shares every table's bucket (same sign bits), so exact
    re-encodes are guaranteed candidates; near-twins at angle θ surface
    with p ≈ 1−(1−(1−θ/π)^n_planes)^n_tables — tune tables/planes to the
    target θ. ``max_ref_bucket`` (opt-in) drops (table, bucket) keys
    whose REF-side occupancy exceeds the cap — the stop-member rule that
    bounds a degenerate hot bucket (e.g. a boilerplate embedding sink)
    at the cost of recall inside it, including the exact-twin guarantee
    for vectors hashing there; leave None unless a skew audit says so.

    Scale shape: each side is scanned once into a checkpointed
    (id, quantized vec, ‖·‖²) frame; shuffles are the (table, bucket)
    candidate join, two id-keyed verify joins, and one final left join —
    all equi-joins keyed on bucket keys or ids. Zero-norm vectors never
    match (cosine undefined — the `_safe_cos` rule); NULL ids/vectors
    are dropped; wrong-length or out-of-bound coordinates raise.

    Returns one row per non-null new vector: ``(id, pruned, ref_match)``
    — ``pruned`` 0/1 (1 = a verified ref near-twin exists), ``ref_match``
    the smallest matching ref id (NULL when pruned = 0).
    """
    p, q = threshold
    _cos_int64_bound_check(
        "semdedup_against", dim=dim, qbits=qbits, max_abs=max_abs, p=p, q=q
    )
    if not 1 <= n_planes <= 62:
        raise ValueError(f"n_planes must be in [1, 62], got {n_planes}")
    if n_tables < 1:
        raise ValueError(f"n_tables must be >= 1, got {n_tables}")
    if max_ref_bucket is not None and max_ref_bucket < 1:
        raise ValueError(f"max_ref_bucket must be >= 1, got {max_ref_bucket}")
    tables = [_hyperplanes(dim, n_planes, seed + 1000 * t) for t in range(n_tables)]
    buckets = F.array(*[lsh_bucket(F.col(vec_col), planes) for planes in tables])
    qexpr = _fixed_point_vec(
        vec_col, dim=dim, max_abs=max_abs, qbits=qbits, op="semdedup_against"
    )

    def prep(df: DataFrame, idname: str) -> DataFrame:
        # One scan per side: quantized coords + norm + every table's
        # bucket, checkpointed — three consumers (band explode, verify
        # join, and for the new side the output frame) would otherwise
        # each redo the n_tables×n_planes plane dots.
        return _ckpt(
            df.filter(F.col(vec_col).isNotNull() & F.col(id_col).isNotNull())
            .select(
                F.col(id_col).alias(idname),
                qexpr.alias("__q"),
                buckets.alias("__bk"),
            )
            .withColumn("__n", _sdot(F.col("__q"), F.col("__q")))
        )

    npts = prep(new_df, "__ni")
    rpts = prep(ref_df, "__ri")
    nb = npts.select("__ni", F.posexplode("__bk").alias("band_id", "band_sig"))
    rb = rpts.select("__ri", F.posexplode("__bk").alias("band_id", "band_sig"))
    if max_ref_bucket is not None:
        hot = (
            rb.groupBy("band_id", "band_sig")
            .agg(F.count(F.lit(1)).alias("__df"))
            .filter(F.col("__df") > max_ref_bucket)
            .select("band_id", "band_sig")
        )
        rb = rb.join(hot, ["band_id", "band_sig"], "left_anti")
    cand = nb.join(rb, ["band_id", "band_sig"]).select("__ni", "__ri").distinct()
    d = _sdot(F.col("__qn"), F.col("__qr"))
    verified = (
        cand.join(
            npts.select("__ni", F.col("__q").alias("__qn"), F.col("__n").alias("__nn")),
            "__ni",
        )
        .join(
            rpts.select("__ri", F.col("__q").alias("__qr"), F.col("__n").alias("__nr")),
            "__ri",
        )
        .filter(
            (d > F.lit(0))
            & (F.lit(q * q) * d * d >= F.lit(p * p) * F.col("__nn") * F.col("__nr"))
        )
        .groupBy("__ni")
        .agg(F.min("__ri").alias("ref_match"))
    )
    return (
        npts.select(F.col("__ni"))
        .join(verified, "__ni", "left")
        .select(
            F.col("__ni").alias(id_col),
            F.col("ref_match").isNotNull().cast("long").alias("pruned"),
            F.col("ref_match"),
        )
    )


def semdedup_against_auto(
    new_df: DataFrame,
    ref_df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    target_bucket_size: int = 128,
    min_planes: int = 4,
    max_planes: int = 24,
    **kwargs,
) -> DataFrame:
    """:func:`semdedup_against` with the scale contract made EXECUTABLE
    (the :func:`semdedup_auto` pattern): ``n_planes`` is derived from the
    REFERENCE corpus size as ``ceil(log2(n_ref / target_bucket_size))``
    (clamped to [min_planes, max_planes]), pinning expected per-table
    bucket occupancy — and therefore the cross-side candidate join — as
    the reference grows. A fixed ``n_planes`` has a FIXED bucket count
    (``n_tables·2^n_planes``), so candidates grow ~quadratically in N
    (see the ×10 probe in docs/SCALE.md); this wrapper is what a
    production caller should reach for. Costs one count scan of the
    reference (driver-side scalar).

    Recall trade, stated not hidden: per-table collision probability for
    near-twins at angle θ is ``(1−θ/π)^n_planes``, so growing planes
    with log₂ N thins per-table recall — counter by growing ``n_tables``
    (recall ≈ 1−(1−p^planes)^tables; the exact-twin floor is
    plane-count-independent). ``max_planes`` defaults well below the
    62-bit pack limit because recall, not packing, binds first.
    """
    import math

    if target_bucket_size < 1:
        raise ValueError(f"target_bucket_size must be >= 1, got {target_bucket_size}")
    if not 1 <= min_planes <= max_planes <= 62:
        raise ValueError(
            f"need 1 <= min_planes <= max_planes <= 62, got {min_planes}..{max_planes}"
        )
    n = ref_df.filter(
        F.col(vec_col).isNotNull() & F.col(id_col).isNotNull()
    ).count()
    if n > target_bucket_size:
        planes = math.ceil(math.log2(n / target_bucket_size))
    else:
        planes = min_planes
    planes = min(max(planes, min_planes), max_planes)
    return semdedup_against(
        new_df, ref_df, id_col=id_col, vec_col=vec_col, n_planes=planes, **kwargs
    )


def knn_label_accuracy(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    k: int = 5,
) -> DataFrame:
    """k-NN classifier evaluation over an embedding table: each query
    vector's label is predicted by majority vote of its k exact cosine
    neighbors (self excluded) and scored against its own label — the
    standard "are these embeddings linearly useful?" probe run before
    committing to a representation. Vote ties break to the smallest
    label, so the prediction is deterministic and oracle-replayable.

    Scale shape: rides :func:`cosine_topk_bruteforce` (queries
    broadcast-sized by assumption, corpus scanned once), then
    vote/score work is |queries|·k rows — two summary-sized groupBys
    and one window top-1. Swap in the IVF/LSH top-k for the full-corpus
    evaluation at 100 TB.

    Returns ``(label, n_queries, n_correct, acc_r)`` per true label.
    """
    from pyspark.sql import Window

    nbrs = cosine_topk_bruteforce(
        corpus, queries, id_col=id_col, vec_col=vec_col, k=k
    )
    nlab = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(label_col).alias("__nl")
    )
    qlab = queries.select(
        F.col(id_col).alias("query_id"), F.col(label_col).alias("__ql")
    )
    votes = (
        nbrs.join(nlab, "neighbor_id")
        .join(qlab, "query_id")
        .groupBy("query_id", "__ql", "__nl")
        .agg(F.count(F.lit(1)).alias("__v"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("__v").desc(), F.col("__nl").asc()
    )
    pred = (
        votes.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
    )
    return (
        pred.groupBy(F.col("__ql").alias("label"))
        .agg(
            F.count(F.lit(1)).alias("n_queries"),
            F.sum(
                F.when(F.col("__nl") == F.col("__ql"), 1).otherwise(0)
            ).alias("n_correct"),
        )
        .select(
            "label",
            "n_queries",
            "n_correct",
            F.round(
                F.col("n_correct").cast("double")
                / F.col("n_queries").cast("double"),
                9,
            ).alias("acc_r"),
        )
    )


def overlap_pairs(
    members: DataFrame, set_col: str, member_col: str, min_overlap: int = 1
) -> DataFrame:
    """Pairs of sets that share at least ``min_overlap`` members, as
    ``(a, b, overlap)`` with ``a < b`` — the package's one member-keyed
    pair count, under set similarity, basket co-occurrence and the
    co-purchase graph.

    ``members`` is the caller's distinct (set, member) frame, so each
    shared member counts once. The member column is the inverted index:
    a self-join on it enumerates exactly the co-occurring pairs, at cost
    Σ_member df(member)² rather than n², and one (a, b) groupBy counts
    them. NULLs need no filter: the equi-join drops NULL members, and
    ``a < b`` drops NULL sets.
    """
    if min_overlap < 1:
        raise ValueError(f"min_overlap must be >= 1, got {min_overlap}")
    # r14 note: a posting-list enumeration for set_similarity_pairs'
    # capped path (groupBy(member).collect_list + sorted upper-triangle
    # combos expanded in codegen) was built and measured — it wins on the
    # ISOLATED enumeration stage (0.88 vs 1.01 s median at sf0.1,
    # alternating single-session runs) and sheds 12 exchanges / 2
    # SortMergeJoins from the full plan, but the FULL pipeline
    # measured consistently SLOWER (4.0 vs 5.0 s clean; 3-4 of 4
    # interleaved pairs in every protocol): collect_list aggregation
    # degrades to sort-based past the object-hash fallback threshold
    # and the expansion stage loses the join's pipelined partial
    # aggregation. Reverted to the self-join (the guide §1.1
    # "ideal-plan gotcha" case); see OPTIMIZATION_r14.md.
    la = members.select(F.col(set_col).alias("a"), F.col(member_col).alias("__m"))
    lb = members.select(F.col(set_col).alias("b"), F.col(member_col).alias("__m"))
    return (
        la.join(lb, "__m")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("overlap"))
        .filter(F.col("overlap") >= min_overlap)
    )


def set_similarity_pairs(
    df: DataFrame,
    set_col: str,
    member_col: str,
    *,
    threshold: float = 0.2,
    max_member_df: int | None = None,
    min_overlap: int = 1,
) -> DataFrame:
    """Set-similarity join via an inverted index: Jaccard between every
    pair of sets (users as sets of purchased items, docs as sets of
    entities) that share ≥ ``min_overlap`` members — collaborative-
    filtering neighborhoods, audience overlap, entity co-reference.

    NEVER all-pairs: the pairs and their overlaps come from
    :func:`overlap_pairs`. The hot-member quadratic blowup (a member
    present in millions of sets — the stop-word of set joins) is capped
    by ``max_member_df``: members with document frequency above it are
    EXCLUDED from pair generation AND from the set sizes, keeping the
    Jaccard consistent (this is the standard prefix-filtering
    compromise; at 100 TB it is the knob that bounds the shuffle). Pass
    None to disable (exact Jaccard over all members — only safe when the
    df distribution is known bounded).

    One groupBy(member) for the df filter, the pair count, and set-keyed
    equi-joins of the size table (AQE broadcasts them when small) — all
    shuffles key-partitioned, no global sort. The distinct (set, member)
    frame feeds FOUR plan branches (df filter, sizes, both self-join
    sides), so it is persisted for the duration of the call (the
    adamic_adar convention — without it every branch re-scans and
    re-distincts the input; measured 16 FileScans → 1 on the
    co-purchase query) and the result lineage-cut before release.

    Returns ``(a, b, size_a, size_b, overlap, jaccard_r)`` with a < b and
    ``jaccard = overlap / (size_a + size_b − overlap)``.
    """
    from pyspark import StorageLevel

    pairs_src = (
        df.select(F.col(set_col).alias("__s"), F.col(member_col).alias("__m"))
        .filter(F.col("__s").isNotNull() & F.col("__m").isNotNull())
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    released = [pairs_src]
    try:
        if max_member_df is not None:
            keep = (
                pairs_src.groupBy("__m")
                .agg(F.count(F.lit(1)).alias("__df"))
                .filter(F.col("__df") <= max_member_df)
                .select("__m")
            )
            pairs_src = pairs_src.join(keep, "__m", "left_semi").persist(
                StorageLevel.MEMORY_AND_DISK
            )
            released.append(pairs_src)
        sizes = pairs_src.groupBy("__s").agg(F.count(F.lit(1)).alias("__sz"))
        overlap = overlap_pairs(pairs_src, "__s", "__m", min_overlap)
        sa = sizes.select(F.col("__s").alias("a"), F.col("__sz").alias("size_a"))
        sb = sizes.select(F.col("__s").alias("b"), F.col("__sz").alias("size_b"))
        j = (
            overlap.join(sa, "a")
            .join(sb, "b")
            .withColumn(
                "jaccard_r",
                F.round(
                    F.col("overlap").cast("double")
                    / (F.col("size_a") + F.col("size_b") - F.col("overlap")).cast(
                        "double"
                    ),
                    9,
                ),
            )
            .filter(F.col("jaccard_r") >= threshold)
        )
        out = j.select("a", "b", "size_a", "size_b", "overlap", "jaccard_r")
        # Materialize (threshold-sized) before releasing the loop frames —
        # the pagerank finally-release convention.
        return _ckpt(out)
    finally:
        for f_ in released:
            f_.unpersist()


def _pca_fit(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    iterations: int = 12,
    qbits: int = 10,
    bits: int = 20,
):
    """Shared PCA fit: returns ``(centered, loadings)`` where ``centered``
    is the PERSISTED quantized-centered long form (caller must
    unpersist) and ``loadings`` the converged fixed-point vector
    (columns ``j``, ``v``). Top principal component of an embedding table by fixed-point power
    iteration over the exact integer covariance matrix — the first step
    of embedding whitening/diagnostics (a dominant component usually
    means a corpus-wide bias direction worth projecting out before
    similarity search; the "all embeddings point the same way" disease).

    Exact replay chain: coordinates quantize to ``floor(x·2^qbits)``
    (signed); per-dimension means are ``floor(Σ/n)`` (a quotient of
    int64s with denominator < 2^31 cannot round across an integer
    boundary — the pagerank argument); centered values are exact int64;
    the covariance entries ``cov[i,j] = floor(Σ c_i·c_j / n)`` are again
    exact — and crucially BOUNDED BY x_max²·2^2qbits independent of n,
    so the power-iteration products ``Σ_j cov·v`` stay in int64 at any
    corpus size (the n-dependence lives only in the Σ c_i·c_j sums,
    exact to n·(x_max·2^qbits)² < 2^63 — ~5e11 rows at qbits=10, |x|≤4).
    Each round max-|v|-normalizes through the HITS floor(w/max·2^bits)
    double expression (|w| < 2^53, exact in double). Every score replays
    bit-for-bit in an unrolled-CTE oracle.

    Scale shape: one explode to (id, dim, q) long form, ONE self-join on
    the vector id + map-side-combined groupBy(i, j) → the d² covariance
    (d²-sized after partial aggregation — the per-task combine is what
    makes n·d² intermediate rows shuffle as d² partials); the centered
    long frame is persisted across its two consumers and the d²-row
    covariance lineage-cut once, after which the 12 rounds run on
    d-row frames with per-round lineage cuts (the hits convention — each
    round's vector is consumed twice: next product + its own max).

    Dims are 1-based; loadings live in [−2^bits, 2^bits] (sign is
    whichever the iteration converges to).
    """
    if iterations <= 0:
        raise ValueError(f"iterations must be positive, got {iterations}")
    if not 1 <= qbits <= 20:
        raise ValueError(f"qbits must be in [1, 20], got {qbits}")
    if not 1 <= bits <= 30:
        raise ValueError(f"bits must be in [1, 30], got {bits}")
    from pyspark import StorageLevel

    one_q = float(1 << qbits)
    one_b = float(1 << bits)
    long_ = df.select(
        F.col(id_col).alias("__id"),
        F.posexplode(
            F.transform(
                F.col(vec_col),
                lambda x: F.floor(x.cast("double") * F.lit(one_q)).cast("long"),
            )
        ).alias("__i0", "__q"),
    ).select("__id", (F.col("__i0") + 1).alias("__i"), "__q")
    n_df = df.agg(F.count(F.lit(1)).alias("__n"))
    means = (
        long_.groupBy("__i")
        .agg(F.sum("__q").alias("__s"))
        .crossJoin(F.broadcast(n_df))
        .select("__i", F.floor(F.col("__s") / F.col("__n")).alias("__m"))
    )
    centered = (
        long_.join(F.broadcast(means), "__i")
        .select("__id", "__i", (F.col("__q") - F.col("__m")).alias("__c"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    try:
        ca = centered.select(
            F.col("__id"), F.col("__i").alias("i"), F.col("__c").alias("__ca")
        )
        cb = centered.select(
            F.col("__id"), F.col("__i").alias("j"), F.col("__c").alias("__cb")
        )
        cov = _ckpt(
            ca.join(cb, "__id")
            .groupBy("i", "j")
            .agg(F.sum(F.col("__ca") * F.col("__cb")).alias("__g"))
            .crossJoin(F.broadcast(n_df))
            .select("i", "j", F.floor(F.col("__g") / F.col("__n")).alias("g"))
        )
        v = cov.select(F.col("i").alias("j")).distinct().withColumn(
            "v", F.lit(1 << bits).cast("long")
        )
        for _ in range(iterations):
            w = (
                cov.join(v, "j")
                .groupBy(F.col("i"))
                .agg(F.sum(F.col("g") * F.col("v")).alias("w"))
            )
            mx = w.agg(F.max(F.abs(F.col("w"))).alias("__mx"))
            v = _ckpt(
                w.crossJoin(F.broadcast(mx)).select(
                    F.col("i").alias("j"),
                    F.floor(
                        F.col("w").cast("double")
                        / F.col("__mx").cast("double")
                        * F.lit(one_b)
                    )
                    .cast("long")
                    .alias("v"),
                )
            )
        return centered, v
    except BaseException:
        centered.unpersist()
        raise


def pca_top_component(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    iterations: int = 12,
    qbits: int = 10,
    bits: int = 20,
) -> DataFrame:
    """Public wrapper over the PCA fit: the top component's loadings.
    See :func:`_pca_fit` for the exactness and plan-shape contract.

    Returns ``(dim, loading_fx)`` — dim 1-based, loading_fx the final
    fixed-point loading in [−2^bits, 2^bits] (sign is whichever the
    iteration converges to; flip downstream if a convention is needed).
    """
    centered, v = _pca_fit(
        df, id_col=id_col, vec_col=vec_col, iterations=iterations,
        qbits=qbits, bits=bits,
    )
    try:
        return v.select(F.col("j").alias("dim"), F.col("v").alias("loading_fx"))
    finally:
        centered.unpersist()


def pca_project(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    iterations: int = 12,
    qbits: int = 10,
    bits: int = 20,
) -> DataFrame:
    """Per-vector projection onto the top principal component — the score
    that ORDERS the corpus along its dominant bias direction (inspect
    the extremes, or subtract the component for whitening). Exactness
    inherits from :func:`_pca_fit`: ``proj_fx = Σ_i c_i·v_i`` is a pure
    int64 dot product of the centered quantized coordinates with the
    fixed-point loadings (|c·v| ≤ x_max·2^(qbits+bits) per dim — 2^34
    at the defaults, ×dims far inside int64), at combined scale
    2^(qbits+bits).

    One broadcast join of the d-row loadings onto the persisted
    centered long form + a map-side-combined per-id sum; the
    vector-count-sized result is lineage-cut before the loop
    frames release (the pagerank convention).

    Returns ``(id, proj_fx)``.
    """
    centered, v = _pca_fit(
        df, id_col=id_col, vec_col=vec_col, iterations=iterations,
        qbits=qbits, bits=bits,
    )
    try:
        return _ckpt(
            centered.join(
                F.broadcast(v.withColumnRenamed("j", "__i")), "__i"
            )
            .groupBy(F.col("__id").alias(id_col))
            .agg(F.sum(F.col("__c") * F.col("v")).alias("proj_fx"))
        )
    finally:
        centered.unpersist()


def l2_topk_quantized(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    qbits: int = 12,
) -> DataFrame:
    """Exact top-k nearest neighbors by QUANTIZED squared L2 distance —
    the metric that disagrees with cosine exactly when vector NORMS carry
    signal (unnormalized embeddings, count vectors), and the second leg
    of hybrid rank fusion. Coordinates quantize to ``floor(x·2^qbits)``
    (the kmeans convention); the per-pair distance is a pure int64
    ``Σ(Δq)²`` zip_with/aggregate — deterministic on any engine, ties
    broken by neighbor id.

    Same plan as cosine_topk_bruteforce: broadcast queries, one corpus
    scan, WindowGroupLimit-pruned per-query top-k. Excludes self-matches.

    Returns ``(query_id, neighbor_id, dist_q, rank)``.
    """
    one = float(1 << qbits)
    quant = lambda c: F.transform(  # noqa: E731
        c, lambda x: F.floor(x.cast("double") * F.lit(one)).cast("long")
    )
    q = queries.select(
        F.col(id_col).alias("query_id"), quant(F.col(vec_col)).alias("__qq")
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), quant(F.col(vec_col)).alias("__cq")
    )
    d2 = F.aggregate(
        F.zip_with(F.col("__qq"), F.col("__cq"), lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"),
        lambda acc, p: acc + p,
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", d2.alias("dist_q"))
    )
    return top_k_per_group(
        scored,
        "query_id",
        [F.col("dist_q").asc(), F.col("neighbor_id").asc()],
        k,
        rank_col="rank",
    )


def reciprocal_rank_fusion(
    rankings: list[DataFrame],
    *,
    query_col: str = "query_id",
    item_col: str = "neighbor_id",
    rank_col: str = "rank",
    k0: int = 60,
    top_k: int = 5,
) -> DataFrame:
    """Reciprocal-rank fusion of N ranked candidate lists —
    ``rrf(item) = Σ_lists 1/(k0 + rank)`` — the standard hybrid-retrieval
    combiner (BM25 ⊕ dense vectors in every RAG stack; k0=60 per the
    original Cormack/Clarke/Buettcher setting): scale-free, so wildly
    different score distributions fuse without calibration, and an item
    missing from one list simply contributes no term.

    Each term is a guard-grid double of exact integers; the per-item sum
    rides the fixed-point path (order-independent for any list count)
    and the fused top-k is totally ordered by (rrf desc, item) — fully
    oracle-replayable. Cost: a union of the (already small) candidate
    lists + one (query, item) aggregate; the expensive part is the
    upstream rankers, which is the point of fusing cheap top-k lists.

    Returns ``(query_id, item_id, rrf_r, fused_rank)``.
    """
    if not rankings:
        raise ValueError("need at least one ranking")
    if k0 <= 0 or top_k <= 0:
        raise ValueError(f"k0 and top_k must be positive, got {k0}/{top_k}")
    from artigraph_spark.functions import dsum

    terms = [
        r.select(
            F.col(query_col).alias("__q"),
            F.col(item_col).alias("__i"),
            F.round(
                F.lit(1.0) / (F.lit(k0) + F.col(rank_col)).cast("double"), 9
            ).alias("__t"),
        )
        for r in rankings
    ]
    u = terms[0]
    for t in terms[1:]:
        u = u.unionByName(t)
    fused = u.groupBy("__q", "__i").agg(F.round(dsum("__t"), 9).alias("rrf_r"))
    out = top_k_per_group(
        fused.select(
            F.col("__q").alias(query_col),
            F.col("__i").alias(item_col),
            "rrf_r",
        ),
        query_col,
        [F.col("rrf_r").desc(), F.col(item_col).asc()],
        top_k,
        rank_col="fused_rank",
    )
    return out


def pca_explained(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    iterations: int = 12,
    qbits: int = 10,
    bits: int = 20,
) -> DataFrame:
    """Per-vector fraction of (quantized, centered) energy explained by
    the top principal component — the whitening diagnostic that closes
    the PCA family: a corpus where most vectors sit near 1.0 is
    one-dimensional (embedding collapse / dominant bias); near 0.0 the
    component is irrelevant to that vector.

    Exact arithmetic end-to-end: by Cauchy–Schwarz the explained
    fraction is ``proj² / (‖c‖²·‖v‖²) ∈ [0,1]`` with ``proj = Σc_i·v_i``
    — all three factors exact int64 sums, the squares and the cross
    product widened through DECIMAL(38,0) (proj² alone reaches
    2^(2·(qbits+bits)+2·log2(d)) ≈ 2^72 at the defaults), and ONE double
    division on the guard grid. Zero-energy vectors (all coordinates
    quantize to the mean) report NULL.

    Plan: the pca_project join plus one more map-side-combined per-id
    sum (‖c‖²) and a broadcast single-row ‖v‖² cross join.

    Returns ``(id, frac_explained_r)``.
    """
    centered, v = _pca_fit(
        df, id_col=id_col, vec_col=vec_col, iterations=iterations,
        qbits=qbits, bits=bits,
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    try:
        vv = v.agg(F.sum(F.col("v") * F.col("v")).alias("__vv"))
        per_id = (
            centered.join(F.broadcast(v.withColumnRenamed("j", "__i")), "__i")
            .groupBy(F.col("__id"))
            .agg(
                F.sum(F.col("__c") * F.col("v")).alias("__proj"),
                F.sum(F.col("__c") * F.col("__c")).alias("__cc"),
            )
        )
        return _ckpt(
            per_id.crossJoin(F.broadcast(vv)).select(
                F.col("__id").alias(id_col),
                F.when(
                    (F.col("__cc") > 0) & (F.col("__vv") > 0),
                    F.round(
                        (dec(F.col("__proj")) * dec(F.col("__proj")))
                        .cast("double")
                        / (dec(F.col("__cc")) * dec(F.col("__vv"))).cast("double"),
                        9,
                    ),
                ).alias("frac_explained_r"),
            )
        )
    finally:
        centered.unpersist()
