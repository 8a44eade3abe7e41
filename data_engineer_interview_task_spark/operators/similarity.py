"""Similarity search over the ``embeddings`` table (``embedding:
array<float>``, 64-dim) — SURVEY.md §2.8 extension surface.

Two tiers, per the standard ANN architecture:

- ``brute_force_topk``: exact cosine top-k, the correctness baseline. The
  oracle-checked variant accumulates in DECIMAL so the DuckDB comparison is
  bit-exact; the bench variant uses double.
- ``srp_lsh_topk``: sign-random-projection (hyperplane) LSH — bucket
  vectors by sign bits against deterministic pseudo-random hyperplanes,
  probe only colliding buckets. Sub-linear candidate sets at scale; exact
  re-rank inside the candidate set.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.vector import (
    cosine_expr,
    dot_decimal_expr,
    dot_expr,
    norm_expr,
    sq_norm_decimal_expr,
)
from ..sources import read_table


def brute_force_topk(
    spark: SparkSession,
    sf_dir: str,
    n_queries: int = 5,
    k: int = 10,
    exact_decimal: bool = True,
) -> DataFrame:
    """Exact top-k cosine neighbors for the first ``n_queries`` vectors
    (vec_id < n_queries) against the whole table.

    Plan: broadcast the tiny query set, cross-join against candidates
    (broadcast nested loop — each executor scans its candidate slice once),
    rank per query. At 100 TB the candidate scan is embarrassingly
    parallel; k results per query flow to one final per-query top-k
    (row_number + filter — Spark's TakeOrdered handles the small k).

    ``exact_decimal=True`` ranks by a DECIMAL-accumulated cosine ordering
    key (cross-engine bit-exact; backs the DuckDB oracle). Ordering by
    cos² x sign keeps sqrt out of the comparison: rank by
    sign(dot) * dot² / (|a|²|b|²) which is monotone in cosine.
    """
    emb = read_table(spark, sf_dir, "embeddings")
    # norms are per-VECTOR: compute them once on each side before the pair
    # join instead of per pair (array lambdas are interpreted, not
    # codegen'd — per-pair norm recomputation tripled the hot-loop cost)
    if exact_decimal:
        norm_of = lambda c: sq_norm_decimal_expr(c).cast("double")  # noqa: E731
    else:
        norm_of = lambda c: norm_expr(c) * norm_expr(c)  # noqa: E731
    queries = emb.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q"),
        norm_of(F.col("embedding")).alias("qn"),
    )
    # spread the candidate side before the pair fan-out: the embeddings
    # file is one split, and a broadcast cross-join over a one-split scan
    # runs the whole interpreted-lambda pair projection on ONE task (the
    # SCALE.md one-task trap — AQE cannot see output blow-up, and a
    # keyed repartition without an explicit width gets coalesced back to
    # one partition by AQE at this input size) (r12 opt, guide §2.5)
    par = spark.sparkContext.defaultParallelism
    cands = emb.repartition(par, "vec_id").select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("c"),
        norm_of(F.col("embedding")).alias("cn"),
    )
    joined = cands.crossJoin(F.broadcast(queries)).filter(
        F.col("query_id") != F.col("neighbor_id")
    )
    if exact_decimal:
        # DECIMAL-accumulated dot (partition-order independent), then a
        # handful of IEEE ops: key = dot*|dot| / (|q|^2 |c|^2), monotone in
        # cosine. Squaring happens in double — decimal^2 would overflow p38.
        dot = dot_decimal_expr(F.col("q"), F.col("c")).cast("double")
    else:
        dot = dot_expr(F.col("q"), F.col("c"))
    # materialize the dot ONCE: Spark performs no common-subexpression
    # elimination on interpreted lambda aggregates, so `dot * abs(dot)`
    # inside one projection runs the whole 64-element fold twice
    # (measured exactly 2x at sf0.1); the extra Project survives the
    # optimizer because CollapseProject refuses to inline a non-cheap
    # alias referenced more than once (r12 opt, guide §4)
    scored = joined.withColumn("dot", dot).withColumn(
        "ord_key",
        F.col("dot") * F.abs(F.col("dot")) / (F.col("qn") * F.col("cn")),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("ord_key").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.col("rank").cast("int").alias("rank"))
    )


def _srp_plane_weight(t: int, p: int, d: int) -> float:
    """Deterministic pseudo-random hyperplane weight in [-0.5, 0.5),
    derived driver-side from md5(t:p:d) (planes are tiny constants — no
    reason to burn executor cycles hashing per element, and literal
    weights keep the whole dot product inside whole-stage codegen, unlike
    array lambdas which Spark evaluates interpreted). Shared source of
    truth with the DuckDB oracle twins, which embed the same literals."""
    import hashlib

    h = int.from_bytes(hashlib.md5(f"{t}:{p}:{d}".encode()).digest()[:4], "big")
    return h / 2**32 - 0.5


def _srp_bucket_df(
    spark: SparkSession,
    emb: DataFrame,
    n_planes: int,
    n_tables: int,
    dim: int = 64,
) -> DataFrame:
    """Sign-random-projection bucket ids: (vec_id, t, bucket) with one row
    per (vector, table). The projection `vectors x planes` is a matrix
    multiply; the Spark-native formulation is posexplode -> broadcast-join
    the (tiny, literal) plane-weight table -> hash aggregate. Everything
    stays in whole-stage codegen — array lambdas would be interpreted, and
    flat 2048-term expressions blow up janino compilation. Scales linearly
    in rows; cost O(N * n_tables * n_planes * dim) map-side."""
    planes_df = spark.createDataFrame(
        [
            (t, p, d, _srp_plane_weight(t, p, d))
            for t in range(n_tables)
            for p in range(n_planes)
            for d in range(dim)
        ],
        "t int, p int, d int, w double",
    )
    ex = emb.select("vec_id", F.posexplode("embedding").alias("d", "x"))
    return (
        ex.join(F.broadcast(planes_df), "d")
        .groupBy("vec_id", "t", "p")
        # FIXED-POINT projection sums: a double sum is partition-order
        # dependent, so a projection near zero could flip its sign bit
        # between runs/engines. floor(term * 1e9) -> exact long addition
        # makes every bucket id deterministic (which lets the whole
        # approximate operator family be oracle-checked exactly) at
        # long-adder speed — DECIMAL accumulation here cost 5x (Decimal128
        # adds on 10M rows); floor matches across engines where plain
        # double->bigint CAST does not (Spark truncates, DuckDB rounds)
        .agg(
            F.sum(
                F.floor(F.col("x").cast("double") * F.col("w") * 1e9)
            ).alias("s")
        )
        .withColumn(
            "bit",
            F.when(F.col("s") >= 0, F.expr("shiftleft(1L, p)")).otherwise(F.lit(0)),
        )
        .groupBy("vec_id", "t")
        .agg(F.sum("bit").cast("long").alias("bucket"))
    )


def srp_lsh_topk(
    spark: SparkSession,
    sf_dir: str,
    n_queries: int = 5,
    k: int = 10,
    n_planes: int = 4,
    n_tables: int = 8,
    dim: int = 64,
) -> DataFrame:
    """Approximate top-k via multi-table sign-random-projection LSH.

    Hyperplanes are deterministic pseudo-random vectors derived JVM-side
    from xxhash64(table, plane, dimension), centered on zero — no
    driver-side RNG, no UDF. Per table, bucket = the ``n_planes`` sign bits
    of plane·vector; a candidate is any vector sharing a (table, bucket)
    with the query (OR-amplification across ``n_tables`` tables raises
    recall: P = 1-(1-p^b)^L). Exact cosine re-ranks the deduped candidates.

    At scale: bucketing is one narrow map + an equi-join on (table, bucket)
    — never all-pairs; candidate volume per query ~ L * N / 2^b, tuned by
    (b, L) against the similarity profile of the corpus.
    """
    emb = read_table(spark, sf_dir, "embeddings")
    buckets = _srp_bucket_df(spark, emb, n_planes, n_tables, dim)
    # r12 opt: the L2 norm is folded once per VECTOR (before the x8
    # table fan-out) and carried — `cosine_expr` inline would re-fold
    # both norms per candidate pair (interpreted lambdas, no CSE); the
    # rerank divides the identical doubles in the identical order
    bucketed = (
        emb.withColumn("nrm", norm_expr(F.col("embedding")))
        .join(buckets, "vec_id")
        .select("vec_id", "embedding", "nrm", "t", "bucket")
    )
    queries = bucketed.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q"),
        F.col("nrm").alias("qnrm"),
        "t",
        "bucket",
    )
    cands = bucketed.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("c"),
        F.col("nrm").alias("cnrm"),
        "t",
        "bucket",
    )
    pairs = (
        cands.join(F.broadcast(queries), ["t", "bucket"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        # a pair can collide in several tables — dedupe before re-ranking
        .groupBy("query_id", "neighbor_id")
        .agg(
            F.first("q").alias("q"),
            F.first("c").alias("c"),
            F.first("qnrm").alias("qnrm"),
            F.first("cnrm").alias("cnrm"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        (
            dot_expr(F.col("q"), F.col("c"))
            / (F.col("qnrm") * F.col("cnrm"))
        ).desc(),
        F.col("neighbor_id").asc(),
    )
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.col("rank").cast("int").alias("rank"))
    )


def _ivf_centroids(emb: DataFrame) -> DataFrame:
    """Centroid per label cell: posexplode + mean, then re-assemble arrays.
    FIXED-POINT mean (floor(x*1e9) long sums), not avg(double): a double
    mean is partition-order dependent, and a centroid that wobbles at
    the last ulp can reorder the probed cells — exact long addition
    makes the whole probe deterministic and the operator exactly
    oracle-checkable (label_centroids rule; see its docstring for why
    decimal casts are tie-unsafe at scale)."""
    return (
        emb.select("label", F.posexplode("embedding").alias("dim", "x"))
        .groupBy("label", "dim")
        .agg(
            (
                F.sum(F.floor(F.col("x").cast("double") * 1e9)).cast("double")
                / F.count(F.lit(1))
                / 1e9
            ).alias("c")
        )
        .groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("dim", "c"))).alias("pairs"))
        .select(
            F.col("label").alias("cell"),
            F.transform("pairs", lambda p: p["c"]).alias("centroid"),
        )
    )


def ivf_topk(
    spark: SparkSession,
    sf_dir: str,
    n_queries: int = 5,
    k: int = 10,
    n_probe: int = 3,
) -> DataFrame:
    """IVF-style ANN: coarse-quantize vectors to centroid cells, probe only
    the ``n_probe`` cells nearest each query, exact-rerank inside them.

    The coarse quantizer here is the per-label centroid table (the
    k-means-seeded cell structure; `extended.label_centroids` is the same
    computation exposed as a query). Assignment and probing are broadcast
    joins against the tiny centroid table; the big side is scanned once.
    At 100 TB this is the standard sharded-ANN layout: partition the
    corpus BY cell so a probe touches only n_probe/256ths of the data.
    """
    emb = read_table(spark, sf_dir, "embeddings")
    cents = _ivf_centroids(emb)
    # distance of each query to each cell centroid -> top n_probe cells.
    # r12 opt: the query norm is computed ONCE per query and carried —
    # `cosine_expr` inline would re-fold norm(q) per candidate row in
    # the rerank (interpreted lambdas, no CSE); dot/(qn*cn) multiplies
    # and divides the identical doubles, so every value is bit-unchanged
    queries = emb.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q"),
        norm_expr(F.col("embedding")).alias("qnrm"),
    )
    qcells = queries.crossJoin(F.broadcast(cents)).select(
        "query_id",
        "q",
        "qnrm",
        "cell",
        (
            dot_expr(F.col("q"), F.col("centroid"))
            / (F.col("qnrm") * norm_expr(F.col("centroid")))
        ).alias("cell_cos"),
    )
    w_cells = Window.partitionBy("query_id").orderBy(
        F.col("cell_cos").desc(), F.col("cell").asc()
    )
    probed = qcells.withColumn("cr", F.row_number().over(w_cells)).filter(
        F.col("cr") <= n_probe
    ).select("query_id", "q", "qnrm", "cell")
    # probe: candidates only from the chosen cells (equi-join on cell);
    # candidate norms are per-VECTOR folds (one per row of emb), not
    # per-pair folds
    cands = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("c"),
        norm_expr(F.col("embedding")).alias("cnrm"),
        F.col("label").alias("cell"),
    )
    pairs = cands.join(F.broadcast(probed), "cell").filter(
        F.col("query_id") != F.col("neighbor_id")
    )
    w = Window.partitionBy("query_id").orderBy(
        (
            dot_expr(F.col("q"), F.col("c"))
            / (F.col("qnrm") * F.col("cnrm"))
        ).desc(),
        F.col("neighbor_id").asc(),
    )
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.col("rank").cast("int").alias("rank"))
    )


def embedding_near_dup_pairs(
    spark: SparkSession, sf_dir: str, threshold: float = 0.35
) -> DataFrame:
    """Embedding-cosine near-dup pairs, blocked by ``label`` (the cluster
    id) so the pair join is an equi-join on the block key instead of
    all-pairs — the embedding analog of shingle blocking. Exact DECIMAL
    cosine so the DuckDB oracle hash-matches.

    Formulation: the per-PAIR dot product is a posexplode join + hash
    aggregate, NOT an array-lambda fold. ``F.aggregate`` lambdas run
    interpreted outside whole-stage codegen and are re-entered per pair
    (measured 19.8s -> ~2s at sf0.1 on the semantic_dedup consumer);
    exploding to (id, dim, x) rows and joining on (label, dim) keeps the
    multiply + decimal-sum in codegen. DECIMAL addition is exact and
    commutative, so the hash aggregate's arbitrary order produces the
    bit-identical total the oracle's ordered list_sum fold produces.
    Per-vector norms use the (tiny, |vectors|-sized) lambda fold — one
    fold per vector, not per pair."""
    emb = read_table(spark, sf_dir, "embeddings")
    norm_of = lambda c: sq_norm_decimal_expr(c).cast("double")  # noqa: E731
    norms = emb.select(
        "vec_id", "label", norm_of(F.col("embedding")).alias("nsq")
    ).localCheckpoint()
    # EXPLOSIVE-join parallelism: the embeddings table is one input split
    # at test scale, and with the pair join broadcastable there is no
    # exchange anywhere — so without this the 64x-fan-out join and its
    # decimal aggregation run in ONE task regardless of cores (measured
    # 27s -> 3s at sf0.1). Explicit repartition decouples the task count
    # from input splits; AQE never coalesces a user-specified count.
    par = spark.sparkContext.defaultParallelism
    ex = emb.select(
        "vec_id", "label", F.posexplode("embedding").alias("dim", "x")
    ).repartition(par, "label", "dim")
    prod = (F.col("a.x").cast("double") * F.col("b.x").cast("double")).cast(
        "decimal(28,14)"
    )
    dots = (
        ex.alias("a")
        .join(
            ex.alias("b"),
            (F.col("a.label") == F.col("b.label"))
            & (F.col("a.dim") == F.col("b.dim"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .groupBy(
            F.col("a.label").alias("label"),
            F.col("a.vec_id").alias("id_a"),
            F.col("b.vec_id").alias("id_b"),
        )
        .agg(F.sum(prod).cast("double").alias("dot"))
    )
    na = norms.select(F.col("vec_id").alias("id_a"), F.col("nsq").alias("na"))
    nb = norms.select(F.col("vec_id").alias("id_b"), F.col("nsq").alias("nb"))
    key = F.col("dot") * F.abs(F.col("dot")) / (F.col("na") * F.col("nb"))
    return (
        dots.join(F.broadcast(na), "id_a")
        .join(F.broadcast(nb), "id_b")
        .filter(key >= threshold * abs(threshold))
        .select("label", "id_a", "id_b")
    )


def embedding_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2-normalize embeddings, emitted in exploded scalar form
    (vec_id, dim, unit_val) + the norm — the storage-prep pass before
    cosine ANN (unit vectors turn cosine into plain dot). Determinism note:
    the squared norm is a STRICT LEFT FOLD in doubles (``F.aggregate`` in
    array order) — row-local, so partition-independent, and bit-identical
    to DuckDB's ``list_reduce`` which folds the same way. (A DECIMAL cast
    of each float product would NOT match: the engines round the
    double->decimal conversion differently at the last ulp.)

    Shape: map-only (norm is per-row array math), then posexplode;
    zero shuffle."""
    emb = read_table(spark, sf_dir, "embeddings")
    with_norm = emb.withColumn("norm", norm_expr(F.col("embedding")))
    return with_norm.select(
        "vec_id",
        "norm",
        F.posexplode("embedding").alias("dim", "e"),
    ).select(
        "vec_id",
        F.col("dim").cast("int").alias("dim"),
        "norm",
        (F.col("e").cast("double") / F.col("norm")).alias("unit_val"),
    )


def embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector int8 scalar quantization (blockwise-quantization shape):
    code = floor((x - min) * 255 / (max - min)) with the vector's own
    min/max as the scale — the 4x storage cut applied before shipping
    embeddings to an ANN index. Exploded scalar output keeps the oracle
    exact: min/max/floor and the one multiply-divide chain are identical
    IEEE ops in both engines. Map-only, zero shuffle."""
    emb = read_table(spark, sf_dir, "embeddings")
    mn = F.array_min("embedding").cast("double")
    mx = F.array_max("embedding").cast("double")
    scaled = emb.select(
        "vec_id",
        mn.alias("qmin"),
        mx.alias("qmax"),
        F.posexplode("embedding").alias("dim", "e"),
    )
    span = F.col("qmax") - F.col("qmin")
    code = F.when(span > 0,
        F.floor((F.col("e").cast("double") - F.col("qmin")) * 255.0 / span)
    ).otherwise(F.lit(0)).cast("long")
    return scaled.select(
        "vec_id",
        F.col("dim").cast("int").alias("dim"),
        "qmin",
        "qmax",
        code.alias("code"),
    )


def ivf_index_build(spark: SparkSession, sf_dir: str, index_dir: str) -> None:
    """Persist the IVF index: the tiny centroid table plus the corpus laid
    out ``partitionBy(cell)`` — the write-once layout that turns every
    probe into a partition-pruned scan (a probe of n_probe cells reads
    n_probe directories, not the corpus). The 100 TB deployment runs this
    on ingest/compaction; queries amortize it forever."""
    emb = read_table(spark, sf_dir, "embeddings")
    _ivf_centroids(emb).write.mode("overwrite").parquet(f"{index_dir}/centroids")
    (
        emb.select("vec_id", "embedding", F.col("label").alias("cell"))
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(f"{index_dir}/vectors")
    )


def prebuilt_ivf_index(spark: SparkSession, sf_dir: str) -> str:
    """The persisted IVF index for ``sf_dir`` from the artifact store:
    built at most once per process per ``embeddings`` fingerprint, so
    repeated sweeps reuse it and an input rewritten in place rebuilds."""
    from ..plans.artifacts import staged_dir

    return staged_dir(
        ("ivf_index", sf_dir),
        "ivf_index_",
        lambda path: ivf_index_build(spark, sf_dir, path),
        inputs=(f"{sf_dir}/embeddings.parquet",),
    )


def ivf_topk_prebuilt(
    spark: SparkSession,
    sf_dir: str,
    index_dir: str | None = None,
    n_queries: int = 5,
    k: int = 10,
    n_probe: int = 3,
) -> DataFrame:
    """IVF ANN against the PERSISTED index (``ivf_index_build``): probe
    cells are chosen from the stored centroid table, the chosen cell ids
    (index METADATA — n_queries x n_probe rows, not data) prune the
    partitioned vector layout, and the exact re-rank runs only inside the
    pruned partitions. Bit-identical to the in-memory ``ivf_topk`` (same
    decimal centroid arithmetic, same tie-break order), so it shares its
    oracle. The plan shows the cell filter as PartitionFilters on the
    vectors scan — data files of unprobed cells are never opened."""
    if index_dir is None:
        index_dir = prebuilt_ivf_index(spark, sf_dir)
    cents = spark.read.parquet(f"{index_dir}/centroids")
    emb = read_table(spark, sf_dir, "embeddings")
    # r12 opt: per-vector norms carried as columns instead of per-pair
    # `cosine_expr` re-folds (interpreted lambdas, no CSE); identical
    # doubles in the identical order, so every value is bit-unchanged
    queries = emb.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q"),
        norm_expr(F.col("embedding")).alias("qnrm"),
    )
    qcells = queries.crossJoin(F.broadcast(cents)).select(
        "query_id",
        "q",
        "qnrm",
        "cell",
        (
            dot_expr(F.col("q"), F.col("centroid"))
            / (F.col("qnrm") * norm_expr(F.col("centroid")))
        ).alias("cell_cos"),
    )
    w_cells = Window.partitionBy("query_id").orderBy(
        F.col("cell_cos").desc(), F.col("cell").asc()
    )
    probed = (
        qcells.withColumn("cr", F.row_number().over(w_cells))
        .filter(F.col("cr") <= n_probe)
        .select("query_id", "q", "qnrm", "cell")
    )
    # index metadata, not data: the probed cell ids (<= n_queries*n_probe
    # values) come to the driver to become a partition-pruning predicate
    cells = sorted({r.cell for r in probed.select("cell").distinct().collect()})
    vectors = (
        spark.read.parquet(f"{index_dir}/vectors")
        .filter(F.col("cell").isin(cells))
        .select(
            F.col("vec_id").alias("neighbor_id"),
            F.col("embedding").alias("c"),
            norm_expr(F.col("embedding")).alias("cnrm"),
            "cell",
        )
    )
    pairs = vectors.join(F.broadcast(probed), "cell").filter(
        F.col("query_id") != F.col("neighbor_id")
    )
    w = Window.partitionBy("query_id").orderBy(
        (
            dot_expr(F.col("q"), F.col("c"))
            / (F.col("qnrm") * F.col("cnrm"))
        ).desc(),
        F.col("neighbor_id").asc(),
    )
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.col("rank").cast("int").alias("rank"))
    )


def semantic_dedup(
    spark: SparkSession, sf_dir: str, threshold: float = 0.35
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023): cluster
    the embedding space, then drop items that are near-duplicates IN
    EMBEDDING SPACE of another item in the same cluster — the dedup pass
    that catches paraphrases and re-encodings that shingle-based methods
    miss. Survivors = docs a training run keeps.

    Survivor rule, stated precisely: within a cluster (``label`` — in
    production the k-means cell, exactly as ``ivf_index_build`` lays
    out), a vector is DROPPED iff some lower-id vector in the same
    cluster has cosine >= threshold with it. This "dominated by any
    lower id" rule is the parallel-deterministic variant of SemDeDup's
    per-neighborhood keep-one: one equi-join on the cluster key + one
    anti-join, no sequential greedy scan, rerun-stable (id order is the
    tie-break, not arrival order). It can drop a chain slightly more
    aggressively than sequential greedy (B~A and C~B with C!~A still
    drops both B and C) — acceptable for training-data curation, where
    over-dropping borderline semantic dups is the safe direction.

    SCALE: the pair join is cluster-blocked (the embedding analog of
    LSH banding — never all-pairs); the dominated set is duplicate-sized
    and broadcasts into the anti-join. Cosine uses the exact DECIMAL
    dot/norm ladder (``functions/vector.py``) so the DuckDB twin
    hash-matches bit-for-bit."""
    dominated = (
        embedding_near_dup_pairs(spark, sf_dir, threshold)
        .select(F.col("id_b").alias("vec_id"))
        .distinct()
    )
    emb = read_table(spark, sf_dir, "embeddings")
    return (
        emb.join(F.broadcast(dominated), "vec_id", "left_anti")
        .select("vec_id", "label")
    )


def semantic_dedup_scaled(
    spark: SparkSession,
    sf_dir: str,
    threshold: float = 0.35,
    n_planes: int = 2,
    n_tables: int = 2,
) -> DataFrame:
    """``semantic_dedup`` with the 100 TB cell-size guard: each ``label``
    cluster is SUB-BUCKETED by sign-random-projection bits, so the pair
    join's blocks are (label, srp_table, srp_bucket) instead of bare
    ``label``. This is the production answer to the measured fixed-k
    super-linearity (SCALE.md round-4 table: semantic_dedup ran 59x wall
    at 10x data because the synthetic corpus keeps the cluster COUNT
    fixed, so cluster SIZE — and the within-cluster pair count — grows
    with N). Sub-bucketing bounds expected cell size at |cluster| /
    2^n_planes with O(N * n_tables * n_planes * d) linear assignment
    cost, restoring Sigma |cell|^2 = O(N) when n_planes grows ~log N —
    exactly SemDeDup's "k proportional to N" rule implemented without a
    k-means refit, and the embedding analog of MinHash banding.

    Measured (SCALE.md round-4): sf0.1 planes=2 5.41s vs sf1 planes=7
    5.87s — ratio 1.09 at 10x data, vs 59x for the fixed-cell base
    operator. Pick ``n_planes`` from the MEASURED cell-size tail (one
    groupBy-count; correlated embeddings split slower than 2^planes),
    and run exact-vector dedup first if duplicate multiplicity grows
    with the corpus (identical vectors collide in every table — they
    are the floor no splitter can cut).

    Semantics trade, stated precisely: a vector is dropped iff some
    lower-id vector in the same label cluster lands in the SAME srp
    bucket in AT LEAST ONE of the ``n_tables`` sign tables AND has
    cosine >= threshold. Near-identical vectors agree on sign bits with
    probability (1 - theta/pi)^n_planes per table (OR-amplified across
    tables), so recall degrades gracefully for borderline pairs while
    true near-dups (theta -> 0) are essentially always caught — the
    standard LSH recall/cost dial. Fixed-point projections make the
    bucketing deterministic, so the WHOLE approximate operator is
    oracle-checked exactly (same rule as ``srp_lsh_topk``).

    Plan shape: linear bucketing map -> explosive-join pair dots blocked
    on (label, t, bucket, dim) with an explicit repartition on the block
    keys (single-split inputs otherwise run the fan-out join one-task —
    SCALE.md round-4 lesson) -> per-(table, pair) threshold filter ->
    distinct dominated ids -> broadcast anti-join. The per-pair dot is
    the posexplode + DECIMAL hash-aggregate ladder of
    ``embedding_near_dup_pairs`` (codegen'd, partition-order exact); a
    pair colliding in both tables computes its dot twice — accepted at
    n_tables=2 in exchange for skipping a candidate-dedup shuffle before
    the heavy stage."""
    emb = read_table(spark, sf_dir, "embeddings")
    buckets = _srp_bucket_df(spark, emb, n_planes, n_tables)
    norm_of = lambda c: sq_norm_decimal_expr(c).cast("double")  # noqa: E731
    norms = emb.select("vec_id", norm_of(F.col("embedding")).alias("nsq"))
    par = spark.sparkContext.defaultParallelism
    ex = (
        emb.select(
            "vec_id", "label", F.posexplode("embedding").alias("dim", "x")
        )
        .join(buckets, "vec_id")
        .repartition(par, "label", "t", "bucket", "dim")
    )
    prod = (F.col("a.x").cast("double") * F.col("b.x").cast("double")).cast(
        "decimal(28,14)"
    )
    dots = (
        ex.alias("a")
        .join(
            ex.alias("b"),
            (F.col("a.label") == F.col("b.label"))
            & (F.col("a.t") == F.col("b.t"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.dim") == F.col("b.dim"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .groupBy(
            F.col("a.t").alias("t"),
            F.col("a.vec_id").alias("id_a"),
            F.col("b.vec_id").alias("id_b"),
        )
        .agg(F.sum(prod).cast("double").alias("dot"))
    )
    na = norms.select(F.col("vec_id").alias("id_a"), F.col("nsq").alias("na"))
    nb = norms.select(F.col("vec_id").alias("id_b"), F.col("nsq").alias("nb"))
    key = F.col("dot") * F.abs(F.col("dot")) / (F.col("na") * F.col("nb"))
    dominated = (
        dots.join(F.broadcast(na), "id_a")
        .join(F.broadcast(nb), "id_b")
        .filter(key >= threshold * abs(threshold))
        .select(F.col("id_b").alias("vec_id"))
        .distinct()
    )
    return emb.join(F.broadcast(dominated), "vec_id", "left_anti").select(
        "vec_id", "label"
    )


def knn_label_vote(
    spark: SparkSession, sf_dir: str, n_queries: int = 25, k: int = 10
) -> DataFrame:
    """k-nearest-neighbor majority-vote classification: the first
    ``n_queries`` vectors are the eval split, classified by the modal
    label of their ``k`` exact-cosine nearest neighbors among the
    remaining vectors — the standard embedding-space label-audit
    (mislabeled-example detection: rows where ``predicted != true``
    are the candidates a curation pass reviews).

    Plan: same broadcast-queries × candidate-scan shape as
    ``brute_force_topk`` (DECIMAL-accumulated dot, cos²·sign ordering
    key — cross-engine bit-exact), with the candidate's label carried
    through the rank filter; the vote is a (query, label) count with a
    (votes DESC, label ASC) argmax window. Both tie-breaks are total
    (neighbor_id on rank ties, label on vote ties), so the prediction is
    bit-deterministic."""
    emb = read_table(spark, sf_dir, "embeddings")
    norm_of = lambda c: sq_norm_decimal_expr(c).cast("double")  # noqa: E731
    queries = emb.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("true_label"),
        F.col("embedding").alias("q"),
        norm_of(F.col("embedding")).alias("qn"),
    )
    cands = (
        emb.filter(F.col("vec_id") >= n_queries)
        # the broadcast cross-join multiplies each candidate row by
        # n_queries decimal-dot evaluations; a one-split embeddings file
        # would run ALL of them on one task (the SCALE.md one-task trap —
        # AQE can't see output blow-up), so spread candidates first.
        # The width is EXPLICIT: a bare repartition("vec_id") is an
        # AQE-optimizable shuffle that gets coalesced back to one
        # partition at this input size, re-serializing the lambda work
        # (r12 opt, measured single-task stage in the before-plan)
        .repartition(spark.sparkContext.defaultParallelism, "vec_id")
        .select(
            F.col("vec_id").alias("neighbor_id"),
            F.col("label").alias("cand_label"),
            F.col("embedding").alias("c"),
            norm_of(F.col("embedding")).alias("cn"),
        )
    )
    joined = cands.crossJoin(F.broadcast(queries))
    dot = dot_decimal_expr(F.col("q"), F.col("c")).cast("double")
    # dot materialized once — interpreted lambda aggregates are not
    # subexpression-eliminated, so `dot * abs(dot)` in one projection
    # would run the 64-element fold twice (r12 opt, guide §4)
    scored = joined.withColumn("dot", dot).withColumn(
        "ord_key",
        F.col("dot") * F.abs(F.col("dot")) / (F.col("qn") * F.col("cn")),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("ord_key").desc(), F.col("neighbor_id").asc()
    )
    top = scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )
    votes = top.groupBy("query_id", "true_label", "cand_label").agg(
        F.count(F.lit(1)).cast("long").alias("n_votes")
    )
    wv = Window.partitionBy("query_id").orderBy(
        F.col("n_votes").desc(), F.col("cand_label").asc()
    )
    return (
        votes.withColumn("vr", F.row_number().over(wv))
        .filter(F.col("vr") == 1)
        .select(
            "query_id",
            F.col("true_label").cast("int").alias("true_label"),
            F.col("cand_label").cast("int").alias("predicted_label"),
            "n_votes",
        )
    )


def knn_label_vote_ivf(
    spark: SparkSession,
    sf_dir: str,
    index_dir: str | None = None,
    n_queries: int = 25,
    k: int = 10,
    n_probe: int = 3,
) -> DataFrame:
    """ANN-backed production twin of :func:`knn_label_vote` (VERDICT r5
    item 3): identical majority-vote semantics, but the candidate set
    comes from the PERSISTED IVF index (``ivf_index_build``) instead of
    a full brute-force corpus scan — each query exact-ranks only the
    vectors inside its ``n_probe`` nearest centroid cells, read through
    partition-pruned scans of the cell-partitioned layout (the plan
    shows the probed cells as PartitionFilters; unprobed cells' files
    are never opened). At 100 TB this turns the n_queries x corpus
    decimal-dot wall into n_queries x (n_probe/|cells|) of it, the same
    probe path ``ivf_topk_prebuilt`` uses.

    The index layout stores each vector's cell = its ``label``, so the
    candidate's vote label IS its partition key — the vote needs no
    second join back to the corpus. Query vectors are excluded from the
    candidate pool (``vec_id >= n_queries``) exactly like the exact
    form. Every stage is deterministic (fixed-point centroids, total
    tie-break orders), so the WHOLE approximate operator has an exact
    DuckDB oracle rather than a recall bound."""
    if index_dir is None:
        index_dir = prebuilt_ivf_index(spark, sf_dir)
    cents = spark.read.parquet(f"{index_dir}/centroids")
    emb = read_table(spark, sf_dir, "embeddings")
    # r12 opt: query/candidate norms are per-VECTOR folds carried as
    # columns — `cosine_expr` inline re-folds both norms per PAIR row
    # (interpreted lambdas, no CSE); dot/(qn*cn) over the identical
    # doubles is bit-unchanged
    queries = emb.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("true_label"),
        F.col("embedding").alias("q"),
        norm_expr(F.col("embedding")).alias("qnrm"),
    )
    qcells = queries.crossJoin(F.broadcast(cents)).select(
        "query_id",
        "true_label",
        "q",
        "qnrm",
        "cell",
        (
            dot_expr(F.col("q"), F.col("centroid"))
            / (F.col("qnrm") * norm_expr(F.col("centroid")))
        ).alias("cell_cos"),
    )
    w_cells = Window.partitionBy("query_id").orderBy(
        F.col("cell_cos").desc(), F.col("cell").asc()
    )
    probed = (
        qcells.withColumn("cr", F.row_number().over(w_cells))
        .filter(F.col("cr") <= n_probe)
        .select("query_id", "true_label", "q", "qnrm", "cell")
    )
    # index metadata, not data: probed cell ids (<= n_queries*n_probe
    # values) come to the driver to become a partition-pruning predicate
    cells = sorted({r.cell for r in probed.select("cell").distinct().collect()})
    vectors = (
        spark.read.parquet(f"{index_dir}/vectors")
        .filter(F.col("cell").isin(cells))
        .filter(F.col("vec_id") >= n_queries)
        .select(
            F.col("vec_id").alias("neighbor_id"),
            F.col("embedding").alias("c"),
            norm_expr(F.col("embedding")).alias("cnrm"),
            "cell",
        )
    )
    pairs = vectors.join(F.broadcast(probed), "cell")
    w = Window.partitionBy("query_id").orderBy(
        (
            dot_expr(F.col("q"), F.col("c"))
            / (F.col("qnrm") * F.col("cnrm"))
        ).desc(),
        F.col("neighbor_id").asc(),
    )
    top = pairs.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )
    votes = top.groupBy(
        "query_id", "true_label", F.col("cell").alias("cand_label")
    ).agg(F.count(F.lit(1)).cast("long").alias("n_votes"))
    wv = Window.partitionBy("query_id").orderBy(
        F.col("n_votes").desc(), F.col("cand_label").asc()
    )
    return (
        votes.withColumn("vr", F.row_number().over(wv))
        .filter(F.col("vr") == 1)
        .select(
            "query_id",
            F.col("true_label").cast("int").alias("true_label"),
            F.col("cand_label").cast("int").alias("predicted_label"),
            "n_votes",
        )
    )


def embedding_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PRODUCT QUANTIZATION assignment: split each 64-dim embedding into
    two 32-dim subvectors and code each half against its own per-label
    fixed-point centroid codebook (argmax cosine, total tie-break) — the
    memory-compression layout behind every billion-scale ANN system: a
    vector stores as two small codes instead of 64 floats, and distances
    against the codebooks come from two table lookups. The codebook here
    is the per-label half-centroid table (the same deterministic
    fixed-point construction as ``ivf_index_build``), so the WHOLE
    assignment is oracle-exact rather than a recall bound.

    Plan: one posexplode-mean pass per half builds the codebooks
    (aggregate-sized, broadcast); assignment is a broadcast cross-join +
    per-vector argmax window — a single scan of the embedding table per
    half, no shuffle of the big side."""
    emb = read_table(spark, sf_dir, "embeddings")
    codes = None
    for half, name in ((0, "code_a"), (1, "code_b")):
        sub = emb.select(
            "vec_id",
            "label",
            F.slice("embedding", 1 + 32 * half, 32).alias("embedding"),
        )
        cents = _ivf_centroids(sub)
        # r12 opt: vector norm folded once per vector and the centroid
        # norm once per (tiny, broadcast) centroid row — `cosine_expr`
        # inline would re-fold both per (vector, cell) row; the division
        # runs over the identical doubles in the identical order
        scored = (
            sub.withColumn("vnrm", norm_expr(F.col("embedding")))
            .crossJoin(
                F.broadcast(
                    cents.withColumn(
                        "cnrm", norm_expr(F.col("centroid"))
                    )
                )
            )
            .select(
                "vec_id",
                "cell",
                (
                    dot_expr(F.col("embedding"), F.col("centroid"))
                    / (F.col("vnrm") * F.col("cnrm"))
                ).alias("cos"),
            )
        )
        w = Window.partitionBy("vec_id").orderBy(
            F.col("cos").desc(), F.col("cell").asc()
        )
        pick = (
            scored.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("vec_id", F.col("cell").cast("long").alias(name))
        )
        codes = pick if codes is None else codes.join(pick, "vec_id")
    assert codes is not None
    return codes


def pq_search_adc(
    spark: SparkSession, sf_dir: str, n_queries: int = 4, k: int = 10
) -> DataFrame:
    """PQ ASYMMETRIC-DISTANCE search (Jégou et al., the lookup-table scan
    behind IVF-PQ systems): rank the corpus against each query using ONLY
    the product-quantization codes from :func:`embedding_pq_codes` plus a
    per-query distance table — score(q, v) = ipa[code_a(v)] + ipb[code_b(v)]
    where ``ipX[cell]`` is the inner product of the query's half with that
    half's codebook centroid. The corpus embeddings are never touched at
    query time; a 100 TB deployment scans a codes table of two small ints
    per vector and does two broadcast-map lookups — this is the memory
    story that makes billion-scale ANN fit.

    Exactness contract (what makes the whole approximate operator
    oracle-checkable): codebook entries are INTEGER floor-means of the
    1e-9 fixed-point components (``(csum - pmod) div cnt`` — exact at any
    count, unlike a double mean), the query is 1e-6 fixed-point, so every
    score is a plain BIGINT sum of 64 bounded products (|q|<=1e6,
    |c|<=1e9, 64 * 1e15 << 2^63 — no pre-cast overflow at any corpus
    size) and ranking has a total (score DESC, vec_id ASC) tie-break.

    Plan shape: two aggregate-sized codebook builds (posexplode + groupBy
    over label x dim), a tiny broadcast distance table (n_queries x
    n_cells), then ONE scan of the codes table with two broadcast hash
    joins and a per-query top-k window — no shuffle of the corpus side
    beyond the code assignment it shares with ``embedding_pq_codes``."""
    emb = read_table(spark, sf_dir, "embeddings")
    dtabs = _adc_distance_tables(emb, n_queries)
    codes = embedding_pq_codes(spark, sf_dir).filter(
        F.col("vec_id") >= n_queries  # queries are the held-out split
    )
    return _adc_rank(codes, dtabs, k)


def _adc_distance_tables(emb: DataFrame, n_queries: int) -> list[DataFrame]:
    """The per-query ADC lookup tables, one per PQ half: exact integer
    floor-mean codebooks x 1e-6 fixed-point query halves (see
    :func:`pq_search_adc` for the exactness contract)."""
    dtabs = []
    for half, name in ((0, "ip_a"), (1, "ip_b")):
        sub = emb.select(
            "label",
            F.posexplode(F.slice("embedding", 1 + 32 * half, 32)).alias(
                "dim", "x"
            ),
        )
        # exact integer floor-mean codebook: floor(sum(floor(x*1e9))/cnt)
        cbook = (
            sub.groupBy("label", "dim")
            .agg(
                F.sum(
                    F.floor(F.col("x").cast("double") * 1e9).cast("long")
                ).alias("csum"),
                F.count(F.lit(1)).alias("cnt"),
            )
            .select(
                "label",
                "dim",
                F.expr("(csum - pmod(csum, cnt)) div cnt").alias("cfp"),
            )
            .groupBy("label")
            .agg(
                F.array_sort(F.collect_list(F.struct("dim", "cfp"))).alias(
                    "p"
                )
            )
            .select(
                F.col("label").cast("long").alias("cell"),
                F.transform("p", lambda s: s["cfp"]).alias("cvec"),
            )
        )
        queries = emb.filter(F.col("vec_id") < n_queries).select(
            F.col("vec_id").alias("query_id"),
            F.transform(
                F.slice("embedding", 1 + 32 * half, 32),
                lambda x: F.floor(x.cast("double") * 1e6).cast("long"),
            ).alias("qfp"),
        )
        dtabs.append(
            queries.crossJoin(F.broadcast(cbook)).select(
                "query_id",
                F.col("cell").alias(f"cell_{name}"),
                F.aggregate(
                    F.zip_with("qfp", "cvec", lambda a, b: a * b),
                    F.lit(0).cast("long"),
                    lambda acc, x: acc + x,
                ).alias(name),
            )
        )
    return dtabs


def _adc_rank(codes: DataFrame, dtabs: list[DataFrame], k: int) -> DataFrame:
    """Score a (query_id?, vec_id, code_a, code_b) candidate frame via the
    broadcast ADC tables and emit the per-query top-k. If ``codes``
    already carries a ``query_id`` (probe-restricted candidates), the
    table joins are per that query; otherwise every query ranks the whole
    frame."""
    per_query = "query_id" in codes.columns
    cond_a = F.col("code_a") == F.col("cell_ip_a")
    if per_query:
        cond_a = cond_a & (codes["query_id"] == dtabs[0]["query_id"])
    scored = (
        codes.join(F.broadcast(dtabs[0]), cond_a)
        .join(
            F.broadcast(dtabs[1]),
            (F.col("code_b") == F.col("cell_ip_b"))
            & (dtabs[0]["query_id"] == dtabs[1]["query_id"]),
        )
        .select(
            dtabs[0]["query_id"].alias("query_id"),
            "vec_id",
            (F.col("ip_a") + F.col("ip_b")).alias("score"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", F.col("rank").cast("long").alias("rank"),
                "vec_id", "score")
    )


def pq_codes_artifact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ POSTING LISTS: the ``embedding_pq_codes`` table joined with
    each vector's coarse cell (= its label, the same cell structure the
    persisted IVF index uses) and materialized hive-partitioned BY CELL
    through the shared artifact store — the write-once layout where a
    probe of ``n_probe`` cells reads ``n_probe`` directories of 8-byte
    code pairs and never touches an embedding. This is the storage
    design of every billion-scale IVF-PQ system (FAISS IVFPQ's inverted
    lists as a warehouse table)."""
    from ..plans.artifacts import materialized

    emb_path = f"{sf_dir}/embeddings.parquet"

    def build() -> DataFrame:
        emb = read_table(spark, sf_dir, "embeddings")
        return embedding_pq_codes(spark, sf_dir).join(
            emb.select(
                "vec_id", F.col("label").cast("long").alias("cell")
            ),
            "vec_id",
        )

    return materialized(
        spark,
        ("pq_codes", sf_dir),
        "pq_codes_",
        build,
        inputs=(emb_path,),
        partition_by=("cell",),
    )


def ivfpq_search(
    spark: SparkSession,
    sf_dir: str,
    n_queries: int = 4,
    k: int = 10,
    n_probe: int = 3,
) -> DataFrame:
    """The FULL IVF-PQ architecture — :func:`pq_search_adc`'s
    asymmetric-distance scoring composed with the IVF probe pruning of
    ``ivf_topk_prebuilt``: each query coarse-ranks the centroid table,
    keeps its ``n_probe`` nearest cells, and ADC-scores ONLY the posting
    lists of those cells, read through partition-pruned scans of the
    cell-partitioned codes artifact. Query-time I/O is ``n_probe``
    directories of (vec_id, code_a, code_b) rows — no embedding column
    is ever read; at 100 TB this is the difference between scanning the
    corpus and scanning a few hundred MB of codes.

    Every stage keeps the deterministic contracts of its parents (double
    cosine probe order with total tie-break — same as the attested IVF
    family; BIGINT ADC scores), so results are exactly reproducible.
    Registration note: the round-6 window was full when this landed —
    correctness is carried by the bit-level replay test
    (tests/test_round6_properties.py) until round 7 registers it with
    its oracle (CLAUDE.md round-7 starters, item 1)."""
    index_dir = prebuilt_ivf_index(spark, sf_dir)
    cents = spark.read.parquet(f"{index_dir}/centroids")
    emb = read_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q"),
    )
    qcells = queries.crossJoin(F.broadcast(cents)).select(
        "query_id",
        "cell",
        cosine_expr(F.col("q"), F.col("centroid")).alias("cell_cos"),
    )
    w_cells = Window.partitionBy("query_id").orderBy(
        F.col("cell_cos").desc(), F.col("cell").asc()
    )
    probed = (
        qcells.withColumn("cr", F.row_number().over(w_cells))
        .filter(F.col("cr") <= n_probe)
        .select("query_id", F.col("cell").cast("long").alias("cell"))
    )
    # index metadata, not data: the union of probed cell ids becomes a
    # static partition-pruning predicate on the codes artifact (the same
    # collect-as-predicate pattern as ivf_topk_prebuilt)
    cells = sorted({r.cell for r in probed.select("cell").distinct().collect()})
    candidates = (
        pq_codes_artifact(spark, sf_dir)
        .filter(F.col("cell").isin(cells))
        .filter(F.col("vec_id") >= n_queries)
        # per-query restriction: a candidate competes only for queries
        # that probed ITS cell
        .join(F.broadcast(probed), "cell")
        .select("query_id", "vec_id", "code_a", "code_b")
    )
    return _adc_rank(candidates, _adc_distance_tables(emb, n_queries), k)


def hybrid_search_rrf(
    spark: SparkSession, sf_dir: str, k: int = 10, c: int = 60
) -> DataFrame:
    """HYBRID RETRIEVAL via Reciprocal-Rank Fusion — the standard RAG
    pattern that merges a LEXICAL ranking (exact-rational BM25,
    ``text.bm25_doc_rank``'s top-20) with a SEMANTIC ranking (exact
    decimal-dot cosine top-20 for query vector 0,
    ``brute_force_topk``) into one list:

        rrf(d) = sum over arms of 1 / (c + rank_arm(d)),  c = 60.

    EXACTNESS: each reciprocal is computed in 1e-9 fixed point
    (``10^9 DIV (c + rank)``) so the fused score is a plain BIGINT sum
    — and because every arm rank is <= 20 < 10^4, distinct rank
    combinations can never collide after the floor (terms differ by
    >= 10^9/(c+20)^2 > 150k), so fixed-point RRF induces EXACTLY the
    rational RRF order. Docs missing from an arm contribute 0 for it
    (the standard top-N RRF convention); the final top-k breaks ties
    (rrf_fp DESC, doc_id ASC).

    Plan: both arms are the already-verified operators reused as
    subplans; their top-20 outputs are single-broadcast-sized frames,
    so the fusion join and final TakeOrdered are metadata-cost. At
    100 TB the arms swap to their index-backed twins (inverted index /
    IVF-PQ) and the fusion stage is unchanged — that composability is
    the point of RRF."""
    from .text import bm25_doc_rank

    lex = bm25_doc_rank(spark, sf_dir)
    wl = Window.orderBy(F.col("score_fp").desc(), F.col("doc_id").asc())
    lexr = lex.select(
        "doc_id", F.row_number().over(wl).cast("long").alias("lex_rank")
    )
    sem = brute_force_topk(spark, sf_dir, n_queries=1, k=20)
    semr = sem.select(
        F.col("neighbor_id").alias("doc_id"),
        F.col("rank").cast("long").alias("sem_rank"),
    )
    fused = lexr.join(semr, "doc_id", "full_outer").select(
        "doc_id",
        "lex_rank",
        "sem_rank",
        (
            F.coalesce(
                F.expr(f"1000000000 DIV ({c} + lex_rank)"), F.lit(0)
            )
            + F.coalesce(
                F.expr(f"1000000000 DIV ({c} + sem_rank)"), F.lit(0)
            )
        )
        .cast("long")
        .alias("rrf_fp"),
    )
    wf = Window.orderBy(F.col("rrf_fp").desc(), F.col("doc_id").asc())
    return (
        fused.withColumn("rank", F.row_number().over(wf).cast("long"))
        .filter(F.col("rank") <= k)
        .select("rank", "doc_id", "lex_rank", "sem_rank", "rrf_fp")
    )


def embedding_stats_per_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PER-DIMENSION embedding statistics — the vector-warehouse ANALYZE
    pass (the precursor to whitening, dead-dimension pruning and
    quantizer calibration): for each of the 64 dimensions, count, mean
    and variance of the corpus values.

    Exact fixed-point chain (the centroid convention —
    ``floor(x * 1e9)`` per element, a bit-identical IEEE multiply+floor
    on both engines): ``mean_fp = (sum + n*SHIFT) DIV n - SHIFT`` (the
    nonnegative-shift floor, since sums go negative and Spark DIV
    truncates where DuckDB // floors; SHIFT = 1e10 > any |element|*1e9)
    and ``var_fp = (n*ssq - sum^2) DIV (n*n*1e9)`` — the numerator is
    nonnegative by Cauchy-Schwarz so one floor DIV suffices; products
    form in DECIMAL(38,0)/HUGEINT. Shape: one posexplode (narrow) + one
    64-group aggregate — scans the table once at any scale."""
    SHIFT = 10_000_000_000
    emb = read_table(spark, sf_dir, "embeddings")
    vals = emb.select(
        F.posexplode("embedding").alias("pos", "v")
    ).select(
        (F.col("pos") + 1).cast("long").alias("dim"),
        F.floor(F.col("v").cast("double") * 1e9).alias("v_fp"),
    )
    agg = vals.groupBy("dim").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("v_fp").cast("decimal(38,0)")).alias("s"),
        F.sum(
            (F.col("v_fp").cast("decimal(38,0)") * F.col("v_fp")).cast(
                "decimal(38,0)"
            )
        ).alias("ssq"),
    )
    return agg.select(
        "dim",
        "n",
        F.col("s").cast("long").alias("sum_fp"),
        F.expr(f"CAST((s + CAST(n AS DECIMAL(38,0)) * {SHIFT}) DIV n"
               f" - {SHIFT} AS BIGINT)").alias("mean_fp"),
        F.expr(
            "CAST((CAST(n AS DECIMAL(38,0)) * ssq - s * s)"
            " DIV (CAST(n AS DECIMAL(38,0)) * n * 1000000000)"
            " AS BIGINT)"
        ).alias("var_fp"),
    )


def ivf_recall_report(
    spark: SparkSession,
    sf_dir: str,
    n_queries: int = 5,
    k: int = 10,
    n_probe: int = 3,
) -> DataFrame:
    """ANN QUALITY AUDIT — recall@k of the IVF probe path against the
    exact top-k, per query: the acceptance metric every approximate
    index ships with (probe more cells vs. recall trade-off). Joins the
    two attested ranking paths (``brute_force_topk`` exact-DECIMAL and
    ``ivf_topk``) on (query, neighbor) and reports hits; the oracle
    composes both queries' oracle SQL verbatim, so the report is
    hash-exact end to end. ``recall_millis = hits * 1000 DIV k``."""
    exact = brute_force_topk(spark, sf_dir, n_queries, k)
    ann = ivf_topk(spark, sf_dir, n_queries, k, n_probe)
    ek = exact.groupBy("query_id").agg(
        F.count(F.lit(1)).cast("long").alias("k_exact")
    )
    hits = (
        exact.join(ann, ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_hits"))
    )
    return (
        ek.join(hits, "query_id", "left_outer")
        .select(
            "query_id",
            "k_exact",
            F.coalesce(F.col("n_hits"), F.lit(0))
            .cast("long")
            .alias("n_hits"),
        )
        .withColumn(
            "recall_millis",
            F.expr("n_hits * 1000 DIV k_exact").cast("long"),
        )
    )


def matryoshka_rank_agreement(
    spark: SparkSession, sf_dir: str, n_queries: int = 4, k: int = 20
) -> DataFrame:
    """MATRYOSHKA truncation audit — the measurement behind MRL-style
    embedding serving (store 64 dims, search the first 32): for each
    query, rank the candidate pool by FULL-dimension exact cosine and
    by the TRUNCATED first-half cosine, and report how much ranking
    quality the truncation keeps:

    - ``overlap_at_k``: |top-k(full) ∩ top-k(truncated)| — the recall
      the half-width index would deliver;
    - ``footrule``: Σ |rank_full - rank_trunc| over the full top-k —
      Spearman's footrule displacement, an exact integer;
    - ``worst_trunc_rank``: max truncated rank of a full top-k member —
      the re-rank window a two-stage retriever would need.

    Every rank follows the DECIMAL-accumulated cosine ordering key with
    a total tie-break (the attested ``similarity_topk`` convention,
    applied per dimension-slice), so the whole audit is hash-exact.

    Shape (VERDICT r7 item 3 — the old form ranked the ENTIRE candidate
    pool per query with ``row_number`` over ``partitionBy(query_id)``:
    n_queries tasks each sorting the full corpus): per query, the full
    top-k comes from the TakeOrderedAndProject pattern (orderBy+limit —
    partial per-partition top-k, k-row driver merge, fully parallel);
    those n_queries*k member rows BROADCAST back against the scored
    corpus, and each member's rank under EITHER key is an AGGREGATE
    count of strictly-better candidates (``rank = 1 + #{key > m OR
    (key = m AND id < m_id)}`` — exactly ``row_number`` over the same
    total order, since ids are unique per query). No corpus-wide window
    anywhere; the corpus is scanned, never sorted whole (plan-tested:
    zero Window operators, TakeOrderedAndProject present)."""
    emb = read_table(spark, sf_dir, "embeddings")
    h = lambda col: F.slice(col, 1, 32)  # noqa: E731 — first-half view
    queries = emb.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q"),
        sq_norm_decimal_expr(F.col("embedding")).cast("double").alias("qn"),
        sq_norm_decimal_expr(h(F.col("embedding")))
        .cast("double")
        .alias("qn32"),
    )
    # spread the one-split candidate scan before the pair fan-out (the
    # SCALE.md one-task trap, explicit width — r12 opt)
    cands = emb.filter(F.col("vec_id") >= n_queries).repartition(
        spark.sparkContext.defaultParallelism, "vec_id"
    ).select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("c"),
        sq_norm_decimal_expr(F.col("embedding")).cast("double").alias("cn"),
        sq_norm_decimal_expr(h(F.col("embedding")))
        .cast("double")
        .alias("cn32"),
    )
    # r12 opt: (a) each decimal dot is materialized ONCE per pair —
    # interpreted lambda aggregates are not subexpression-eliminated,
    # so the old `key_of` (dot * abs(dot) inline) folded each pair's
    # arrays FOUR times; (b) the scored frame is localCheckpoint'd: it
    # feeds five consumers (n_queries TakeOrdered tops + the rank
    # aggregate), each of which would otherwise re-execute the whole
    # cross-join + dot projection (no exchange underneath to reuse).
    # Identical values — the same deterministic FP expressions computed
    # once and reused (guide §4, §5 localCheckpoint-to-truncate).
    d64 = dot_decimal_expr(F.col("q"), F.col("c")).cast("double")
    d32 = dot_decimal_expr(h(F.col("q")), h(F.col("c"))).cast("double")
    joined = (
        cands.crossJoin(F.broadcast(queries))
        .select(
            "query_id",
            "neighbor_id",
            d64.alias("d64"),
            d32.alias("d32"),
            "qn",
            "cn",
            "qn32",
            "cn32",
        )
        .select(
            "query_id",
            "neighbor_id",
            (
                F.col("d64") * F.abs(F.col("d64"))
                / (F.col("qn") * F.col("cn"))
            ).alias("k64"),
            (
                F.col("d32") * F.abs(F.col("d32"))
                / (F.col("qn32") * F.col("cn32"))
            ).alias("k32"),
        )
        .localCheckpoint()
    )
    tops = None
    for qid in range(n_queries):
        t = (
            joined.filter(F.col("query_id") == qid)
            .orderBy(F.col("k64").desc(), F.col("neighbor_id").asc())
            .limit(k)
            .select(
                "query_id",
                F.col("neighbor_id").alias("m_id"),
                F.col("k64").alias("m_k64"),
                F.col("k32").alias("m_k32"),
            )
        )
        tops = t if tops is None else tops.unionAll(t)
    # member key values are recomputations of the same deterministic FP
    # expressions over the same rows, so the strictly-better comparisons
    # below are bit-exact against the corpus-side keys
    better64 = (
        (F.col("k64") > F.col("m_k64"))
        | ((F.col("k64") == F.col("m_k64")) & (F.col("neighbor_id") < F.col("m_id")))
    ).cast("long")
    better32 = (
        (F.col("k32") > F.col("m_k32"))
        | ((F.col("k32") == F.col("m_k32")) & (F.col("neighbor_id") < F.col("m_id")))
    ).cast("long")
    ranks = (
        joined.join(F.broadcast(tops), "query_id")
        .groupBy("query_id", "m_id")
        .agg(
            (F.sum(better64) + 1).alias("r64"),
            (F.sum(better32) + 1).alias("r32"),
        )
    )
    return ranks.groupBy("query_id").agg(
        F.sum((F.col("r32") <= k).cast("long")).alias("overlap_at_k"),
        F.sum(F.abs(F.col("r64") - F.col("r32")))
        .cast("long")
        .alias("footrule"),
        F.max("r32").cast("long").alias("worst_trunc_rank"),
    )


def embedding_label_centroid_distances(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """CLASS-SEPARATION audit over the embedding space: the exact
    fixed-point centroid of each label (the ``embedding_stats_per_dim``
    conventions — ``floor(x*1e9)`` elements, nonnegative-shift floor
    mean) and the squared L2 distance between every label pair — the
    between-class scatter a classifier / clusterer sanity check reads
    (collapsed centroids flag useless embeddings or leaked labels).

    Exactness: centroid coordinates are BIGINT fixed point; the pair
    distance sums 64 squared diffs in DECIMAL(38,0) (diff <= ~2e9,
    diff^2 <= 4e18, x64 crosses 2^63 — the isotonic-overflow lesson)
    and emits ``dist_sq_fp = sum DIV 1e9`` (a 1e-9-scaled squared
    distance, BIGINT-safe). Shape: one posexplode + one (label, dim)
    aggregate (L x 64 rows), then a broadcast self-join on dim over
    that tiny frame — the corpus is scanned once; pair work never
    touches row grain."""
    SHIFT = 10_000_000_000
    emb = read_table(spark, sf_dir, "embeddings")
    vals = emb.select(
        F.col("label").cast("long").alias("label"),
        F.posexplode("embedding").alias("pos", "v"),
    ).select(
        "label",
        (F.col("pos") + 1).cast("long").alias("dim"),
        F.floor(F.col("v").cast("double") * 1e9).alias("v_fp"),
    )
    cent = vals.groupBy("label", "dim").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("v_fp").cast("decimal(38,0)")).alias("s"),
    ).select(
        "label",
        "dim",
        F.expr(
            f"CAST((s + CAST(n AS DECIMAL(38,0)) * {SHIFT}) DIV n"
            f" - {SHIFT} AS BIGINT)"
        ).alias("mean_fp"),
    )
    a = cent.select(
        F.col("label").alias("label_a"), "dim",
        F.col("mean_fp").alias("ma"),
    )
    b = cent.select(
        F.col("label").alias("label_b"), "dim",
        F.col("mean_fp").alias("mb"),
    )
    pairs = a.join(F.broadcast(b), "dim").filter(
        F.col("label_a") < F.col("label_b")
    )
    return (
        pairs.groupBy("label_a", "label_b")
        .agg(
            F.sum(
                (
                    (F.col("ma") - F.col("mb")).cast("decimal(38,0)")
                    * (F.col("ma") - F.col("mb"))
                ).cast("decimal(38,0)")
            ).alias("dsum")
        )
        .select(
            "label_a",
            "label_b",
            F.expr("CAST(dsum DIV 1000000000 AS BIGINT)").alias(
                "dist_sq_fp"
            ),
        )
    )


def pq_distortion_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ QUANTIZATION-DISTORTION audit — the calibration loop's other
    half next to :func:`ivf_recall_report` (recall measures ranking
    loss; this measures the RECONSTRUCTION loss that drives it): for
    every vector, the squared L2 distance between the original
    embedding and its PQ reconstruction (the assigned cell centroid of
    each half), aggregated per label. Rising distortion in one label
    flags a codebook that needs more cells there — the knob an IVF-PQ
    deployment tunes.

    Exactness: elements are floor(x*1e9) fixed point, codebook entries
    the exact integer floor-means (the ``pq_search_adc`` contract), so
    each squared diff is a BIGINT product summed in DECIMAL(38,0)
    (diff <= ~2e9, diff^2 <= 4e18, x64 crosses 2^63 — the isotonic
    lesson); per-label sums stay well under 10^38 and scale back to
    BIGINT with one nonnegative floor DIV. Plan: codes come from the
    attested assignment; each half joins the value explode to its
    BROADCAST long-form codebook on (cell, dim) — one embedding scan
    per half, aggregate-grain output."""
    emb = read_table(spark, sf_dir, "embeddings")
    codes = embedding_pq_codes(spark, sf_dir)
    halves = []
    for half, code in ((0, "code_a"), (1, "code_b")):
        vals = emb.select(
            "vec_id",
            "label",
            F.posexplode(F.slice("embedding", 1 + 32 * half, 32)).alias(
                "dim", "x"
            ),
        ).select(
            "vec_id",
            "label",
            "dim",
            F.floor(F.col("x").cast("double") * 1e9).cast("long").alias(
                "vfp"
            ),
        )
        cbook = (
            emb.select(
                "label",
                F.posexplode(
                    F.slice("embedding", 1 + 32 * half, 32)
                ).alias("dim", "x"),
            )
            .groupBy(F.col("label").alias("cell"), "dim")
            .agg(
                F.sum(
                    F.floor(F.col("x").cast("double") * 1e9).cast("long")
                ).alias("csum"),
                F.count(F.lit(1)).alias("cnt"),
            )
            .select(
                "cell",
                "dim",
                F.expr("(csum - pmod(csum, cnt)) div cnt").alias("cfp"),
            )
        )
        j = (
            vals.join(
                codes.select("vec_id", F.col(code).alias("cell")), "vec_id"
            )
            .join(F.broadcast(cbook), ["cell", "dim"])
            .groupBy("vec_id", "label")
            .agg(
                F.sum(
                    (
                        (F.col("vfp") - F.col("cfp")).cast("decimal(38,0)")
                        * (F.col("vfp") - F.col("cfp"))
                    ).cast("decimal(38,0)")
                ).alias("d")
            )
        )
        halves.append(j)
    per_vec = (
        halves[0]
        .unionByName(halves[1])
        .groupBy("vec_id", "label")
        .agg(F.sum("d").alias("d"))
    )
    return (
        per_vec.groupBy(F.col("label").cast("long").alias("label"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_vecs"),
            F.sum("d").alias("draw"),
        )
        .select(
            "label",
            "n_vecs",
            F.expr("CAST(draw DIV 1000000000 AS BIGINT)").alias(
                "sum_dist_fp"
            ),
            F.expr(
                "CAST(draw DIV (CAST(n_vecs AS DECIMAL(38,0))"
                " * 1000000000) AS BIGINT)"
            ).alias("mean_dist_fp"),
        )
    )


def ivfpq_recall_frontier(
    spark: SparkSession,
    sf_dir: str,
    n_queries: int = 4,
    k: int = 10,
    rerank_k: int = 50,
    probes: tuple = (1, 2, 3),
) -> DataFrame:
    """IVF-PQ TUNING FRONTIER — recall of the full IVF-PQ path
    (:func:`ivfpq_search`) as a function of ``n_probe``, per query: the
    curve an ANN deployment reads to pick its probe budget (probe more
    cells → higher recall, more posting-list I/O). Each arm over-fetches
    an ADC top-``rerank_k`` RERANK WINDOW (the production two-stage
    retrieve-then-rerank pattern — coarse ADC candidates, exact rescoring
    of a small window) and the report counts how many of the exact
    top-``k`` land inside it: one row per (n_probe, query) with
    ``recall_millis = hits * 1000 DIV k_exact``.

    The exact reference arm ranks the SAME candidate universe the PQ
    path searches (``vec_id >= n_queries`` — query vectors are not
    candidates) by the EXACT decimal INNER PRODUCT — the metric the ADC
    score approximates (``ipa + ipb`` reconstructs q·centroid(code)),
    so recall is apples-to-apples; the oracle composes the
    parameterized IVF-PQ SQL once per probe value. NOTE the curve need
    NOT be monotone in ``n_probe``: a wider probe can only ADD
    candidates, but an added candidate with a HIGHER approximate score
    than a true neighbor can push that neighbor out of the fixed-k ADC
    list — quantization noise, exactly what this report measures
    (pinned by test: the candidate sets are nested, the hit counts are
    free to dip).

    Scale shape (r12 opt — the three arms SHARE one pass): probe
    ranking runs once at ``max(probes)`` and each candidate carries its
    cell's probe rank ``cr``; a candidate belongs to every arm
    ``p >= cr`` (probe sets are nested by construction — the same
    nesting the shape test pins), so one partition-pruned scan of the
    codes artifact + ONE broadcast ADC-table build scores every arm,
    and the per-arm rerank window is a single
    ``row_number over (n_probe, query)`` pass. The pre-r12 form
    composed :func:`ivfpq_search` once per probe value: three probe
    rankings, three driver collects, three codes scans and three ADC
    table builds for byte-identical intermediate results (measured
    ~8.1s → see OPTIMIZATION_r12.md). Per-arm output is unchanged:
    candidates with ``cr <= p`` ranked by the identical
    (score DESC, vec_id ASC) order is exactly what each
    ``ivfpq_search(p)`` computed.
    (probe cells → PartitionFilters on the codes artifact — query-time
    I/O is n_probe directories of 8-byte codes); the exact arm is one
    broadcast-queries scan of the embedding table; the fusion joins are
    (probes × queries × k)-row metadata frames.

    ORACLE-CHECKED PARAMETERIZATION: only the DEFAULT arguments
    (``n_queries=4, k=10, rerank_k=50, probes=(1, 2, 3)``) are pinned by
    the registered DuckDB oracle — the oracle SQL hardcodes the query
    universe cutoff, the rerank window, top-k and the probe set (the
    same convention as the other parameterized-entry oracles in this
    repo). Non-default calls run fine but are covered by tests only."""
    emb = read_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q"),
    )
    # spread the one-split candidate scan before the pair fan-out (the
    # SCALE.md one-task trap, explicit width — r12 opt)
    cands = emb.filter(F.col("vec_id") >= n_queries).repartition(
        spark.sparkContext.defaultParallelism, "vec_id"
    ).select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("c"),
    )
    # exact max-inner-product: the DECIMAL dot is the ordering key
    # directly (no floats anywhere in the reference arm)
    scored = cands.crossJoin(F.broadcast(queries)).withColumn(
        "ord_key", dot_decimal_expr(F.col("q"), F.col("c"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("ord_key").desc(), F.col("neighbor_id").asc()
    )
    exact = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id")
    )
    ek = exact.groupBy("query_id").agg(
        F.count(F.lit(1)).cast("long").alias("k_exact")
    )
    # ---- shared IVF-PQ pass over all probe arms (see docstring) ----
    p_max = max(int(p) for p in probes)
    index_dir = prebuilt_ivf_index(spark, sf_dir)
    cents = spark.read.parquet(f"{index_dir}/centroids")
    aq = emb.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q"),
        norm_expr(F.col("embedding")).alias("qnrm"),
    )
    qcells = aq.crossJoin(F.broadcast(cents)).select(
        "query_id",
        "cell",
        (
            dot_expr(F.col("q"), F.col("centroid"))
            / (F.col("qnrm") * norm_expr(F.col("centroid")))
        ).alias("cell_cos"),
    )
    w_cells = Window.partitionBy("query_id").orderBy(
        F.col("cell_cos").desc(), F.col("cell").asc()
    )
    probed = (
        qcells.withColumn("cr", F.row_number().over(w_cells))
        .filter(F.col("cr") <= p_max)
        .select(
            "query_id", F.col("cell").cast("long").alias("cell"), "cr"
        )
    )
    cells = sorted({r.cell for r in probed.select("cell").distinct().collect()})
    candidates = (
        pq_codes_artifact(spark, sf_dir)
        .filter(F.col("cell").isin(cells))
        .filter(F.col("vec_id") >= n_queries)
        .join(F.broadcast(probed), "cell")
        .select("query_id", "vec_id", "code_a", "code_b", "cr")
    )
    dtabs = _adc_distance_tables(emb, n_queries)
    adc = (
        candidates.join(
            F.broadcast(dtabs[0]),
            (F.col("code_a") == F.col("cell_ip_a"))
            & (candidates["query_id"] == dtabs[0]["query_id"]),
        )
        .join(
            F.broadcast(dtabs[1]),
            (F.col("code_b") == F.col("cell_ip_b"))
            & (dtabs[0]["query_id"] == dtabs[1]["query_id"]),
        )
        .select(
            dtabs[0]["query_id"].alias("query_id"),
            "vec_id",
            "cr",
            (F.col("ip_a") + F.col("ip_b")).alias("score"),
        )
    )
    # a candidate whose best probed cell has rank cr belongs to every
    # arm p >= cr — the nested-candidate-set theorem the shape test pins
    arms_arr = F.array(*[F.lit(int(p)).cast("long") for p in probes])
    armed = adc.withColumn(
        "n_probe",
        F.explode(F.filter(arms_arr, lambda p: p >= F.col("cr"))),
    )
    w_arm = Window.partitionBy("n_probe", "query_id").orderBy(
        F.col("score").desc(), F.col("vec_id").asc()
    )
    ann = (
        armed.withColumn("rank", F.row_number().over(w_arm))
        .filter(F.col("rank") <= rerank_k)
        .select("n_probe", "query_id", F.col("vec_id").alias("neighbor_id"))
    )
    hits = (
        exact.join(ann, ["query_id", "neighbor_id"])
        .groupBy("n_probe", "query_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_hits"))
    )
    grid = spark.createDataFrame(
        [(int(p),) for p in probes], "n_probe long"
    ).crossJoin(ek)
    return (
        grid.join(hits, ["n_probe", "query_id"], "left_outer")
        .select(
            "n_probe",
            "query_id",
            "k_exact",
            F.coalesce(F.col("n_hits"), F.lit(0)).cast("long").alias(
                "n_hits"
            ),
        )
        .withColumn(
            "recall_millis",
            F.expr("n_hits * 1000 DIV k_exact").cast("long"),
        )
    )


def hard_negative_mining(
    spark: SparkSession, sf_dir: str, n_queries: int = 4, k: int = 10
) -> DataFrame:
    """HARD-NEGATIVE MINING for contrastive training: for each query
    vector, the top-``k`` most-similar candidates with a DIFFERENT label
    — the highest-scoring wrong answers, exactly the negatives a
    contrastive/embedding fine-tune wants in its batch (random negatives
    are too easy; these sit closest to the decision boundary).

    Scoring is the exact DECIMAL inner product (``dot_decimal_expr`` —
    one rounding per element product, exact accumulation) used as the
    ORDER KEY ONLY, never emitted (the ``similarity_topk`` convention:
    the two engines' double→DECIMAL(28,14) element roundings can differ
    in the last place — HALF_UP vs round-half-even — so the raw score
    is not hash-transportable, while the RANKING it induces is stable;
    measured at sf0.001 registration: one 1-ulp score divergence, zero
    rank divergences). Rank is total-ordered by
    ``(score DESC, neighbor_id)``.

    Scale shape: ``n_queries`` is bounded (the query batch), so the plan
    is a broadcast of the query rows against one linear candidate scan;
    the ``row_number <= k`` filter compiles to the map-side
    WindowGroupLimit top-k before any shuffle — the same attested shape
    as the ivfpq exact arm. The label-mismatch filter is pushed into the
    scan side of the broadcast join.

    ORACLE-CHECKED PARAMETERIZATION: defaults only (``n_queries=4,
    k=10``) — the oracle hardcodes both (repo convention)."""
    emb = read_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q"),
        F.col("label").alias("query_label"),
    )
    cands = emb.filter(F.col("vec_id") >= n_queries).select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("c"),
        F.col("label").alias("neighbor_label"),
    )
    scored = (
        cands.crossJoin(F.broadcast(queries))
        .filter(F.col("neighbor_label") != F.col("query_label"))
        .withColumn("ord_key", dot_decimal_expr(F.col("q"), F.col("c")))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("ord_key").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "query_label",
            F.col("rank").cast("long").alias("rank"),
            "neighbor_id",
            "neighbor_label",
        )
    )


def sq8_recall_report(
    spark: SparkSession, sf_dir: str, n_queries: int = 4, k: int = 10
) -> DataFrame:
    """SCALAR-QUANTIZATION (SQ8) recall audit — the third compression
    point on the ANN frontier next to PQ-ADC and IVF-PQ: quantize every
    candidate dimension to 8 bits against the corpus per-dim min/max
    (``q_d = (v_d − lo_d)·255 DIV (hi_d − lo_d)`` on the established
    ``floor(x·1e9)`` fixed-point elements), score queries against the
    INTEGER reconstruction ``255·x̂_d = 255·lo_d + q_d·(hi_d − lo_d)``
    (the uniform 255× scaling is rank-neutral), and report per query how
    many of the exact top-``k`` inner-product neighbors the SQ8 top-``k``
    retains — the memory-vs-recall trade sheet (SQ8 stores 64 bytes/vec
    vs 256 float bytes; PQ stores 2).

    Exactness: the SQ8 score chain is ALL-INTEGER (BIGINT quantize, one
    nonneg floor division; DECIMAL(38,0)/HUGEINT score products — recon
    ≤ ~2³⁰ fixed-point × element 2³⁰ × 64 dims ≈ 2⁶⁶ needs the wide
    accumulator) and is an ORDER KEY ONLY (the ``hard_negative_mining``
    rank-only convention); the exact arm is the attested
    ``dot_decimal_expr`` ranking. Ties break by neighbor_id on both
    engines.

    Scale shape: per-dim stats are one map-side-combined groupBy to a
    64-row broadcast frame; quantization + scoring is ONE pass over the
    exploded candidates joined to the broadcast (queries × dims) frame —
    linear in corpus size, never all-pairs; the rank filter is a
    per-query WindowGroupLimit over k·|queries| rows.

    ORACLE-CHECKED PARAMETERIZATION: defaults only (``n_queries=4,
    k=10``) — the oracle hardcodes both (the ivfpq_recall_frontier
    convention)."""
    emb = read_table(spark, sf_dir, "embeddings")
    e9 = "transform({c}, x -> CAST(floor(CAST(x AS DOUBLE) * 1e9) AS BIGINT))"
    queries = emb.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q")
    )
    cands = emb.filter(F.col("vec_id") >= n_queries).select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("c")
    )
    cd = cands.select(
        "neighbor_id",
        F.posexplode(F.expr(e9.format(c="c"))).alias("dim", "v"),
    )
    stats = cd.groupBy("dim").agg(
        F.min("v").alias("lo"), F.max("v").alias("hi")
    )
    recon = cd.join(F.broadcast(stats), "dim").select(
        "neighbor_id",
        "dim",
        F.expr(
            "CASE WHEN hi > lo"
            " THEN 255 * lo + ((v - lo) * 255 DIV (hi - lo)) * (hi - lo)"
            " ELSE 255 * lo END"
        ).alias("r"),
    )
    qd = queries.select(
        "query_id",
        F.posexplode(F.expr(e9.format(c="q"))).alias("dim", "qv"),
    )
    approx = (
        recon.join(F.broadcast(qd), "dim")
        .groupBy("query_id", "neighbor_id")
        .agg(
            F.sum(F.expr("CAST(r AS DECIMAL(38,0)) * qv")).alias("s")
        )
    )
    wa = Window.partitionBy("query_id").orderBy(
        F.col("s").desc(), F.col("neighbor_id").asc()
    )
    ann = (
        approx.withColumn("rn", F.row_number().over(wa))
        .filter(F.col("rn") <= k)
        .select("query_id", "neighbor_id")
    )
    scored = cands.crossJoin(F.broadcast(queries)).withColumn(
        "ord_key", dot_decimal_expr(F.col("q"), F.col("c"))
    )
    we = Window.partitionBy("query_id").orderBy(
        F.col("ord_key").desc(), F.col("neighbor_id").asc()
    )
    exact = (
        scored.withColumn("rank", F.row_number().over(we))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id")
    )
    ek = exact.groupBy("query_id").agg(
        F.count(F.lit(1)).cast("long").alias("k_exact")
    )
    hits = (
        exact.join(ann, ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_hits"))
    )
    return (
        ek.join(hits, "query_id", "left_outer")
        .select(
            "query_id",
            "k_exact",
            F.coalesce(F.col("n_hits"), F.lit(0)).cast("long").alias(
                "n_hits"
            ),
        )
        .withColumn(
            "recall_millis",
            F.expr("n_hits * 1000 DIV k_exact").cast("long"),
        )
    )
