"""Similarity search over an embedding column (array<float>).

Three tiers:
  brute_force_topk — exact cosine top-k, query set × corpus. The baseline
      and the rerank stage. Cosine in double precision via built-in
      higher-order functions (zip_with/aggregate) — JVM-side, no UDF, no
      Python serialization. Query set broadcast; corpus never shuffles.
  lsh_topk — random-hyperplane (sign) LSH: H-bit signature, multi-probe by
      signature-band equality, exact rerank inside buckets. The 100 TB
      path: candidate generation is a broadcast-join on band values,
      linear in corpus size.
  ivf_topk — inverted-file index: a spherical-k-means coarse quantizer
      trained driver-side on a deterministic sample, corpus partitioned
      into centroid cells, queries probe their nprobe nearest cells and
      rerank exactly within them. The other standard ANN scale path:
      candidate count ≈ corpus·nprobe/n_centroids per query regardless of
      similarity distribution (sign-LSH recall degrades on low-similarity
      corpora; IVF's doesn't).

The hyperplanes are generated from a fixed seed driver-side (numpy) and
inlined as literal arrays — deterministic across runs, no state to ship.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from dataux_spark.sqlutil import local_frame


def _as_double(vec_col: str):
    return F.expr(f"transform({vec_col}, x -> cast(x as double))")


def _norm(col):
    return F.sqrt(F.expr(f"aggregate({col}, cast(0 as double), (acc, x) -> acc + x * x)"))


def _dot(a: str, b: str):
    return F.expr(
        f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), cast(0 as double), (acc, x) -> acc + x)"
    )


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    vec_col: str,
    id_col: str,
    k: int = 5,
) -> DataFrame:
    """Exact cosine top-k: for each query vector, the k nearest corpus
    vectors (excluding itself). Plan: broadcast the query set, one pass
    over the corpus, per-query top-k via window row_number (ties broken by
    neighbor id). Returns (query_id, neighbor_id, cos, rank)."""
    q = queries.select(
        F.col(id_col).alias("query_id"), _as_double(vec_col).alias("qv")
    ).withColumn("qnorm", _norm("qv"))
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), _as_double(vec_col).alias("cv")
    ).withColumn("cnorm", _norm("cv"))
    joined = c.crossJoin(F.broadcast(q)).filter(F.col("neighbor_id") != F.col("query_id"))
    return _rerank_topk(joined, k)


def hyperplanes(dim: int, nbits: int, seed: int = 42) -> np.ndarray:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((nbits, dim))


def signature_expr(vec_col: str, planes: np.ndarray, band_bits: int = 4):
    """Sign-LSH signature as an array<int> of band values.

    band_bits trades candidates for recall: P(band match) = p^band_bits
    with p = 1 - θ/π per hyperplane. Low-similarity corpora (neighbor
    cos ≈ 0.4 → p ≈ 0.63) need narrow bands (4 bits → ~16% per band,
    ~94% recall over 16 bands); high-similarity dedup workloads can use
    8-16 bit bands to keep candidate counts down."""
    nbits, _dim = planes.shape
    bits = []
    for i in range(nbits):
        coeffs = ", ".join(f"{x:.17g}D" for x in planes[i])
        dot = (
            f"aggregate(zip_with({vec_col}, array({coeffs}), (x, y) -> x * y), "
            f"cast(0 as double), (acc, x) -> acc + x)"
        )
        bits.append(F.when(F.expr(dot) > 0, F.lit(1)).otherwise(F.lit(0)))
    bands = []
    for idx, b in enumerate(range(0, nbits, band_bits)):
        band = None
        for j, bit in enumerate(bits[b : b + band_bits]):
            term = bit * (1 << j)
            band = term if band is None else band + term
        bands.append(band + F.lit((1 << band_bits) * idx))  # disambiguate band index
    return F.array(*bands)


def _signature_udf(planes: np.ndarray, band_bits: int):
    """Arrow-batched sign-LSH signature: one numpy matmul per batch against
    the closed-over plane matrix, bits packed into band values identical to
    signature_expr (equality pinned by test). The plan-lean path for
    BERT-scale dims — signature_expr inlines nbits×dim float literals into
    the plan text, which bloats analysis/codegen beyond ~10^4 coefficients,
    while a udf closure ships the matrix once per executor.

    Float caveat: numpy's summation order differs from the SQL
    expression's left-to-right fold, so a projection within ~1 ulp of 0
    could flip a sign bit between the two paths. Irrelevant for recall (a
    knife-edge bit is uninformative) and each path is individually
    deterministic, but do not mix paths within one corpus/query pair —
    lsh_topk applies one path to both sides by construction."""
    from pyspark.sql.types import ArrayType, IntegerType

    p_t = planes.T.copy()
    nbits = planes.shape[0]
    n_bands = (nbits + band_bits - 1) // band_bits
    weights = (1 << np.arange(band_bits, dtype=np.int64))

    @F.pandas_udf(ArrayType(IntegerType()))
    def sig(vs: pd.Series) -> pd.Series:
        if not len(vs):
            return pd.Series([], dtype=object)
        x = np.asarray([np.asarray(v, dtype=np.float64) for v in vs])
        bits = (x @ p_t > 0).astype(np.int64)  # (batch, nbits)
        out = []
        for row in bits:
            bands = [
                int((row[b * band_bits : (b + 1) * band_bits]
                     * weights[: min(band_bits, nbits - b * band_bits)]).sum()
                    + (1 << band_bits) * b)
                for b in range(n_bands)
            ]
            out.append(bands)
        return pd.Series(out)

    return sig


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    vec_col: str,
    id_col: str,
    k: int = 5,
    nbits: int = 64,
    band_bits: int = 4,
    seed: int = 42,
    dim: int | None = None,
    arrow_threshold: int = 8192,
) -> DataFrame:
    """Approximate cosine top-k: candidates = corpus rows sharing ≥1
    signature band (8-bit) with the query, exact rerank on candidates.

    Scale: corpus signatures are computed in the scan projection; the
    explode×join is on small band values with the (small) query side
    broadcast, so the corpus is never shuffled. Recall is tuned by
    nbits/band count. Returns (query_id, neighbor_id, cos, rank)."""
    if dim is None:  # fallback probe — pass dim to keep the builder lazy
        dim = len(corpus.select(vec_col).first()[0])
    planes = hyperplanes(dim, nbits, seed)
    # small plane matrices inline as JVM expressions (whole-stage codegen,
    # no Python); past the threshold the literal blowup costs more than
    # the Arrow hop, so switch to the batched matmul (same band values —
    # equality pinned by test)
    if nbits * dim > arrow_threshold:
        sig = _signature_udf(planes, band_bits)(F.col("v"))
    else:
        sig = signature_expr("v", planes, band_bits)

    def prep(df, ident):
        return (
            df.select(F.col(id_col).alias(ident), _as_double(vec_col).alias("v"))
            .withColumn("norm", _norm("v"))
            .withColumn("sig", sig)
        )

    c = prep(corpus, "neighbor_id").select(
        "neighbor_id", F.col("v").alias("cv"), F.col("norm").alias("cnorm"),
        F.explode("sig").alias("band"),
    )
    q = prep(queries, "query_id").select(
        "query_id", F.col("v").alias("qv"), F.col("norm").alias("qnorm"),
        F.explode("sig").alias("band"),
    )
    cand = (
        c.join(F.broadcast(q), "band")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    cos = F.round(_dot("qv", "cv") / (F.col("qnorm") * F.col("cnorm")), 6)
    w = W.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id"))
    return (
        cand.select("query_id", "neighbor_id", cos.alias("cos"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def signband_topk(
    corpus: DataFrame,
    queries: DataFrame,
    vec_col: str,
    id_col: str,
    k: int = 5,
    band_bits: int = 4,
    dim: int | None = None,
) -> DataFrame:
    """Deterministic ANN top-k: axis-sign-band LSH candidates + exact
    cosine rerank. Bit i of the signature is (v[i] > 0), grouped into
    dim/band_bits bands; a corpus row is a candidate for a query iff they
    agree on at least one whole (band index, band value) pair — the same
    scheme as dedup.embedding_signband_neardup, applied to top-k search.

    Axis signs need no random-plane literals, so candidate generation is
    reproducible in plain SQL: the DuckDB oracle replicates the banding
    bit-for-bit and the driver value-checks the whole pipeline. The
    random-hyperplane variant (lsh_topk) remains the tunable production
    path — it decorrelates bits from the embedding basis (axis signs are
    only as good as the basis is isotropic) and its nbits is independent
    of dim.

    Plan shape = lsh_topk: corpus bands in the scan projection, candidate
    join broadcasts the exploded query side, corpus never shuffles; exact
    rerank on candidates only. Returns (query_id, neighbor_id, cos, rank);
    queries with no band collision simply emit < k rows (no fallback)."""
    if dim is None:  # fallback probe — pass dim to keep the builder lazy
        dim = len(corpus.select(vec_col).first()[0])
    n_bands = dim // band_bits
    bands = []
    for b in range(n_bands):
        val = None
        for j in range(band_bits):
            bit = F.when(F.col("v")[b * band_bits + j] > 0, F.lit(1 << j)).otherwise(F.lit(0))
            val = bit if val is None else val + bit
        bands.append(F.struct(F.lit(b).alias("band"), val.alias("bv")))
    bandarr = F.array(*bands)

    def prep(df, ident):
        return (
            df.select(F.col(id_col).alias(ident), _as_double(vec_col).alias("v"))
            .withColumn("norm", _norm("v"))
            .select(ident, "v", "norm", F.explode(bandarr).alias("bb"))
            .select(ident, "v", "norm",
                    F.col("bb.band").alias("band"), F.col("bb.bv").alias("bv"))
        )

    c = prep(corpus, "neighbor_id").select(
        "neighbor_id", F.col("v").alias("cv"), F.col("norm").alias("cnorm"), "band", "bv"
    )
    q = prep(queries, "query_id").select(
        "query_id", F.col("v").alias("qv"), F.col("norm").alias("qnorm"), "band", "bv"
    )
    cand = (
        c.join(F.broadcast(q), ["band", "bv"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    cos = F.round(_dot("qv", "cv") / (F.col("qnorm") * F.col("cnorm")), 6)
    w = W.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id"))
    return (
        cand.select("query_id", "neighbor_id", cos.alias("cos"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def seeded_signband_topk(
    corpus: DataFrame,
    queries: DataFrame,
    vec_col: str,
    id_col: str,
    k: int = 5,
    n_bands: int = 16,
    band_bits: int = 4,
    seed: int = 3,
    dim: int = 64,
) -> DataFrame:
    """Random-hyperplane sign-LSH top-k whose hyperplanes are the
    md5-seeded Rademacher matrix of dedup.rademacher_signs — the
    DETERMINISTIC random-hyperplane variant: bits are decorrelated from
    the embedding basis like lsh_topk's Gaussian planes (a ±1 projection
    is a random rotation up to scale, Achlioptas '01), but a SQL oracle
    derives the SAME matrix from md5 literals, so the full pipeline —
    signature, banding, candidate join, exact rerank — is value-checkable
    cross-engine (the embedding_neardup replay pattern, applied to
    search). Integer-quantized dots make every sign decision
    order-free/bit-reproducible (dedup.signband_signature).

    Plan shape = signband_topk: corpus bands in the scan projection, the
    exploded query side broadcast, corpus never shuffles; candidates
    rerank exactly. Returns (query_id, neighbor_id, cos, rank)."""
    from dataux_spark.operators.dedup import signband_signature

    csig = signband_signature(corpus, vec_col, id_col, n_bands, band_bits, seed, dim)
    qsig = signband_signature(queries, vec_col, id_col, n_bands, band_bits, seed, dim)
    cand = (
        csig.withColumnRenamed("_id", "neighbor_id")
        .join(F.broadcast(qsig.withColumnRenamed("_id", "query_id")), ["band", "bv"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .dropDuplicates(["query_id", "neighbor_id"])
        .select("query_id", "neighbor_id")
    )
    q = queries.select(
        F.col(id_col).alias("query_id"), _as_double(vec_col).alias("qv")
    ).withColumn("qnorm", _norm("qv"))
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), _as_double(vec_col).alias("cv")
    ).withColumn("cnorm", _norm("cv"))
    return _rerank_topk(cand.join(F.broadcast(q), "query_id").join(c, "neighbor_id"), k)


def topk_recall_vs_exact(exact: DataFrame, approx: DataFrame) -> tuple[int, int]:
    """(n_exact_pairs, n_hit): how many of the exact top-k (query_id,
    neighbor_id) pairs the approximate result also returned — the
    measured-recall primitive the ann recall report entry exposes to the
    external gate (VERDICT r10 item 6). Semi-join on the pair key; both
    inputs are top-k frames (bounded: n_queries·k rows), so the counts
    are scalar aggregates."""
    n_exact = exact.count()
    n_hit = exact.join(
        approx.select("query_id", "neighbor_id"),
        ["query_id", "neighbor_id"],
        "left_semi",
    ).count()
    return n_exact, n_hit


def train_centroids(
    corpus: DataFrame,
    vec_col: str,
    id_col: str,
    n_centroids: int = 16,
    sample_size: int = 2048,
    iters: int = 10,
    seed: int = 42,
) -> np.ndarray:
    """Spherical k-means coarse quantizer, trained driver-side on a
    deterministic sample (first sample_size rows by id — at production
    scale use a seeded TABLESAMPLE; a coarse quantizer only needs a sketch
    of the density, not the full corpus). Returns an L2-normalized
    (n_centroids, dim) matrix. The orderBy(id).limit(n) sample plans as
    TakeOrderedAndProject — per-partition heaps, no global sort."""
    rows = (
        corpus.select(F.col(id_col), _as_double(vec_col).alias("v"))
        .orderBy(id_col)
        .limit(sample_size)
        .collect()
    )
    x = np.asarray([r.v for r in rows], dtype=np.float64)
    x /= np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
    rng = np.random.default_rng(seed)
    cents = x[rng.choice(len(x), size=min(n_centroids, len(x)), replace=False)].copy()
    for _ in range(iters):
        assign = np.argmax(x @ cents.T, axis=1)
        for c in range(len(cents)):
            members = x[assign == c]
            if len(members):  # empty cells keep their previous centroid
                m = members.mean(axis=0)
                cents[c] = m / max(np.linalg.norm(m), 1e-12)
    return cents


def _cell_assign_udf(cents: np.ndarray, nprobe: int):
    """Arrow-batched nearest-centroid assignment: one numpy matmul per
    batch against the broadcast (small) centroid matrix — the only Python
    in the IVF plan, O(batch·k·dim) vectorized."""
    from pyspark.sql.types import ArrayType, IntegerType

    c_t = cents.T.copy()

    @F.pandas_udf(ArrayType(IntegerType()))
    def assign(vs: pd.Series) -> pd.Series:
        if not len(vs):
            return pd.Series([], dtype=object)
        x = np.asarray([np.asarray(v, dtype=np.float64) for v in vs])
        scores = x @ c_t
        if nprobe == 1:
            top = np.argmax(scores, axis=1)[:, None]
        else:
            p = min(nprobe, scores.shape[1])
            part = np.argpartition(-scores, p - 1, axis=1)[:, :p]
            order = np.argsort(-np.take_along_axis(scores, part, axis=1), axis=1)
            top = np.take_along_axis(part, order, axis=1)
        return pd.Series([row.astype("int32").tolist() for row in top])

    return assign


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    vec_col: str,
    id_col: str,
    k: int = 5,
    n_centroids: int = 16,
    nprobe: int = 2,
    sample_size: int = 2048,
    iters: int = 10,
    seed: int = 42,
) -> DataFrame:
    """Approximate cosine top-k via an IVF index: corpus rows live in their
    nearest-centroid cell (one int per row), each query probes its nprobe
    nearest cells, exact rerank within the probed cells.

    Scale: the corpus is assigned in the scan projection (one Arrow-batched
    matmul, no shuffle) and joined cell=cell against the broadcast query
    side — for corpus-scale query sets, shuffle both sides on cell instead
    and the plan stays linear. Recall is tuned by nprobe/n_centroids.
    Returns (query_id, neighbor_id, cos, rank)."""
    cents = train_centroids(
        corpus, vec_col, id_col, n_centroids, sample_size, iters, seed
    )
    c_assign = _cell_assign_udf(cents, 1)
    q_assign = _cell_assign_udf(cents, nprobe)

    c = (
        corpus.select(F.col(id_col).alias("neighbor_id"), _as_double(vec_col).alias("cv"))
        .withColumn("cnorm", _norm("cv"))
        .withColumn("cell", c_assign("cv")[0])
    )
    q = (
        queries.select(F.col(id_col).alias("query_id"), _as_double(vec_col).alias("qv"))
        .withColumn("qnorm", _norm("qv"))
        .withColumn("cell", F.explode(q_assign("qv")))
    )
    cand = c.join(F.broadcast(q), "cell").filter(F.col("neighbor_id") != F.col("query_id"))
    return _rerank_topk(cand, k)


# --------------------------------------------------- persisted IVF index

def build_ivf_index(
    corpus: DataFrame,
    vec_col: str,
    id_col: str,
    index_path: str,
    n_centroids: int = 16,
    sample_size: int = 2048,
    iters: int = 10,
    seed: int = 42,
) -> None:
    """Materialize the IVF index on disk: vectors (+ precomputed norms)
    partitioned by centroid cell, centroids stored alongside. Build once,
    query many — the batch-ANN serving layout.

    Scale: cell is a parquet PARTITION column, so a probe reads only its
    cells' files via partition pruning; the assignment matmul happens once
    at build, never again at query time."""
    cents = train_centroids(corpus, vec_col, id_col, n_centroids, sample_size, iters, seed)
    assign = _cell_assign_udf(cents, 1)
    (
        corpus.select(F.col(id_col).alias("neighbor_id"), _as_double(vec_col).alias("cv"))
        .withColumn("cnorm", _norm("cv"))
        .withColumn("cell", assign("cv")[0])
        .repartition("cell")
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(f"{index_path}/cells")
    )
    spark = corpus.sparkSession
    # a LocalRelation centroid frame: its write runs no Python worker (sqlutil)
    local_frame(
        spark,
        [(int(i), [float(x) for x in cents[i]]) for i in range(len(cents))],
        "cell int, centroid array<double>",
    ).coalesce(1).write.mode("overwrite").parquet(f"{index_path}/centroids")


def ivf_index_topk(
    spark,
    index_path: str,
    queries: DataFrame,
    vec_col: str,
    id_col: str,
    k: int = 5,
    nprobe: int = 2,
) -> DataFrame:
    """Query a persisted IVF index: assign each query its nprobe nearest
    cells (tiny centroid table, driver-side), join cell=cell against the
    index scan, exact rerank inside probed cells.

    The broadcast query side drives Spark's dynamic partition pruning on
    the index's cell partition column — un-probed cells are skipped at the
    FILE level, so query cost scales with nprobe/n_centroids of the index,
    not its total size."""
    cents = np.array(
        [r.centroid for r in spark.read.parquet(f"{index_path}/centroids").orderBy("cell").collect()]
    )
    q_assign = _cell_assign_udf(cents, nprobe)
    q = (
        queries.select(F.col(id_col).alias("query_id"), _as_double(vec_col).alias("qv"))
        .withColumn("qnorm", _norm("qv"))
        .withColumn("cell", F.explode(q_assign("qv")))
    )
    cells = spark.read.parquet(f"{index_path}/cells")
    cand = cells.join(F.broadcast(q), "cell").filter(F.col("neighbor_id") != F.col("query_id"))
    cos = F.round(_dot("qv", "cv") / (F.col("qnorm") * F.col("cnorm")), 6)
    w = W.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id"))
    return (
        cand.select("query_id", "neighbor_id", cos.alias("cos"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def ivf_cells_frame(
    corpus: DataFrame,
    vec_col: str,
    id_col: str,
    centroids: list[tuple[int, list[float]]],
) -> DataFrame:
    """The EXACT (lazy) cell-assignment frame build_ivf_index_fixed
    writes — the dominant build cost of the persisted/incremental IVF
    entries — exposed so bench.py can plan-fingerprint the build phase
    without duplicating its plan logic (VERDICT r10 item 3).
    update_ivf_index assigns new batches with the same projection."""
    return (
        corpus.select(F.col(id_col).alias("neighbor_id"), _as_double(vec_col).alias("_v"))
        .withColumn("_vn", _norm("_v"))
        .withColumn("cell", (-F.array_max(_centroid_structs(centroids))["ncid"]).cast("long"))
        .select("neighbor_id", F.col("_v").alias("cv"), F.col("_vn").alias("cnorm"), "cell")
    )


def build_ivf_index_fixed(
    corpus: DataFrame,
    vec_col: str,
    id_col: str,
    index_path: str,
    centroids: list[tuple[int, list[float]]],
) -> None:
    """Persist an IVF index under an EXPLICIT centroid table — the
    deterministic twin of build_ivf_index, sharing _centroid_structs
    with ivf_fixed_topk/assign_to_centroids so on-disk cell membership
    can never drift from the oracle-checked in-memory variants.
    Assignment is the zero-shuffle literal-centroid JVM projection (max
    cosine, ties to the smaller centroid id); rows land partitioned by
    cell, centroids stored alongside for probe/update time."""
    c = ivf_cells_frame(corpus, vec_col, id_col, centroids)
    c.repartition("cell").write.mode("overwrite").partitionBy("cell").parquet(
        f"{index_path}/cells"
    )
    local_frame(
        corpus.sparkSession,
        [(int(cid), [float(x) for x in vec]) for cid, vec in centroids],
        "cell bigint, centroid array<double>",
    ).coalesce(1).write.mode("overwrite").parquet(f"{index_path}/centroids")


def _stored_centroids(spark, index_path: str) -> list[tuple[int, list[float]]]:
    return [
        (int(r.cell), list(r.centroid))
        for r in spark.read.parquet(f"{index_path}/centroids").orderBy("cell").collect()
    ]


def update_ivf_index(
    new_vectors: DataFrame, vec_col: str, id_col: str, index_path: str
) -> None:
    """Incremental index maintenance — the ingest half of a production
    ANN service: new embeddings are assigned to the EXISTING quantizer
    cells (read from the index, inlined as literals — the quantizer is
    never retrained here, so old rows never move) and APPENDED to their
    cell partitions. Existing part-files are untouched: the write lands
    only new files under the affected cell= directories, which is what
    keeps maintenance O(batch), independent of index size.

    Append-only contract (the standard ANN ingest path): ids are assumed
    new. Replacing an id is a delete+append at the lakehouse layer, not
    an index operation. Re-train + full rebuild (build_ivf_index*) when
    drift degrades the quantizer — the PSI monitor over cell populations
    is the signal."""
    cents = _stored_centroids(new_vectors.sparkSession, index_path)
    c = (
        new_vectors.select(
            F.col(id_col).alias("neighbor_id"), _as_double(vec_col).alias("_v")
        )
        .withColumn("_vn", _norm("_v"))
        .withColumn("cell", (-F.array_max(_centroid_structs(cents))["ncid"]).cast("long"))
        .select("neighbor_id", F.col("_v").alias("cv"), F.col("_vn").alias("cnorm"), "cell")
    )
    c.repartition("cell").write.mode("append").partitionBy("cell").parquet(
        f"{index_path}/cells"
    )


def ivf_index_fixed_topk(
    spark,
    index_path: str,
    queries: DataFrame,
    vec_col: str,
    id_col: str,
    k: int = 5,
    nprobe: int = 2,
) -> DataFrame:
    """Probe a fixed-centroid persisted index (built by
    build_ivf_index_fixed, possibly grown by update_ivf_index): queries
    take their nprobe best cells via the same literal-centroid JVM
    scorer, the cell=cell join drives partition pruning on the index's
    cell directory column (un-probed cells are skipped at the file
    level), exact rerank within. Deterministic end to end, so
    incremental build+update must equal the one-shot in-memory
    ivf_fixed_topk value-for-value — the contract tests and the driver
    oracle both pin."""
    cents = _stored_centroids(spark, index_path)
    structs = _centroid_structs(cents)
    q = (
        queries.select(F.col(id_col).alias("query_id"), _as_double(vec_col).alias("_v"))
        .withColumn("_vn", _norm("_v"))
        .withColumn("__structs", structs)
        .withColumn(
            "cell",
            F.explode(
                F.expr(
                    f"transform(slice(reverse(array_sort(__structs)), 1, {nprobe}), "
                    "s -> CAST(-s.ncid AS BIGINT))"
                )
            ),
        )
        .select("query_id", F.col("_v").alias("qv"), F.col("_vn").alias("qnorm"), "cell")
    )
    cells = spark.read.parquet(f"{index_path}/cells").withColumn(
        "cell", F.col("cell").cast("long")
    )
    cand = cells.join(F.broadcast(q), "cell").filter(
        F.col("neighbor_id") != F.col("query_id")
    )
    return _rerank_topk(cand, k)


# ------------------------------------------------------------- clustering

def _centroid_structs(centroids: list[tuple[int, list[float]]]):
    """Literal-centroid (cos, -cid) struct array scored against the `_v`
    double-vector column with its precomputed norm in `_vn` — the shared
    scoring core of assign_to_centroids, kmeans_clusters, and the
    fixed-cell IVF twin. ONE place owns the zero-norm guard and the
    smallest-id tie-break (array_max picks max cos, then max -cid = min
    cid), so the oracle-checked twins cannot drift from the production
    variants."""
    # ONE parsed expr (r14, the _banded_rows precedent): the per-centroid
    # Column composition issued ~6 py4j round-trips per centroid per
    # call; the SQL spelling folds to the identical physical plan (the
    # CAST(...AS DOUBLE)/negated-int literals constant-fold to the same
    # double/int literals F.lit produced).
    def cand(cid: int, vec) -> str:
        lit_vec = f"array({', '.join(f'cast({float(x)!r} as double)' for x in vec)})"
        cn = float(np.sqrt(np.sum(np.asarray(vec, dtype=np.float64) ** 2))) or 1e-12
        return (
            f"struct((aggregate(zip_with(_v, {lit_vec}, (x, y) -> x * y), "
            f"cast(0 as double), (acc, x) -> acc + x) "
            f"/ (_vn * cast({cn!r} as double))) AS cos, {-int(cid)} AS ncid)"
        )

    return F.expr(
        "array(" + ", ".join(cand(cid, vec) for cid, vec in centroids) + ")"
    )


def _assign_cells_join(
    side: DataFrame,
    centroids: list[tuple[int, list[float]]],
    n_cells: int,
) -> DataFrame:
    """Broadcast-join cell assignment — the LARGE-quantizer twin of the
    literal projection. _centroid_structs inlines every centroid as plan
    constants, which is the zero-shuffle optimum up to ~10^2-10^3 cells
    but breaks down beyond that (plan size and codegen grow with
    cells x dim); at sqrt(n) sizing a billion-vector corpus needs ~3e4
    cells, so this path scores against a BROADCAST centroid table
    instead and ranks per row. Bit-identical to the literal path by
    construction: the dot is the same zip_with/aggregate expression over
    the same doubles, the centroid norm is precomputed driver-side with
    the same numpy arithmetic _centroid_structs uses, and the tie-break
    is the same (max cos, then min cid). Input needs (_v, _vn) plus a
    unique `_arid` row key; returns the input columns + `cell` with the
    top n_cells cells per row.

    Third assignment path in the family, each with a distinct contract:
    _centroid_structs (literal, zero-shuffle, <= ~10^3 cells, exact
    tie-break), _cell_assign_udf (Arrow numpy matmul, fastest at 10^5+
    cells, raw-dot scores — the TRAINED-quantizer path where centroids
    are unit-norm), and this one (JVM-only, any cell count, bit-identical
    to the literal path — the deterministic/oracle-replayable choice)."""
    rows = [
        (
            int(cid),
            [float(x) for x in vec],
            float(np.sqrt(np.sum(np.asarray(vec, dtype=np.float64) ** 2))) or 1e-12,
        )
        for cid, vec in centroids
    ]
    cdf = side.sparkSession.createDataFrame(
        rows, "cid long, cvec array<double>, cn double"
    )
    dot = F.expr(
        "aggregate(zip_with(_v, cvec, (x, y) -> x * y), "
        "cast(0 as double), (acc, x) -> acc + x)"
    )
    w = W.partitionBy("_arid").orderBy(
        (dot / (F.col("_vn") * F.col("cn"))).desc(), F.col("cid").asc()
    )
    return (
        side.join(F.broadcast(cdf))
        .withColumn("_crank", F.row_number().over(w))
        .filter(F.col("_crank") <= n_cells)
        .withColumn("cell", F.col("cid"))
        .drop("cid", "cvec", "cn", "_crank")
    )


def _rerank_topk(cand: DataFrame, k: int) -> DataFrame:
    """Exact rerank tail shared by every top-k variant: rounded double
    cosine from (qv, qnorm) x (cv, cnorm), per-query window, ties to the
    smaller neighbor id. Returns (query_id, neighbor_id, cos, rank)."""
    cos = F.round(_dot("qv", "cv") / (F.col("qnorm") * F.col("cnorm")), 6)
    w = W.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id"))
    return (
        cand.select("query_id", "neighbor_id", cos.alias("cos"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def assign_to_centroids(
    corpus: DataFrame,
    vec_col: str,
    id_col: str,
    centroids: list[tuple[int, list[float]]],
) -> DataFrame:
    """Nearest-centroid assignment by cosine — the IVF probe primitive
    exposed standalone, and the assignment half of k-means clustering.

    `centroids` is an explicit (cid, vector) list — coarse quantizers are
    tiny by construction (tens to thousands of rows), so they ride into
    the plan as literal arrays: the assignment is pure scan-projection
    JVM expressions (zip_with dot products in double, array_max over
    (cos, -cid) structs for a smallest-id tie-break). NO join and NO
    shuffle — at 100 TB the corpus is touched exactly once, embarrassingly
    parallel, and whole-stage codegen applies. For centroid sets too wide
    to inline (ANN with 10^5 cells) use _cell_assign_udf's Arrow matmul
    path instead. Returns (id, cluster, cos)."""
    scored = corpus.select(
        F.col(id_col),
        _as_double(vec_col).alias("_v"),
    ).withColumn("_vn", _norm("_v"))
    best = F.array_max(_centroid_structs(centroids))
    return scored.withColumn("_b", best).select(
        F.col(id_col),
        (-F.col("_b.ncid")).cast("long").alias("cluster"),
        F.round(F.col("_b.cos"), 6).alias("cos"),
    )


def kmeans_clusters(
    corpus: DataFrame,
    vec_col: str,
    id_col: str,
    k: int = 8,
    sample_size: int = 2048,
    iters: int = 10,
    seed: int = 42,
) -> DataFrame:
    """Spherical k-means document clustering: centroids trained on a
    deterministic sample (train_centroids — the IVF coarse quantizer),
    then every doc assigned to its nearest centroid via the zero-shuffle
    literal-centroid projection above. The standard corpus-analysis /
    topic-bucketing pass of a training-data pipeline; also the input to
    cluster-balanced sampling. Returns (id, cluster, cos)."""
    cents = train_centroids(corpus, vec_col, id_col, k, sample_size, iters, seed)
    return assign_to_centroids(
        corpus, vec_col, id_col, [(i, cents[i].tolist()) for i in range(len(cents))]
    )


def cluster_profile(assignments: DataFrame) -> DataFrame:
    """Per-cluster roll-up of an assignment frame: size and cohesion
    (mean cosine to centroid). One map-side-combined shuffle on the
    (small-k) cluster key. Returns (cluster, n_docs, mean_cos)."""
    return (
        assignments.groupBy("cluster")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.avg("cos"), 6).alias("mean_cos"),
        )
        .orderBy("cluster")
    )


def ivf_fixed_topk(
    corpus: DataFrame,
    queries: DataFrame,
    vec_col: str,
    id_col: str,
    centroids: list[tuple[int, list[float]]],
    k: int = 5,
    nprobe: int = 2,
) -> DataFrame:
    """IVF probe against an EXPLICIT centroid table — the deterministic,
    oracle-checkable twin of ivf_topk (whose k-means-trained quantizer
    keeps its recall tests): corpus rows live in their max-cosine cell,
    each query probes its nprobe best cells, exact rerank within.

    Same plan shape as production IVF, with the centroid table inlined as
    literals (assign_to_centroids' zero-shuffle projection): corpus
    assignment costs one scan pass, the query side broadcasts, rerank is
    a per-query window. Ties break to the smaller centroid/neighbor id so
    the result is engine-independent. Returns (query_id, neighbor_id,
    cos, rank)."""
    return knn_join(
        queries, corpus, vec_col, id_col, centroids, k=k, nprobe=nprobe,
        broadcast_left=True,
    )


def knn_join(
    left: DataFrame,
    right: DataFrame,
    vec_col: str,
    id_col: str,
    centroids: list[tuple[int, list[float]]],
    k: int = 5,
    nprobe: int = 2,
    broadcast_left: bool = False,
    literal_max: int = 512,
) -> DataFrame:
    """Cell-blocked k-NN JOIN: top-k cosine neighbors in `right` for EVERY
    row of `left`, where BOTH sides may be corpus-scale.

    The missing scale pattern next to the broadcast-query variants
    (ivf_fixed_topk broadcasts its bounded query set; hard_negative_mining
    broadcasts its anchors): here neither side broadcasts. Both sides are
    cell-assigned by the shared zero-shuffle literal-centroid projection
    (_centroid_structs — pure scan-projection JVM expressions), the left
    side explodes to its nprobe best cells, and candidates come from a
    plain shuffle equi-join ON THE CELL KEY — per-cell work is
    |left∩cell|·|right∩cell|, bounded by the quantizer's cell granularity
    exactly as in any IVF index, never |left|·|right|. The caller OWNS
    that bound: cell count must grow with the corpus (the standard IVF
    sizing is ~sqrt(n) cells, giving ~n^1.5 total candidate work) — a
    fixed centroid list makes mean cell size n/cells and the candidate
    stage quadratic, the fixed-cardinality-block trap SCALE.md's round-8
    entry documents for linkage. Rerank is one per-left-id window. This is the all-pairs-top-k primitive behind
    near-dup graphs, diversity analysis, and corpus self-retrieval, where
    "queries" = the whole corpus and a broadcast would OOM every executor.

    With explicit centroids the whole pipeline is deterministic —
    assignment, probe, rerank all replayed by the driver oracle. AQE may
    still choose a broadcast at toy scale; nothing forces one (the hint
    audit keeps it that way). Quantizers up to `literal_max` cells score
    through the zero-shuffle literal projection; larger ones (sqrt(n)
    sizing on a big corpus) switch to the broadcast-join assignment
    (_assign_cells_join — bit-identical by construction, plan size
    bounded regardless of cell count). Returns
    (query_id, neighbor_id, cos, rank).
    """
    rsel = right.select(
        F.col(id_col).alias("neighbor_id"), _as_double(vec_col).alias("_v")
    ).withColumn("_vn", _norm("_v"))
    lsel = left.select(
        F.col(id_col).alias("query_id"), _as_double(vec_col).alias("_v")
    ).withColumn("_vn", _norm("_v"))
    if len(centroids) > literal_max:
        r = _assign_cells_join(
            rsel.withColumn("_arid", F.col("neighbor_id")), centroids, 1
        ).select(
            "neighbor_id", F.col("_v").alias("cv"),
            F.col("_vn").alias("cnorm"), "cell",
        )
        lf = _assign_cells_join(
            lsel.withColumn("_arid", F.col("query_id")), centroids, nprobe
        ).select(
            "query_id", F.col("_v").alias("qv"),
            F.col("_vn").alias("qnorm"), "cell",
        )
    else:
        structs = _centroid_structs(centroids)  # shared scorer: no drift vs assign_to_centroids
        r = (
            rsel
            .withColumn("cell", (-F.array_max(structs)["ncid"]).cast("long"))
            .select("neighbor_id", F.col("_v").alias("cv"), F.col("_vn").alias("cnorm"), "cell")
        )
        lf = (
            lsel
            .withColumn("__structs", structs)
            .withColumn(
                "cell",
                F.explode(
                    F.expr(
                        f"transform(slice(reverse(array_sort(__structs)), 1, {nprobe}), "
                        "s -> CAST(-s.ncid AS BIGINT))"
                    )
                ),
            )
            .select("query_id", F.col("_v").alias("qv"), F.col("_vn").alias("qnorm"), "cell")
        )
    cand = r.join(F.broadcast(lf) if broadcast_left else lf, "cell").filter(
        F.col("neighbor_id") != F.col("query_id")
    )
    return _rerank_topk(cand, k)


def hard_negative_mining(
    corpus: DataFrame,
    anchors: DataFrame,
    vec_col: str,
    id_col: str,
    label_col: str,
    k: int = 5,
    max_cos: float | None = None,
) -> DataFrame:
    """Contrastive hard-negative mining: for each anchor, the k corpus
    items MOST similar by cosine yet carrying a DIFFERENT label — the
    standard negative-selection pass for training embedding/retrieval
    models (dense retrievers mine BM25/ANN neighbors that aren't
    positives; same shape here over the embedding column). `max_cos`
    optionally drops near-duplicate "false negatives" (items so similar
    they are probably mislabeled positives — the margin trick).

    Plan: broadcast the anchor set (bounded by construction), one pass
    over the corpus with the label inequality applied BEFORE the top-k
    window, per-anchor row_number on (rounded cos desc, id). Same
    scale shape as brute_force_topk: the corpus never shuffles except
    for the per-anchor window on the (slim) scored frame; for web-scale
    anchor sets swap candidate generation to signband_topk and keep this
    as the rerank. Returns (query_id, neighbor_id, neighbor_label, cos,
    rank)."""
    a = anchors.select(
        F.col(id_col).alias("query_id"),
        F.col(label_col).alias("qlabel"),
        _as_double(vec_col).alias("qv"),
    ).withColumn("qnorm", _norm("qv"))
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(label_col).alias("neighbor_label"),
        _as_double(vec_col).alias("cv"),
    ).withColumn("cnorm", _norm("cv"))
    joined = (
        c.crossJoin(F.broadcast(a))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .filter(~F.col("neighbor_label").eqNullSafe(F.col("qlabel")))
    )
    cos = F.round(_dot("qv", "cv") / (F.col("qnorm") * F.col("cnorm")), 6)
    scored = joined.select("query_id", "neighbor_id", "neighbor_label", cos.alias("cos"))
    if max_cos is not None:
        scored = scored.filter(F.col("cos") <= max_cos)
    w = W.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


# --------------------------------------------------------------------------
# int8 quantization — the memory-bound ANN path


def quantize_vectors(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    id_alias: str,
    qv_col: str = "qv",
    scale_col: str = "qscale",
) -> DataFrame:
    """Symmetric per-vector int8 quantization: scale = 127 / max|x|,
    q[i] = floor(x[i]·scale + 0.5) — spelled as an explicit half-up
    floor, NOT round(), so the DuckDB oracle can reproduce the identical
    integer lattice (library round() half-even/half-away variance would
    otherwise flip lattice points). Values land in [-127, 127] and are
    cast tinyint: 4× narrower than float32 in the shuffle/cache byte
    stream, which is the resource that prices ANN at 100 TB — the
    standard faiss SQ8 trade (~<1% cosine recall loss at 8 bits).
    Zero vectors quantize to zeros (scale guard 1e-12).

    Returns (id_alias, qv tinyint[], qscale double) — qscale carried for
    callers that need the dequantized dot; cosine cancels it."""
    x = F.expr(f"transform({vec_col}, x -> cast(x as double))")
    maxabs = F.expr(
        f"aggregate(transform({vec_col}, x -> abs(cast(x as double))), "
        f"cast(0 as double), (acc, x) -> greatest(acc, x))"
    )
    return (
        df.select(F.col(id_col).alias(id_alias), x.alias("_x"),
                  F.greatest(maxabs, F.lit(1e-12)).alias("_m"))
        .select(
            id_alias,
            F.expr(
                "transform(_x, x -> cast(floor(x * (127.0 / _m) + 0.5) as tinyint))"
            ).alias(qv_col),
            (F.lit(127.0) / F.col("_m")).alias(scale_col),
        )
    )


#: Two-level impl="auto" gate for quantized_topk (both measured, r14).
#: Level 1, free (Catalyst sizeInBytes on the corpus plan): below this
#: the corpus is too small for the kernel's fixed cost (query collect +
#: Python workers ≈ 0.3-0.5 s) to ever amortize — bench-scale corpora
#: stay on the JVM fold with an UNCHANGED plan. Level 2, exact (len of
#: the query collect, only paid once the corpus is big): the fold costs
#: ~50 ns per array element PER PAIR (interpreted HOF), the kernel's
#: dominant cost is the one-time JVM→Arrow conversion of the corpus list
#: column at ~220 ns per element (the matmul itself is ~1% of that), so
#: the kernel wins iff nq · 50 ≳ 220, i.e. ~nq ≥ 8 for ≥2× — and the
#: ratio is dimension-independent because both sides scale with dim.
#: Byte bar calibrated to the measured crossover (~50-100k 64-dim
#: vectors ≈ 5-10 MB of parquet; the sf0.1 bench corpus is 0.8 MB, a
#: 10× margin below it; the 250k-vector synthetic where the kernel
#: measures 1.6× is 23 MB).
_QUANT_ARROW_MIN_BYTES = 8 << 20
_QUANT_ARROW_MIN_QUERIES = 8


def _plan_size_bytes(df: DataFrame) -> int:
    """Catalyst's own size estimate for a frame (driver-side, no job) —
    the same statistic the planner's broadcast decisions read."""
    try:
        return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:  # noqa: BLE001 — estimate only ever gates perf
        return -1


def quantized_topk(
    corpus: DataFrame,
    queries: DataFrame,
    vec_col: str,
    id_col: str,
    k: int = 5,
    impl: str = "auto",
) -> DataFrame:
    """Cosine top-k over int8-quantized vectors — brute_force_topk's
    memory-bound twin: both sides quantize (scan projection), the ≤n-row
    query side broadcasts, and the integer dot runs over tinyint arrays
    (widened per-element, never materialized as doubles). Per-vector
    scales cancel in the cosine, so the score is
    dot(q_c, q_q) / (|q_c|·|q_q|) on the integer lattice. Same
    (query_id, neighbor_id, cos, rank) contract as the exact baseline;
    recall loss is the quantization error only (asserted ≥0.9 overlap
    vs brute force in tests).

    impl: 'jvm' = the expression fold (one interpreted zip_with/aggregate
    per candidate pair); 'arrow' = the corpus-side mapInArrow kernel
    (each corpus vector crosses Arrow ONCE, all dots as one exact float64
    BLAS matmul, per-batch margin top-k so the window sees candidates,
    not pairs); 'auto' = 'arrow' iff the corpus plan's Catalyst size
    estimate exceeds _QUANT_ARROW_MIN_BYTES. Both paths are bit-identical
    by construction (r14 tests pin it): integer products and partial sums
    are exact in double below 2^53, norms/division are the same IEEE
    float64 ops, and round+rank stay in the JVM either way."""
    # Norms hoisted into the per-VECTOR projections (r13, the
    # brute_force_topk shape): the old spelling folded |q| and |c| inside
    # the post-join projection, re-running two 64-element interpreted
    # folds per candidate PAIR instead of once per vector — measured
    # ~8% off the sf0.1 wall with bit-identical output (the integer
    # norm² accumulates in double exactly either way).
    q = quantize_vectors(queries, vec_col, id_col, "query_id", "qv_q").withColumn(
        "_qn", F.sqrt(F.expr(
            "aggregate(qv_q, cast(0 as double), (acc, x) -> acc + cast(x as double) * x)"))
    )
    c = quantize_vectors(corpus, vec_col, id_col, "neighbor_id", "qv_c").withColumn(
        "_cn", F.sqrt(F.expr(
            "aggregate(qv_c, cast(0 as double), (acc, x) -> acc + cast(x as double) * x)"))
    )
    q_rows = None
    if impl == "auto":
        impl = "jvm"
        if _plan_size_bytes(corpus) >= _QUANT_ARROW_MIN_BYTES:
            # the corpus is big enough that one tiny query-collect job is
            # noise; its exact count decides (see the gate constants)
            q_rows = q.select("query_id", "qv_q", "_qn").collect()
            if len(q_rows) >= _QUANT_ARROW_MIN_QUERIES:
                impl = "arrow"
    if impl == "arrow":
        scored = _quantized_dots_arrow(c, q, k, q_rows)
    else:
        scored = (
            c.join(F.broadcast(q), F.col("neighbor_id") != F.col("query_id"))
            .select(
                "query_id", "neighbor_id",
                (
                    F.expr(
                        "aggregate(zip_with(qv_c, qv_q, (x, y) -> cast(x as double) * y), "
                        "cast(0 as double), (acc, x) -> acc + x)")
                    / (F.greatest(F.col("_cn"), F.lit(1e-12))
                       * F.greatest(F.col("_qn"), F.lit(1e-12)))
                ).alias("cos"),
            )
        )
    j = scored.select("query_id", "neighbor_id", F.round("cos", 6).alias("cos"))
    w = W.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id"))
    return j.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def _quantized_dots_arrow(
    c: DataFrame, q: DataFrame, k: int, q_rows: list | None = None
) -> DataFrame:
    """Corpus-side Arrow kernel for quantized_topk (guide §4): the ≤n-row
    quantized query side is collected into the task closure, each corpus
    vector crosses the Python boundary exactly once as an Arrow int8
    batch, and every (corpus row × query) integer dot is one float64 BLAS
    matmul — replacing the per-PAIR interpreted zip_with/aggregate fold,
    whose cost scales with candidate pairs.

    Exactness vs the fold: products and partial sums of int8 lattices are
    ≤ dim·127² ≪ 2^53, so the JVM's double accumulation is exact and equals the
    float64 matmul in any summation order; |c|,|q| come from the SAME JVM projections
    both paths share; cosine = dot / (max(|c|,1e-12)·max(|q|,1e-12)) is
    the same two IEEE float64 ops. NULL semantics reproduced: a NULL
    element makes the JVM norm NULL (→ cos NULL), a NULL vector or a
    dim-mismatched zip makes the dot NULL (→ cos NULL); the kernel emits
    cos NULL exactly when (vector NULL or |c| NULL or |q| NULL or
    len(c) ≠ len(q)).

    Output is a CANDIDATE SUPERSET, not all pairs: per Arrow batch and
    query, valid rows with raw cos ≥ (k-th best raw cos − 3e-6) plus the
    k smallest-id NULL-cos rows. Final round(·,6) + row_number run in the
    JVM on this superset, so the window shuffles O(batches·queries·k),
    never O(pairs). Margin proof: rounding moves a score by ≤ 5e-7+ulp,
    so a row beaten by ≥k rounded scores is beaten by ≥k raw scores more
    than 1.2e-6 above it; any row NOT kept has ≥k batch-mates above the
    3e-6 margin and can never enter the global top-k (rank ties only
    matter between equal rounded scores, which sit inside the margin).
    Degenerate plateaus (≥k identical raw scores, e.g. all-zero vectors)
    keep the whole plateau — a perf, never a correctness, effect."""
    import pyarrow as pa

    from pyspark.sql.pandas.types import to_arrow_type

    if q_rows is None:
        q_rows = q.select("query_id", "qv_q", "_qn").collect()
    q_set = [
        (
            r.query_id,
            None if r.qv_q is None or any(v is None for v in r.qv_q)
            else np.asarray(r.qv_q, dtype=np.float64),
            r._qn,
        )
        for r in q_rows
    ]
    qid_type = to_arrow_type(q.schema["query_id"].dataType)
    nid_field = c.schema["neighbor_id"]
    out_schema = pa.schema(
        [
            pa.field("query_id", qid_type),
            pa.field("neighbor_id", to_arrow_type(nid_field.dataType)),
            pa.field("cos", pa.float64()),
        ]
    )

    def kernel(batches):
        for b in batches:
            ids = b.column(0)
            vecs = b.column(1)
            cn = b.column(2)
            n = b.num_rows
            if n == 0:
                continue
            # NULL ids force the object path (to_numpy would coerce a
            # nullable int column to float64/NaN); a NULL-id corpus row
            # joins nothing on the JVM side (the != condition is NULL),
            # so it is excluded from every emission here too.
            if ids.null_count == 0:
                try:
                    id_arr = ids.to_numpy(zero_copy_only=False)
                except Exception:  # noqa: BLE001 — non-numeric id types
                    id_arr = np.asarray(ids.to_pylist(), dtype=object)
                id_ok = np.ones(n, dtype=bool)
            else:
                id_arr = np.asarray(ids.to_pylist(), dtype=object)
                id_ok = np.array([x is not None for x in id_arr])
            cn_arr = cn.to_numpy(zero_copy_only=False)  # NULL -> NaN
            # Vectorized fast path (the whole point of the kernel): no
            # NULL vectors/elements and one uniform length, so the Arrow
            # list column IS its values buffer reshaped — zero Python
            # objects cross per element (to_pylist here measured 4 s per
            # 250k×64 batch set, ~30× the matmul). float64 is EXACT for
            # these dots: every product |x·y| ≤ 127² and every partial
            # sum stays an integer below 2^53, so any BLAS summation
            # order yields the identical double the JVM fold computes.
            offs = vecs.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
            lens = np.diff(offs)
            by_len: dict[int, tuple[np.ndarray, np.ndarray]] = {}
            if (
                vecs.null_count == 0
                and vecs.values.null_count == 0
                and lens.min() == lens.max()
            ):
                length = int(lens[0])
                vals = vecs.values.to_numpy(zero_copy_only=False)
                full = vals[offs[0]: offs[-1]].reshape(n, length).astype(np.float64)
                idx = np.nonzero(~np.isnan(cn_arr))[0]
                by_len[length] = (idx, full[idx])
            else:
                # general path: NULL/ragged rows get cos NULL, exactly as
                # the JVM fold (a NULL element already NULLs the norm)
                vec_list = vecs.to_pylist()
                vlens = np.array(
                    [len(v) if v is not None and all(x is not None for x in v)
                     else -1 for v in vec_list]
                )
                row_ok = (vlens >= 0) & ~np.isnan(cn_arr)
                for length in np.unique(vlens[row_ok]):
                    idx = np.nonzero(row_ok & (vlens == length))[0]
                    mat = np.asarray(
                        [vec_list[i] for i in idx], dtype=np.float64
                    ).reshape(len(idx), int(length))
                    by_len[int(length)] = (idx, mat)
            out_qid, out_nid, out_cos = [], [], []
            for qid, qv, qn in q_set:
                if qid is None:
                    # the JVM join's neighbor_id != NULL is NULL — a
                    # NULL-id query contributes no rows there either
                    continue
                not_self = (id_arr != qid) & id_ok
                cos = np.full(n, np.nan)
                valid = np.zeros(n, dtype=bool)
                if qv is not None and qn is not None and len(qv) in by_len:
                    idx, mat = by_len[len(qv)]
                    dots = mat @ qv
                    denom = np.maximum(cn_arr[idx], 1e-12) * max(qn, 1e-12)
                    cos[idx] = dots / denom
                    valid[idx] = True
                valid &= not_self
                vi = np.nonzero(valid)[0]
                if len(vi):
                    if len(vi) > k:
                        kth = np.partition(cos[vi], len(vi) - k)[len(vi) - k]
                        keep = vi[cos[vi] >= kth - 3e-6]
                    else:
                        keep = vi
                    out_qid.extend([qid] * len(keep))
                    out_nid.extend(id_arr[keep])
                    out_cos.extend(cos[keep])
                ni = np.nonzero(~valid & not_self)[0]
                if len(ni):
                    null_keep = ni[np.argsort(id_arr[ni])[:k]] if len(ni) > k else ni
                    out_qid.extend([qid] * len(null_keep))
                    out_nid.extend(id_arr[null_keep])
                    out_cos.extend([None] * len(null_keep))
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(out_qid, type=qid_type),
                    pa.array(list(out_nid), type=out_schema.field(1).type),
                    pa.array(
                        [None if x is None or (isinstance(x, float) and np.isnan(x))
                         else float(x) for x in out_cos],
                        type=pa.float64(),
                    ),
                ],
                schema=out_schema,
            )

    nid_sql = nid_field.dataType.simpleString()
    qid_sql = q.schema["query_id"].dataType.simpleString()
    return c.select("neighbor_id", "qv_c", "_cn").mapInArrow(
        kernel, f"query_id {qid_sql}, neighbor_id {nid_sql}, cos double"
    )


# --------------------------------------------------------------------------
# product quantization — the code-compressed ANN path (faiss PQ/ADC shape)


def pq_codebooks_from_seeds(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    seed_ids: list[int],
    n_subspaces: int,
) -> list[list[list[float]]]:
    """Derive a PQ codebook from SEED ROWS of the corpus itself:
    codebook[j][c] = subspace-j slice of the vector whose id is
    seed_ids[c]. k-means-trained codebooks give better distortion but
    are nondeterministic; seed-derived ones make the whole
    encode→ADC-score pipeline exactly reproducible by any engine that
    can read the same table (the ivf_fixed_topk philosophy, pushed down
    to the codebook itself). The collect is bounded by len(seed_ids) —
    codebook-sized, like the literal centroid sets.

    Returns [n_subspaces][n_codes][sub_dim] doubles."""
    rows = (
        df.filter(F.col(id_col).isin([int(s) for s in seed_ids]))
        .select(F.col(id_col).alias("_id"), _as_double(vec_col).alias("_v"))
        .collect()
    )
    by_id = {r._id: list(r._v) for r in rows}
    missing = [s for s in seed_ids if s not in by_id]
    if missing:
        raise ValueError(f"seed ids not found in corpus: {missing}")
    dim = len(by_id[seed_ids[0]])
    if dim % n_subspaces:
        raise ValueError(f"dim {dim} not divisible by {n_subspaces} subspaces")
    d = dim // n_subspaces
    return [
        [by_id[s][j * d : (j + 1) * d] for s in seed_ids]
        for j in range(n_subspaces)
    ]


def _lit_vec(vals: list[float]) -> str:
    return "array(" + ", ".join(f"cast({float(x)!r} as double)" for x in vals) + ")"


def pq_encode(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    id_alias: str,
    codebooks: list[list[list[float]]],
    code_col: str = "pq_codes",
) -> DataFrame:
    """PQ encoding as a pure scan projection: each vector becomes
    n_subspaces small int codes — the code of the nearest codebook
    entry (squared L2, rounded 6dp, ties to the smaller code) per
    subspace slice. Zero shuffles, zero UDFs: per subspace the argmin is
    the array_max-of-(−dist, −code)-struct idiom shared with the
    centroid scorers. At 100 TB the point is the byte stream: m codes
    replace dim floats (64-d float32 → 4 codes is a 64× cache/shuffle
    compression), which is what makes corpus-side ANN state resident at
    scale. Returns (id_alias, pq_codes array<int>)."""
    d = len(codebooks[0][0])
    code_exprs = []
    for j, cb in enumerate(codebooks):
        lo = j * d + 1
        cands = ", ".join(
            "named_struct('nd', -round(aggregate(zip_with("
            f"slice(_x, {lo}, {d}), {_lit_vec(vec)}, "
            "(x, y) -> (x - y) * (x - y)), cast(0 as double), "
            f"(acc, x) -> acc + x), 6), 'nc', {-c})"
            for c, vec in enumerate(cb)
        )
        code_exprs.append(f"CAST(-array_max(array({cands})).nc AS INT)")
    return df.select(
        F.col(id_col).alias(id_alias),
        _as_double(vec_col).alias("_x"),
    ).select(
        id_alias,
        F.expr("array(" + ", ".join(code_exprs) + ")").alias(code_col),
    )


def pq_adc_topk(
    corpus: DataFrame,
    queries: DataFrame,
    vec_col: str,
    id_col: str,
    codebooks: list[list[list[float]]],
    k: int = 5,
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over PQ codes: the corpus is
    scored through its codes only — score(q, x) ≈ Σ_j q_subj ·
    codebook[j][code_j(x)] — while queries stay full-precision. Each
    query precomputes its m×n_codes lookup table of partial dots in ONE
    projection (JVM higher-order functions), the ≤n-query LUT frame
    broadcasts, and scoring a corpus row is m array lookups + adds in
    codegen — no float vectors move for the corpus at all, which is the
    entire PQ bargain at 100 TB. Deterministic given the codebook, so
    the whole approximate pipeline is oracle-checkable end to end.
    Returns (query_id, neighbor_id, adc_score, rank)."""
    m = len(codebooks)
    d = len(codebooks[0][0])
    lut_rows = []
    for j, cb in enumerate(codebooks):
        lo = j * d + 1
        dots = ", ".join(
            f"aggregate(zip_with(slice(_x, {lo}, {d}), {_lit_vec(vec)}, "
            "(x, y) -> x * y), cast(0 as double), (acc, x) -> acc + x)"
            for vec in cb
        )
        lut_rows.append(f"array({dots})")
    q = queries.select(
        F.col(id_col).alias("query_id"), _as_double(vec_col).alias("_x")
    ).select(
        "query_id",
        F.expr("array(" + ", ".join(lut_rows) + ")").alias("_lut"),
    )
    c = pq_encode(corpus, vec_col, id_col, "neighbor_id", codebooks)
    scored = (
        c.join(F.broadcast(q), F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                F.expr(
                    "aggregate(zip_with(pq_codes, _lut, "
                    "(code, row) -> element_at(row, code + 1)), "
                    "cast(0 as double), (acc, x) -> acc + x)"
                ),
                6,
            ).alias("adc_score"),
        )
    )
    w = W.partitionBy("query_id").orderBy(
        F.col("adc_score").desc(), F.col("neighbor_id")
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


# ------------------------------------------------------ random projection

def rademacher_matrix(in_dim: int, out_dim: int, seed: int = 42) -> list[list[float]]:
    """Deterministic ±1 projection matrix from md5 bits — the
    "database-friendly" random projection of Achlioptas (PODS 2001):
    Rademacher entries satisfy the Johnson-Lindenstrauss lemma with the
    same distortion bounds as Gaussians, and an md5-derived matrix is
    engine-independent (pure Python at plan-build time, no RNG state), so
    the projection is exactly replayable by any other engine handed the
    same seed. Rows are output dims: matrix[j][i] multiplies input dim i."""
    import hashlib

    return [
        [
            1.0 if int(hashlib.md5(f"rp:{seed}:{j}:{i}".encode()).hexdigest()[0], 16) % 2 == 0
            else -1.0
            for i in range(in_dim)
        ]
        for j in range(out_dim)
    ]


def random_projection(
    corpus: DataFrame,
    vec_col: str,
    id_col: str,
    in_dim: int,
    out_dim: int = 16,
    seed: int = 42,
) -> DataFrame:
    """Johnson-Lindenstrauss dimensionality reduction: project each
    embedding onto `out_dim` seeded Rademacher directions, scaled by
    1/sqrt(out_dim) so expected squared norms are preserved.

    The 100 TB lever: ANN candidate generation (cells, bands, brute
    rerank) costs O(dim) per comparison — shrinking dim cuts every
    similarity stage's CPU and narrows shuffles, while JL bounds the
    pairwise-distance distortion. The matrix is tiny (out_dim×in_dim) and
    rides into the plan as literals: the projection is a zero-shuffle,
    zero-join scan projection in whole-stage codegen, exactly like the
    literal-centroid scorer. Returns (id, proj array<double>), each
    component rounded 6dp."""
    mat = rademacher_matrix(in_dim, out_dim, seed)
    scale = float(out_dim) ** 0.5
    comps = []
    for row in mat:
        lit = f"array({', '.join(f'cast({x!r} as double)' for x in row)})"
        dot = F.expr(
            f"aggregate(zip_with(_v, {lit}, (x, y) -> x * y), "
            f"cast(0 as double), (acc, x) -> acc + x)"
        )
        comps.append(F.round(dot / F.lit(scale), 6))
    return corpus.select(
        F.col(id_col), _as_double(vec_col).alias("_v")
    ).select(F.col(id_col), F.array(*comps).alias("proj"))
