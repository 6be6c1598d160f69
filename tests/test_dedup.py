"""Dedup operator tests: LSH candidate generation must agree with the exact
(oracle-checked) pairwise computations at matching thresholds."""

import time

import pytest
from pyspark.sql import functions as F

from dataux_spark.operators import dedup
from dataux_spark.queries import read_table


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return read_table(spark, sf_dir, "documents").cache()


def _pairset(df):
    return {(r.id_a, r.id_b) for r in df.collect()}


def test_exact_dedup_counts(docs):
    out = dedup.exact_dedup(docs, "text", "doc_id")
    total = docs.count()
    assert out.agg(F.sum("dup_count")).first()[0] == total
    # digests are unique keys
    assert out.select("digest").distinct().count() == out.count()


def test_fingerprint_catches_token_shuffles(spark, docs):
    """Reordered-token duplicates share a fingerprint but not an exact digest."""
    base = docs.limit(20)
    shuffled = base.select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat_ws(" ", F.reverse(F.split(F.col("text"), r"\s+"))).alias("text"),
    )
    both = base.select("doc_id", "text").unionByName(shuffled)
    fp = dedup.fingerprint_dedup(both, "text", "doc_id")
    groups = fp.collect()
    # every doc landed in a dup group (reversed twin always matches, and
    # pre-existing token-set near-dups in the corpus may merge groups)
    assert all(g.dup_count >= 2 for g in groups)
    assert sum(g.dup_count for g in groups) == 40
    assert len(groups) <= 20
    ex = dedup.exact_dedup(both, "text", "doc_id")
    assert ex.filter(F.col("dup_count") >= 2).count() == 0


def test_minhash_lsh_matches_exact_jaccard_high_threshold(docs):
    """At j≥0.8, 64-hash/16-band LSH (r=4: P(miss) = (1-j^4)^16 ≤ 0.1%)
    must find the same pairs the exact pairwise scan finds."""
    exact = dedup.ngram_jaccard_pairs(
        docs, "text", "doc_id", block_cols=[], n=3, threshold=0.8
    )
    lsh = dedup.minhash_lsh_pairs(
        docs, "text", "doc_id", num_hashes=64, bands=16, shingle_n=3, threshold=0.8
    )
    exact_pairs, lsh_pairs = _pairset(exact), _pairset(lsh)
    assert lsh_pairs == exact_pairs
    # and the verified jaccard values agree with the exact computation
    ej = {(r.id_a, r.id_b): r.jaccard for r in exact.collect()}
    for r in lsh.collect():
        assert abs(ej[(r.id_a, r.id_b)] - r.jaccard) < 1e-9


def test_simhash_identical_docs_distance_zero(spark, docs):
    dup = docs.limit(5).select((F.col("doc_id") + 100000).alias("doc_id"), "text")
    both = docs.select("doc_id", "text").unionByName(dup)
    pairs = dedup.simhash_pairs(both, "text", "doc_id", max_hamming=0)
    found = _pairset(pairs)
    for i in range(5):
        orig = docs.limit(5).collect()[i].doc_id
        assert (orig, orig + 100000) in found


def test_connected_components_chain_and_cliques(spark):
    """Chain graph = worst case: diameter >> 1 forces many propagation
    rounds — guards the lineage-truncation fix (without localCheckpoint the
    loop's plan depth explodes and analysis hangs)."""
    from pyspark.sql import Row

    chain = [Row(id_a=i, id_b=i + 1) for i in range(100, 111)]
    tri = [Row(id_a=1, id_b=2), Row(id_a=2, id_b=3), Row(id_a=1, id_b=3)]
    pair = [Row(id_a=50, id_b=51)]
    labels = {
        r.node: r.cluster
        for r in dedup.connected_components(
            spark.createDataFrame(chain + tri + pair), max_iter=20
        ).collect()
    }
    assert all(labels[n] == 100 for n in range(100, 112))
    assert all(labels[n] == 1 for n in (1, 2, 3))
    assert labels[50] == 50 and labels[51] == 50


def test_embedding_neardup_self_similarity(spark, sf_dir):
    emb = read_table(spark, sf_dir, "embeddings").limit(10)
    dup = emb.select((F.col("vec_id") + 100000).alias("vec_id"), "embedding", "label")
    both = emb.unionByName(dup)
    pairs = dedup.embedding_neardup_pairs(both, "embedding", "vec_id", threshold=0.999999)
    found = _pairset(pairs)
    for r in emb.collect():
        assert (r.vec_id, r.vec_id + 100000) in found


def test_winnow_shared_run_guarantee(spark):
    # Winnowing guarantee (SIGMOD'03): docs sharing a token run of
    # >= k+window-1 (= 6 here) tokens share at least one fingerprint.
    shared = "alpha beta gamma delta epsilon zeta"
    rows = [
        (1, f"intro words {shared} tail one"),
        (2, f"other prefix {shared} different ending"),
        (3, "completely disjoint vocabulary nothing matches here at all"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    fps = dedup.winnow_fingerprints(df, "text", "doc_id", k=3, window=4)
    by_doc = {}
    for r in fps.collect():
        by_doc.setdefault(r._id, set()).add(r.fp)
    assert by_doc[1] & by_doc[2], "shared 6-token run must share a fingerprint"
    assert not (by_doc[1] & by_doc[3]) and not (by_doc[2] & by_doc[3])


def test_winnow_density_and_subset(spark, sf_dir):
    docs = read_table(spark, sf_dir, "documents").limit(50)
    fps = dedup.winnow_fingerprints(docs, "text", "doc_id", k=3, window=4)
    n_grams = (
        docs.select(dedup.tokens(F.col("text")).alias("_toks"))
        .select(F.explode(dedup.shingles("_toks", 3)).alias("g"))
        .count()
    )
    n_fps = fps.count()
    # density ~ 2/(w+1) = 0.4 of grams; distinct-ing pushes it lower
    assert 0 < n_fps < n_grams


def test_length_bucket_blocking_is_lossless(docs):
    """jaccard >= t bounds the gram-set size ratio by 1/t, so adding the
    log2 length-bucket blocking (the quadratic-killer at scale) must not
    change the result set vs the unblocked quadratic answer."""
    blocked = dedup.ngram_jaccard_pairs(
        docs, "text", "doc_id", ["lang"], n=3, threshold=0.5, length_bucket=True
    )
    unblocked = dedup.ngram_jaccard_pairs(
        docs, "text", "doc_id", ["lang"], n=3, threshold=0.5, length_bucket=False
    )
    assert _pairset(blocked) == _pairset(unblocked)


def test_signband_neardup_recall_on_planted_dups(spark, sf_dir):
    """Planted near-duplicates (tiny perturbation, cos ~0.999) must all be
    caught by the axis-sign-band candidate stage; every reported pair must
    also appear in the exact all-pairs computation at the same threshold."""
    emb = read_table(spark, sf_dir, "embeddings").limit(100)
    planted = emb.select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.expr(
            "transform(embedding, (x, i) -> x + CASE WHEN i = 0 THEN 1e-4 ELSE 0.0 END)"
        ).alias("embedding"),
    )
    both = emb.select("vec_id", "embedding").unionByName(planted)
    got = dedup.embedding_signband_neardup(both, "embedding", "vec_id", threshold=0.99)
    pairs = _pairset(got)
    for vid in [r.vec_id for r in emb.select("vec_id").collect()]:
        assert (vid, vid + 100000) in pairs
    exact = dedup.embedding_neardup_pairs(both, "embedding", "vec_id", threshold=0.99)
    assert pairs <= _pairset(exact)


def test_minhash_lsh_max_bucket_drops_boilerplate(spark):
    """The hot-bucket backstop: a boilerplate clique larger than max_bucket
    contributes zero candidate pairs (its b² blowup never reaches the
    join), while normal near-dup pairs in small buckets still surface."""
    boiler = [(i, "the same boilerplate footer text repeated on every page here") for i in range(30)]
    near = [
        (100, "unique interesting document about spark shuffles and joins today"),
        (101, "unique interesting document about spark shuffles and joins tonight"),
    ]
    df = spark.createDataFrame(boiler + near, "doc_id: long, text: string")
    capped = dedup.minhash_lsh_pairs(
        df, "text", "doc_id", threshold=0.5, max_bucket=10
    )
    pairs = _pairset(capped)
    assert (100, 101) in pairs
    assert all(a >= 100 for a, _ in pairs)  # no boilerplate pair survived
    uncapped = dedup.minhash_lsh_pairs(df, "text", "doc_id", threshold=0.5)
    assert len(_pairset(uncapped)) >= 435  # the blowup the cap prevents


@pytest.mark.slow  # multi-10s at birth: six segment configs, each collected
def test_chunked_bucket_expansion_matches_unchunked(spark):
    """r13 (VERDICT r12 hardening item 2): the segment×segment in-bucket
    expansion must produce EXACTLY the triangular pair set of the old
    single-array form for every bucket size around the segment
    boundaries — same-slice cells expand the triangle, cross-slice cells
    the ordered product, and the sorted _ids order guarantees id_a <
    id_b everywhere."""
    from pyspark.sql import functions as F

    rows = [
        (b, 0, sorted(range(b * 1000, b * 1000 + sz)))
        for b, sz in enumerate([1, 2, 3, 4, 5, 7, 8, 9, 16, 17])
    ]
    buckets = spark.createDataFrame(rows, "band int, bh long, _ids array<int>")
    expect = {
        (a, b)
        for _, _, ids in rows
        for i, a in enumerate(ids)
        for b in ids[i + 1 :]
    }
    for segment in (1, 2, 3, 4, 8, dedup.BUCKET_PAIR_SEGMENT):
        got = {
            (r.id_a, r.id_b)
            for r in dedup._expand_bucket_pairs(
                buckets, None, segment=segment
            ).collect()
        }
        assert got == expect, (segment, got ^ expect)
        assert all(a < b for a, b in got)


def test_cap_census_reports_dropped_buckets(spark, caplog):
    """ADVICE r12: the default-on hot-bucket cap must not drop recall
    SILENTLY — every capped expansion carries an Observation census
    (zero extra jobs: the metrics ride the caller's action) and
    last_cap_census / drain_cap_censuses surface dropped bucket/doc
    counts with a warning log."""
    import logging

    rows = [
        (0, 0, list(range(4))),        # kept: size 4
        (1, 1, list(range(100, 112))), # dropped at cap 6: size 12
        (2, 2, list(range(200, 207))), # dropped at cap 6: size 7
    ]
    buckets = spark.createDataFrame(rows, "band int, bh long, _ids array<int>")
    dedup.drain_cap_censuses()  # flush pending state from other tests
    out = dedup._expand_bucket_pairs(buckets, 6)
    pairs = {(r.id_a, r.id_b) for r in out.collect()}
    assert pairs == {(a, b) for i, a in enumerate(range(4)) for b in range(i + 1, 4)}
    with caplog.at_level(logging.WARNING, logger="dataux_spark.dedup"):
        census = dedup.last_cap_census(block=True)
    assert census is not None
    assert census["buckets_total"] == 3
    assert census["buckets_dropped"] == 2
    assert census["doc_slots_dropped"] == 19
    assert census["largest_bucket"] == 12
    assert census["max_bucket"] == 6
    assert any("hot-bucket cap dropped" in r.message for r in caplog.records)
    # an uncapped expansion registers NO census
    dedup._expand_bucket_pairs(buckets, None).count()
    assert dedup.last_cap_census() is None
    # drain path: a capped run whose action has completed is harvested
    # non-blockingly; nothing dropped → no warning entry required
    dedup._expand_bucket_pairs(buckets, 100).count()
    drained = dedup.drain_cap_censuses()
    assert len(drained) == 1 and drained[0]["buckets_dropped"] == 0
    # r13 review: last_cap_census returns the newest COMPLETED census
    # (harvested before any new capped build auto-drains it), and
    # block=True is a BOUNDED poll — a capped frame that is never
    # executed cannot hang the driver
    dedup._expand_bucket_pairs(buckets, 5).count()
    got = dedup.last_cap_census(block=True)
    assert got is not None and got["max_bucket"] == 5
    dedup._expand_bucket_pairs(buckets, 7)  # built, never executed
    assert dedup.last_cap_census() is None  # non-blocking: pending only
    t0 = time.monotonic()
    assert dedup.last_cap_census(block=True, timeout=0.3) is None
    assert time.monotonic() - t0 < 5  # bounded, not Observation.get


@pytest.mark.slow  # multi-10s at birth (r11 brief item 7): four routed calls
def test_adaptive_routers_engage_hot_bucket_backstop(spark):
    """VERDICT r11: `max_bucket` must be reachable FROM the adaptive
    routers — the saturated minhash route is exactly where a hot
    boilerplate bucket's b² expansion bites. A clique larger than the
    cap contributes zero pairs on the routed path; organic near-dup
    pairs still surface. The "auto" default resolves to
    routed_max_bucket(n) = the ROUTED_MAX_BUCKET_FLOOR here (n small),
    which is BELOW the 80-doc clique — so the default engages too."""
    boiler = [
        (i, "the same boilerplate footer text repeated on every page here")
        for i in range(80)
    ]
    near = [
        (100000, "unique interesting document about spark shuffles and joins today"),
        (100001, "unique interesting document about spark shuffles and joins tonight"),
    ]
    df = spark.createDataFrame(boiler + near, "doc_id: long, text: string")
    capped = dedup.adaptive_jaccard_pairs(
        df, "text", "doc_id", threshold=0.5, route="minhash", max_bucket=10
    )
    pairs = _pairset(capped)
    assert (100000, 100001) in pairs
    assert all(a >= 100000 for a, _ in pairs)  # no clique pair survived
    # the census-derived default: floor at small n, sqrt(2·c·n) mid-range,
    # ceiling at corpus scale — and 82 docs resolve to the floor (64),
    # still below the clique, so the unpinned routed call engages it too
    assert dedup.routed_max_bucket(82) == dedup.ROUTED_MAX_BUCKET_FLOOR
    assert dedup.routed_max_bucket(5000) == 283
    assert dedup.routed_max_bucket(10**12) == dedup.ROUTED_MAX_BUCKET_CEIL
    auto = dedup.adaptive_jaccard_pairs(
        df, "text", "doc_id", threshold=0.5, route="minhash"
    )
    assert _pairset(auto) == pairs
    # containment twin: same backstop, same routed reachability
    ccap = dedup.adaptive_containment_pairs(
        df, "text", "doc_id", threshold=0.8, route="minhash", max_bucket=10
    )
    cpairs = _pairset(ccap)
    assert (100000, 100001) in cpairs and (100001, 100000) in cpairs
    assert all(a >= 100000 for a, _ in cpairs)
    cauto = dedup.adaptive_containment_pairs(
        df, "text", "doc_id", threshold=0.8, route="minhash"
    )
    assert _pairset(cauto) == cpairs


@pytest.mark.slow  # multi-10s at birth: three routed calls + exact twin
def test_containment_banded_route_high_ratio_miss_and_supplement(spark):
    """ADVICE r11: the banded containment route's recall contract covers
    only pairs with |container| ≤ ratio_cap·|contained| (J floor 0.47 at
    the defaults) — a quote swallowed by a container ~6.6× its size
    (J ≈ 0.13) sits far outside it and is DETERMINISTICALLY missed by
    the 36×3 banding (fixed xxhash — this test documents the miss, the
    route's stated trade). The exact prefix route keeps the pair, and
    the r12 `small_side_exact_max` supplement restores it on the banded
    route by running the lossless asymmetric prefix pass for small
    contained docs at any ratio."""
    quote = "the quick brown fox jumps over the lazy sleeping dog tonight again"
    filler = " ".join(f"fillerw{i}" for i in range(56))
    rows = [
        (1, quote),                      # 10 shingles
        (2, quote + " " + filler),       # 66 shingles — ratio 6.6 > cap 1.5
        (10, "completely different text about database engines and optimizers"),
        (11, "completely different text about database engines and planners"),
    ]
    df = spark.createDataFrame(rows, "doc_id: long, text: string")
    exact = _pairset(dedup.containment_pairs(df, "text", "doc_id", 0.8))
    assert (1, 2) in exact  # containment(quote → container) = 1.0
    banded = _pairset(
        dedup.adaptive_containment_pairs(df, "text", "doc_id", 0.8, route="minhash")
    )
    assert (1, 2) not in banded  # the documented high-ratio miss
    assert banded <= exact       # precision stays 1
    supp = _pairset(
        dedup.adaptive_containment_pairs(
            df, "text", "doc_id", 0.8, route="minhash", small_side_exact_max=16
        )
    )
    assert (1, 2) in supp        # the supplement recovers the quote pair
    assert banded <= supp <= exact


def test_duplicated_span_stats_planted_spans(spark):
    """Span census catches a shared 3-token run; unique docs score 0; docs
    shorter than n collapse to one clamped span (shingle convention)."""
    df = spark.createDataFrame(
        [
            (1, "w1 w2 w3 w4 w5"),        # spans: w1w2w3, w2w3w4, w3w4w5
            (2, "x1 w2 w3 w4 x2"),        # shares only w2w3w4 with doc 1
            (3, "z1 z2 z3 z4 z5"),        # fully unique
            (4, "s1 s2"),                 # < n tokens → 1 clamped span
        ],
        "doc_id: long, text: string",
    )
    out = {
        r._id: r
        for r in dedup.duplicated_span_stats(df, "text", "doc_id", n=3).collect()
    }
    assert out[1].n_spans == 3 and out[1].n_dup_spans == 1
    assert out[1].dup_span_frac == pytest.approx(1 / 3, abs=1e-6)
    assert out[2].n_dup_spans == 1
    assert out[3].n_dup_spans == 0 and out[3].dup_span_frac == 0.0
    assert out[4].n_spans == 1


def test_duplicated_span_stats_identical_docs_full_overlap(spark):
    """Verbatim duplicates have dup_span_frac exactly 1.0."""
    df = spark.createDataFrame(
        [(1, "a b c d e f g"), (2, "a b c d e f g")], "doc_id: long, text: string"
    )
    rows = dedup.duplicated_span_stats(df, "text", "doc_id", n=4).collect()
    assert all(r.dup_span_frac == 1.0 for r in rows)


def test_decontaminate_flags_benchmark_overlap(spark):
    """Corpus docs sharing ≥1 distinct n-gram with the benchmark are
    flagged; zero-hit docs stay in the output unflagged."""
    bench = spark.createDataFrame(
        [(900, "b1 b2 b3 b4 b5")], "doc_id: long, text: string"
    )
    corpus = spark.createDataFrame(
        [
            (1, "q1 b1 b2 b3 q2 q3"),     # one hit: b1b2b3
            (2, "u1 u2 u3 u4 u5 u6"),     # disjoint
            (3, "b1 b2 b3 b4 q9"),        # two hits: b1b2b3, b2b3b4
        ],
        "doc_id: long, text: string",
    )
    out = {
        r._id: r
        for r in dedup.decontaminate(corpus, bench, "text", "doc_id", n=3).collect()
    }
    assert out[1].n_bench_hits == 1 and out[1].contaminated == 1
    assert out[2].n_bench_hits == 0 and out[2].contaminated == 0
    assert out[3].n_bench_hits == 2 and out[3].contaminated == 1
    assert set(out) == {1, 2, 3}


def test_incremental_dedup_against_store(spark, tmp_path):
    """Batch rows drop when their digest is in the store OR claimed by an
    earlier batch row; update_store makes survivors visible to the next
    batch."""
    store = str(tmp_path / "digests")
    hist = spark.createDataFrame(
        [(1, "seen before"), (2, "also seen")], "doc_id: long, text: string"
    )
    dedup.build_fingerprint_store(hist, "text", "doc_id", store)
    batch = spark.createDataFrame(
        [
            (10, "seen before"),    # in store → dropped
            (11, "brand new"),      # survives
            (12, "brand new"),      # within-batch dup of 11 → dropped
            (13, "also new"),       # survives
        ],
        "doc_id: long, text: string",
    )
    got = {r._id for r in dedup.incremental_dedup(batch, "text", "doc_id", store).collect()}
    assert got == {11, 13}
    # second pass with update_store: survivors join the store
    dedup.incremental_dedup(batch, "text", "doc_id", store, update_store=True).collect()
    batch2 = spark.createDataFrame(
        [(20, "brand new"), (21, "never seen")], "doc_id: long, text: string"
    )
    got2 = {r._id for r in dedup.incremental_dedup(batch2, "text", "doc_id", store).collect()}
    assert got2 == {21}


def test_incremental_minhash_matches_batch_recompute(spark, sf_dir, tmp_path):
    """Probing the persisted signature store must find exactly the
    cross-partition pairs a full recompute finds: split documents into
    history/batch, compare (batch x history) pairs from the store probe
    against minhash_lsh_pairs over the union restricted to cross pairs."""
    store = str(tmp_path / "mh_store")
    docs = read_table(spark, sf_dir, "documents")
    hist = docs.filter(F.col("doc_id") <= 250)
    batch = docs.filter(F.col("doc_id") > 250)
    dedup.build_minhash_store(hist, "text", "doc_id", store)
    got = {
        (r.batch_id, r.store_id, r.jaccard)
        for r in dedup.incremental_minhash_candidates(
            batch, "text", "doc_id", store, threshold=0.5
        ).collect()
    }
    full = dedup.minhash_lsh_pairs(docs, "text", "doc_id", threshold=0.5)
    cross = {
        (max(r.id_a, r.id_b), min(r.id_a, r.id_b), r.jaccard)
        for r in full.collect()
        if (r.id_a <= 250) != (r.id_b <= 250)
    }
    assert {(b, s, j) for b, s, j in got} == cross
    assert got  # the corpus has planted cross-partition near-dups


def test_scan_parallelize_widens_narrow_and_leaves_wide(spark, docs):
    """The gated repartition must widen a one-partition scan to the
    session's parallelism, and be a structural NO-OP (no added exchange)
    when the input is already at least that wide — the production shape,
    where adding a shuffle before the signature stage would be a
    regression."""
    narrow = docs.select("doc_id", "text").coalesce(1)
    assert narrow.rdd.getNumPartitions() == 1
    widened = dedup.scan_parallelize(narrow)
    assert (
        widened.rdd.getNumPartitions()
        == spark.sparkContext.defaultParallelism
    )
    wide = docs.select("doc_id", "text").repartition(
        spark.sparkContext.defaultParallelism * 2
    )
    same = dedup.scan_parallelize(wide)
    assert same is wide  # identical object: no plan node added at all


def test_scan_file_sizes_hadoop_tier_matches_local(spark, docs):
    """Non-local schemes take the Hadoop FileSystem branch of the size
    lookup (r14): forcing a file: URI down that branch via the test seam
    must return byte-identical sizes to the local stat — proving a
    remote store (s3a/hdfs) gets the split-packing ESTIMATE, not the
    silent fallback to the exact RDD probe."""
    from dataux_spark.queries import read_table

    # sf0.01, not the fixture's sf0.001 docs: the module fixture cache()s
    # that scan, and the CacheManager matches any identical plan — a
    # cached relation has no inputFiles()
    files = read_table(spark, "/root/testdata/sf0.01", "documents").inputFiles()
    assert files and all(f.startswith("file:") for f in files)
    local = dedup._scan_file_sizes(spark, files)
    via_hadoop = dedup._scan_file_sizes(spark, files, local_schemes=())
    assert via_hadoop == local
    assert all(s > 0 for s in via_hadoop)


def test_scan_split_estimate_follows_leaf_node_parallelism(spark, tmp_path):
    """With spark.sql.files.minPartitionNum unset, FilePartition divides
    the scan bytes by spark.sql.leafNodeDefaultParallelism when it is set,
    else by defaultParallelism; the estimate must do the same and match
    the scan's real partition count either way."""
    path = str(tmp_path / "one_file")
    (
        spark.range(20_000)
        .selectExpr("id", "sha2(cast(id AS string), 256) AS h")
        .coalesce(1)
        .write.parquet(path)
    )
    sizes = dedup._scan_file_sizes(spark, spark.read.parquet(path).inputFiles())
    assert len(sizes) == 1 and sizes[0] > 100_000
    keys = ("spark.sql.files.openCostInBytes", "spark.sql.leafNodeDefaultParallelism")
    saved = {k: spark.conf.get(k, None) for k in keys}
    try:
        # a small open cost lets bytesPerCore, not the open cost, set the split
        spark.conf.set("spark.sql.files.openCostInBytes", "1024")
        spark.conf.unset("spark.sql.leafNodeDefaultParallelism")
        by_default = dedup._estimated_scan_splits(spark, sizes)
        assert by_default == spark.read.parquet(path).rdd.getNumPartitions()
        spark.conf.set("spark.sql.leafNodeDefaultParallelism", "3")
        by_leaf = dedup._estimated_scan_splits(spark, sizes)
        assert by_leaf == spark.read.parquet(path).rdd.getNumPartitions()
        assert by_leaf != by_default
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_simhash_md5_twin_near_dup_properties(spark):
    """The oracle-checkable md5 twin must behave like a simhash: identical
    docs hash identically, a small edit flips few of the 60 bits, and an
    unrelated doc flips many."""
    df = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog again and again"),
            (2, "the quick brown fox jumps over the lazy dog again and again"),
            (3, "the quick brown fox jumps over the lazy cat again and again"),
            (4, "completely different words about spark shuffle partitions here"),
        ],
        "doc_id: long, text: string",
    )
    sh = {r._id: r.simhash for r in dedup.simhash_md5(df, "text", "doc_id").collect()}

    def ham(a, b):
        return bin(a ^ b).count("1")

    assert sh[1] == sh[2]
    assert 0 < ham(sh[1], sh[3]) <= 20
    assert ham(sh[1], sh[4]) > ham(sh[1], sh[3])


def test_semantic_dedup_drops_planted_copies(spark):
    """SemDeDup keep-first rule: planted exact copies (larger ids) drop,
    originals and dissimilar docs keep; cluster labels come from the
    literal-centroid assignment."""
    import math

    rows = []
    for i in range(40):
        ang = (i % 4) * math.pi / 2 + (i // 4) * 0.01  # 4 tight direction groups
        rows.append((i, [math.cos(ang), math.sin(ang), 0.1, 0.0]))
    rows += [(1000 + i, vec) for i, vec in rows[:10]]  # planted copies
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in rows],
        "vec_id: long, embedding: array<float>",
    )
    cents = [(c, [math.cos(c * math.pi / 2), math.sin(c * math.pi / 2), 0.0, 0.0])
             for c in range(4)]
    out = dedup.semantic_dedup(df, "embedding", "vec_id", cents, threshold=0.999)
    keep = {r.vec_id: r.keep for r in out.collect()}
    assert len(keep) == 50
    # every planted copy has an identical smaller-id original -> dropped
    assert all(not keep[1000 + i] for i in range(10))
    # near-identical group members (0.01 rad apart) are below the 0.999
    # threshold's reach only for distant pairs; the group seeds (i//4 == 0)
    # have no smaller-id near-identical mate and must keep
    assert keep[0] and keep[1] and keep[2] and keep[3]

    # max_cluster sub-blocking: same keep-rule per block, deterministic
    capped = dedup.semantic_dedup(
        df, "embedding", "vec_id", cents, threshold=0.999, max_cluster=5
    )
    keep_capped = {r.vec_id: r.keep for r in capped.collect()}
    assert len(keep_capped) == 50
    # sub-blocking can only SPLIT comparison scopes: anything kept in the
    # uncapped run stays kept (drops require a same-block smaller-id mate)
    assert all(keep_capped[k] for k, v in keep.items() if v)
    # determinism
    keep_capped2 = {
        r.vec_id: r.keep
        for r in dedup.semantic_dedup(
            df, "embedding", "vec_id", cents, threshold=0.999, max_cluster=5
        ).collect()
    }
    assert keep_capped == keep_capped2


def test_remove_duplicated_spans_cuts_shared_run(spark):
    """The shared 8-token run is cut from every doc carrying it (all
    covered positions, including overlap extensions), unique text
    survives, fully-duplicated docs keep an n_kept=0 row."""
    shared = "alpha beta gamma delta epsilon zeta eta theta"  # 8 tokens
    rows = [
        (1, f"unique one {shared} tail one"),
        (2, f"{shared} other words follow here"),
        (3, shared),                       # fully removed
        (4, "completely original text with no shared spans at all"),
    ]
    df = spark.createDataFrame(rows, "doc_id: long, text: string")
    out = {r._id: r for r in
           dedup.remove_duplicated_spans(df, "text", "doc_id", n=8, min_docs=2)
           .collect()}
    assert len(out) == 4
    assert out[1].text_clean == "unique one tail one"
    assert out[2].text_clean == "other words follow here"
    assert out[3].n_kept == 0 and out[3].text_clean == ""
    assert out[4].text_clean == "completely original text with no shared spans at all"
    assert out[1].n_tokens == 12 and out[1].n_kept == 4


def test_decontaminate_embeddings_total_labeling_edges(spark):
    """Empty benchmark and NULL embeddings still yield a total labeling
    with contaminated = 0, never missing docs or NULL flags."""
    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0]), (3, None)],
        "vec_id: long, embedding: array<float>",
    )
    empty_bench = df.filter("vec_id < 0")
    out = {r._id: (r.max_bench_cos, r.contaminated)
           for r in dedup.decontaminate_embeddings(
               df, empty_bench, "embedding", "vec_id", 0.9).collect()}
    assert out == {1: (None, 0), 2: (None, 0), 3: (None, 0)}
    bench = df.filter("vec_id = 1")
    out2 = {r._id: r.contaminated
            for r in dedup.decontaminate_embeddings(
                df, bench, "embedding", "vec_id", 0.9).collect()}
    assert out2 == {1: 1, 2: 0, 3: 0}


def test_minhash_lsh_pairs_with_caller_owned_grams(docs):
    """Passing a persisted gram frame produces bit-identical pairs to the
    self-computed path (the grams= reuse variant must be a pure
    plan-shape change, never a semantic one)."""
    from dataux_spark.operators.dedup import gram_sets, minhash_lsh_pairs

    base = minhash_lsh_pairs(docs, "text", "doc_id").collect()
    g = gram_sets(docs, "text", "doc_id").persist()
    try:
        reused = minhash_lsh_pairs(docs, "text", "doc_id", grams=g).collect()
    finally:
        g.unpersist()
    assert sorted(map(tuple, base)) == sorted(map(tuple, reused))


def test_prefix_jaccard_matches_bruteforce_and_prunes(spark, docs):
    """Prefix filtering must be lossless vs the quadratic shingle-set
    answer (prefix-filtering theorem); ngram_jaccard_pairs with no blocks
    IS that quadratic answer, so the two operators must agree exactly."""
    out = dedup.prefix_jaccard_pairs(docs, "text", "doc_id", threshold=0.5)
    brute = dedup.ngram_jaccard_pairs(
        docs, "text", "doc_id", block_cols=[], n=3, threshold=0.5, length_bucket=False
    )
    got = {(r.id_a, r.id_b): r.jaccard for r in out.collect()}
    want = {(r.id_a, r.id_b): r.jaccard for r in brute.collect()}
    assert got == want
    assert len(want) > 0  # the corpus plants near-dups; test must exercise them


def test_decontaminate_neardup_equals_exact_cross_join(spark, docs):
    """LSH-blocked corpus×benchmark pairs must equal the exact cross
    Jaccard at the tested threshold (banding recall pinned), and the plan
    must broadcast only the benchmark side."""
    corpus = docs.filter(F.col("source") != "src0")
    bench = docs.filter(F.col("source") == "src0").limit(1000)
    got = dedup.decontaminate_neardup(corpus, bench, "text", "doc_id", threshold=0.5)
    cg = dedup.gram_sets(corpus, "text", "doc_id")
    bg = dedup.gram_sets(bench, "text", "doc_id")
    inter = F.size(F.array_intersect("c.g", "b.g"))
    union = F.size(F.array_union("c.g", "b.g"))
    exact = (
        cg.select(F.col("_id").alias("doc_id"), F.col("_grams").alias("g")).alias("c")
        .crossJoin(
            bg.select(F.col("_id").alias("bench_id"), F.col("_grams").alias("g")).alias("b")
        )
        .select(
            "doc_id", "bench_id",
            F.round(inter.cast("double") / union, 6).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= 0.5)
    )
    g = {(r.doc_id, r.bench_id): r.jaccard for r in got.collect()}
    w = {(r.doc_id, r.bench_id): r.jaccard for r in exact.collect()}
    assert g == w
    assert len(w) > 0


def test_dedup_savings_report_hand_built(spark):
    """Pair cluster {1,2} and triple {10,11,12}: keeper = min id, savings
    = non-keeper weights, histogram keyed by cluster size."""
    from dataux_spark.operators.dedup import connected_components, dedup_savings_report

    pairs = spark.createDataFrame(
        [(1, 2), (10, 11), (11, 12)], ["id_a", "id_b"]
    )
    docs = spark.createDataFrame(
        [(1, 100), (2, 70), (10, 10), (11, 20), (12, 30), (99, 555)],
        ["doc_id", "n_chars"],
    )
    got = {r.cluster_size: (r.n_clusters, r.dup_docs, r.chars_saved)
           for r in dedup_savings_report(
               connected_components(pairs), docs).collect()}
    assert got == {2: (1, 1, 70), 3: (1, 2, 50)}  # doc 99 untouched


def test_containment_catches_quote_inclusion_jaccard_misses(spark):
    """A short doc quoted inside a much longer one: containment flags it
    (C = 1.0) while symmetric Jaccard sits far below any usable
    threshold; the prefix-filtered join equals brute force."""
    quote = "the quick brown fox jumps over the lazy dog tonight"
    filler = " ".join(f"w{i} x{i} y{i}" for i in range(60))
    rows = [
        (1, quote),                       # contained
        (2, filler + " " + quote),        # container
        (3, "completely unrelated text about spark shuffles and joins"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    from dataux_spark.operators.dedup import containment_pairs, prefix_jaccard_pairs

    got = {(r.id_a, r.id_b): r.containment
           for r in containment_pairs(df, "text", "doc_id", 0.8).collect()}
    assert (1, 2) in got and got[(1, 2)] == 1.0   # quote fully inside
    assert (2, 1) not in got                       # direction matters
    jac = prefix_jaccard_pairs(df, "text", "doc_id", 0.5).collect()
    assert not jac  # symmetric Jaccard misses the inclusion entirely


def test_containment_equals_brute_force_on_corpus(spark, sf_dir):
    """Losslessness: the prefix-filtered result == exact all-pairs on the
    real corpus (the filter is a candidate superset by the containment
    bound; verification trims it to truth)."""
    from dataux_spark.operators.dedup import containment_pairs, gram_sets

    docs = read_table(spark, sf_dir, "documents")
    got = {(r.id_a, r.id_b) for r in
           containment_pairs(docs, "text", "doc_id", 0.8).collect()}
    sets = {r._id: set(r._set) for r in
            gram_sets(docs, "text", "doc_id", 3)
            .withColumnRenamed("_grams", "_set").collect()}
    brute = {(a, b) for a in sets for b in sets if a != b
             and round(len(sets[a] & sets[b]) / len(sets[a]), 6) >= 0.8}
    assert got == brute and brute  # non-vacuous


def test_cross_group_dup_matrix_hand_built(spark):
    """Pairs fold into canonical (lo, hi) source cells with counts and
    mean similarity; directionality of the pair ids never splits a cell."""
    from dataux_spark.operators.dedup import cross_group_dup_matrix

    pairs = spark.createDataFrame(
        [(1, 2, 0.9), (3, 4, 0.7), (5, 6, 0.5)], ["id_a", "id_b", "jaccard"]
    )
    docs = spark.createDataFrame(
        [(1, "web"), (2, "books"), (3, "books"), (4, "web"),
         (5, "web"), (6, "web")],
        ["doc_id", "source"],
    )
    got = {(r.group_a, r.group_b): (r.n_pairs, r.avg_jaccard)
           for r in cross_group_dup_matrix(pairs, docs).collect()}
    # (1,2) is web-books and (3,4) is books-web: SAME canonical cell
    assert got[("books", "web")] == (2, 0.8)
    assert got[("web", "web")] == (1, 0.5)


def test_prefix_jaccard_block_cols_matches_blocked_all_pairs(spark, docs):
    """block_cols restriction inside the prefix candidate join must equal
    the lang-blocked all-pairs answer exactly (the swap the r8 scale fix
    made in dedup_source_matrix / dedup_savings_report: lang blocks are
    fixed-cardinality, so the blocked-all-pairs join is quadratic in the
    corpus while the prefix join stays posting-bounded)."""
    out = dedup.prefix_jaccard_pairs(
        docs, "text", "doc_id", threshold=0.5, block_cols=["lang"]
    )
    blocked = dedup.ngram_jaccard_pairs(
        docs, "text", "doc_id", block_cols=["lang"], n=3, threshold=0.5
    )
    got = {(r.id_a, r.id_b): r.jaccard for r in out.collect()}
    want = {(r.id_a, r.id_b): r.jaccard for r in blocked.collect()}
    assert got == want
    assert len(want) > 0
    # the restriction must DROP cross-lang pairs the unblocked run keeps
    unblocked = dedup.prefix_jaccard_pairs(docs, "text", "doc_id", threshold=0.5)
    assert unblocked.count() >= len(want)
