"""Continuous-aggregate rollups over event streams — beyond-reference
extension (the reference has no time-series rollups; its closest surface is
paged scans over time-keyed rows, e.g. the BigTable key-range scans at
/root/reference/backends/bigtable/sql_to_bt.go).  Pattern follows published
continuous-aggregate / materialized-rollup designs (TimescaleDB continuous
aggregates, Druid rollup segments): precompute per-bucket ALGEBRAIC partial
aggregates for closed time buckets, answer queries by merging the rollup
with a re-aggregated raw tail.

Scale design (the reason this exists at 100 TB):
  - The rollup stores count/sum/min/max — algebraic partials that merge by
    re-aggregation, so query-time work is proportional to bucket×key
    cardinality, not raw row count. avg derives as sum/count; never store
    it (it doesn't merge).
  - Rollup files are partitioned by bucket DATE → range queries prune whole
    partitions at the file-listing level before any scan.
  - Incremental refresh recomputes only buckets newer than the rollup's
    high-water mark, reading just the raw tail (at 100 TB the daily refresh
    touches one day of raw data, not the table).
  - The raw tail at query time is bounded by the refresh cadence (hours of
    data), so the expensive side of the union stays small no matter how old
    the table grows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dataux_spark.sqlutil import local_frame

#: algebraic partials kept per (bucket, key) — everything needed to answer
#: count/sum/min/max/avg at query time by merging.
_PARTIALS = ("n_events", "value_sum", "value_min", "value_max")


def _bucket_agg(events: DataFrame, ts_col: str, key_col: str, bucket: str) -> DataFrame:
    """One aggregation pass raw→partials. `bucket` is a date_trunc unit
    (hour/day/...). Partial+final HashAggregate by construction; the
    map-side combine bounds the exchange at bucket×key cardinality."""
    return (
        events.groupBy(
            F.date_trunc(bucket, F.col(ts_col)).alias("bucket"),
            F.col(key_col).alias("key"),
        )
        .agg(
            F.count("*").alias("n_events"),
            F.sum("value").alias("value_sum"),
            F.min("value").alias("value_min"),
            F.max("value").alias("value_max"),
        )
    )


def build_rollup(
    events: DataFrame,
    out_path: str,
    cutoff,
    ts_col: str = "ts",
    key_col: str = "event_type",
    bucket: str = "hour",
) -> None:
    """Materialize the rollup for all buckets strictly before `cutoff`
    (a bucket-aligned timestamp — the high-water mark). Partitioned by
    bucket date so range queries prune at the listing level."""
    (
        _bucket_agg(events.filter(F.col(ts_col) < cutoff), ts_col, key_col, bucket)
        .withColumn("bucket_date", F.to_date("bucket"))
        .repartition("bucket_date")
        .write.mode("overwrite")
        .partitionBy("bucket_date")
        .parquet(out_path)
    )


def refresh_rollup(
    spark: SparkSession,
    events: DataFrame,
    rollup_path: str,
    new_cutoff,
    ts_col: str = "ts",
    key_col: str = "event_type",
    bucket: str = "hour",
) -> int:
    """Incremental refresh: recompute only buckets in [old high-water mark,
    new_cutoff) from the raw tail and append them. Returns the number of
    bucket rows appended. Reading the mark is one min/max over the rollup's
    partition column — no raw-table scan."""
    existing = spark.read.parquet(rollup_path)
    mark = existing.agg(F.max("bucket")).collect()[0][0]
    fresh = _bucket_agg(
        events.filter(
            (F.col(ts_col) >= F.lit(mark) + F.expr(f"INTERVAL 1 {bucket}"))
            & (F.col(ts_col) < new_cutoff)
        ),
        ts_col,
        key_col,
        bucket,
    ).withColumn("bucket_date", F.to_date("bucket"))
    ct = fresh.count()
    if ct:
        fresh.repartition("bucket_date").write.mode("append").partitionBy(
            "bucket_date"
        ).parquet(rollup_path)
    return ct


def rollup_plus_tail(
    spark: SparkSession,
    events: DataFrame,
    rollup_path: str,
    cutoff,
    ts_col: str = "ts",
    key_col: str = "event_type",
    bucket: str = "hour",
) -> DataFrame:
    """Answer the full-range bucketed aggregate: closed buckets come from
    the materialized rollup, the open tail (>= cutoff) is re-aggregated
    from raw, and the union is merged by re-aggregating the algebraic
    partials (sum of counts/sums, min of mins, max of maxes). Result is
    IDENTICAL to aggregating raw end-to-end — pinned by the DuckDB oracle."""
    rolled = spark.read.parquet(rollup_path).select("bucket", "key", *_PARTIALS)
    tail = _bucket_agg(
        events.filter(F.col(ts_col) >= cutoff), ts_col, key_col, bucket
    ).select("bucket", "key", *_PARTIALS)
    return (
        rolled.unionByName(tail)
        .groupBy("bucket", "key")
        .agg(
            F.sum("n_events").alias("n_events"),
            F.sum("value_sum").alias("value_sum"),
            F.min("value_min").alias("value_min"),
            F.max("value_max").alias("value_max"),
        )
    )


def _bucket_range(r: DataFrame, start, end) -> DataFrame:
    """[start, end) over a date-partitioned rollup. The range filter must
    ALSO hit the bucket_date PARTITION column — Spark cannot derive a
    partition predicate from the bucket one, and without it every date
    directory is listed and scanned. Shared by every rollup query path so
    the pruning trick cannot drift between them."""
    if start is not None:
        r = r.filter(
            (F.col("bucket") >= start)
            & (F.col("bucket_date") >= F.to_date(F.lit(start)))
        )
    if end is not None:
        r = r.filter(
            (F.col("bucket") < end)
            & (F.col("bucket_date") <= F.to_date(F.lit(end)))
        )
    return r


def build_distinct_rollup(
    events: DataFrame,
    out_path: str,
    ts_col: str = "ts",
    key_col: str = "event_type",
    distinct_col: str = "user_id",
    bucket: str = "hour",
    lg_k: int = 12,
    check_nonempty: bool = False,
) -> None:
    """Sketch rollup for DISTINCT counts — the aggregate a count/sum/min/
    max rollup cannot serve: COUNT(DISTINCT user) does not merge across
    buckets (summing per-bucket distincts overcounts every returning
    user). Stores a Datasketches HLL sketch per (bucket, key)
    (hll_sketch_agg — JVM-side, mergeable binary partials); any query
    window then unions the sketches (hll_union_agg) and estimates —
    distinct-over-arbitrary-ranges from bucket-sized state, the
    TimescaleDB/Druid approximate-rollup design.

    Scale: state per (bucket, key) is ~2^lg_k bytes regardless of raw
    cardinality; the build is one map-side-combined shuffle; range reads
    prune bucket_date partitions at the listing level.

    Precondition: a non-empty events frame (a zero-row PARTITIONED write
    leaves no schema-bearing file to read back). build_quantile_rollup
    guards this for free off its min/max action; here an emptiness probe
    costs an extra job per build, so it's opt-in: pass
    check_nonempty=True to fail fast with a clear error instead of
    writing an unreadable rollup (a limit(1) probe — one row from one
    partition, not a full count)."""
    if check_nonempty and not events.limit(1).count():
        raise ValueError(
            "build_distinct_rollup: events frame is empty — a zero-row "
            "partitioned write leaves no schema-bearing file to read back"
        )
    (
        events.groupBy(
            F.date_trunc(bucket, F.col(ts_col)).alias("bucket"),
            F.col(key_col).alias("key"),
        )
        .agg(
            F.hll_sketch_agg(F.col(distinct_col), F.lit(lg_k)).alias("distinct_sketch"),
            F.count("*").alias("n_events"),
        )
        .withColumn("bucket_date", F.to_date("bucket"))
        .repartition("bucket_date")
        .write.mode("overwrite")
        .partitionBy("bucket_date")
        .parquet(out_path)
    )


def distinct_over_range(
    spark: SparkSession,
    rollup_path: str,
    start=None,
    end=None,
    by_key: bool = True,
) -> DataFrame:
    """Query the sketch rollup: union the bucket sketches in [start, end)
    and estimate the distinct count — per key, or overall with one more
    union. Work is proportional to the buckets touched (partition-pruned
    by bucket_date), never the raw rows they summarize."""
    r = _bucket_range(
        spark.read.option("basePath", rollup_path).parquet(rollup_path),
        start, end,
    )
    keys = ["key"] if by_key else []
    out = r.groupBy(*keys).agg(
        F.hll_sketch_estimate(F.hll_union_agg("distinct_sketch")).alias("n_distinct_est"),
        F.sum("n_events").alias("n_events"),
    )
    return out.orderBy(*keys) if keys else out


def apply_cdc_delta(
    base_agg: DataFrame,
    feed: DataFrame,
    key_col: str,
    value_col: str,
) -> DataFrame:
    """Incremental view maintenance from a CDC feed — the classic delta
    rule for algebraic aggregates: inserts and update postimages add
    (+1, +value), deletes and update preimages subtract. Applying the
    grouped delta to the stored aggregate reproduces exactly what a full
    recompute over the new table state would return (asserted in tests
    and by the driver oracle), without rescanning the table.

    Scale: the delta aggregate is feed-sized (CDC feeds after selective
    DML are changed-data-sized, see TableStore.changes), and the merge is
    one key-keyed outer join against the bucket×key-sized stored
    aggregate — table size never appears. Keys whose count reaches zero
    drop out (no tombstone rows). Maintains (key, n_rows, value_sum);
    min/max are NOT maintainable from deltas alone (a deleted max needs
    a rescan of its group — the standard IVM caveat) and belong to the
    rollup-refresh path instead."""
    sign = F.when(
        F.col("_change_type").isin("insert", "update_postimage"), F.lit(1)
    ).otherwise(F.lit(-1))
    delta = (
        feed.groupBy(F.col(key_col).alias("key"))
        .agg(
            F.sum(sign).alias("_dn"),
            # int-literal fallbacks keep DECIMAL value columns exact
            # (a 0.0 double literal would upcast the whole sum)
            F.sum(sign * F.coalesce(F.col(value_col), F.lit(0))).alias("_dv"),
        )
    )
    return (
        base_agg.join(delta, "key", "full_outer")
        .select(
            "key",
            (F.coalesce(F.col("n_rows"), F.lit(0)) + F.coalesce(F.col("_dn"), F.lit(0)))
            .alias("n_rows"),
            F.round(
                F.coalesce(F.col("value_sum"), F.lit(0))
                + F.coalesce(F.col("_dv"), F.lit(0)),
                6,
            ).alias("value_sum"),
        )
        .filter(F.col("n_rows") > 0)
    )


def scd2_history(base: DataFrame, feed: DataFrame, keys: list[str]) -> DataFrame:
    """Slowly-changing-dimension type-2 derivation from a CDC feed — the
    other classic feed consumer next to apply_cdc_delta: the version-0
    snapshot plus every update postimage opens an attribute state, every
    delete closes one, and each key's states get
    [valid_from_version, valid_to_version) intervals (valid_to NULL =
    current). Re-inserts after a delete open a fresh interval.

    Plan: one union of the (base ∪ postimage ∪ tombstone) event rows and
    ONE keyed window (lead over commit version per key) — feed-sized
    work after the base scan, no self-join. Point-in-time dimension
    lookups then join facts on key with
    valid_from <= v < coalesce(valid_to, ∞) — the SCD-2 contract."""
    from pyspark.sql import Window as W

    cols = [c for c in base.columns if c not in ("_change_type", "_commit_version")]
    opens = base.select(*cols, F.lit(0).alias("valid_from"),
                        F.lit(0).alias("_tomb"))
    post = feed.filter(
        F.col("_change_type").isin("insert", "update_postimage")
    ).select(*cols, F.col("_commit_version").cast("int").alias("valid_from"),
             F.lit(0).alias("_tomb"))
    tomb = feed.filter(F.col("_change_type") == "delete").select(
        *cols, F.col("_commit_version").cast("int").alias("valid_from"),
        F.lit(1).alias("_tomb"))
    ev = opens.unionByName(post).unionByName(tomb)
    w = W.partitionBy(*keys).orderBy("valid_from", "_tomb")
    return (
        ev.withColumn("valid_to", F.lead("valid_from").over(w))
        .filter(F.col("_tomb") == 0)
        .drop("_tomb")
    )


def quantile_rollup_frames(
    events: DataFrame,
    ts_col: str = "ts",
    key_col: str = "event_type",
    value_col: str = "value",
    bucket: str = "hour",
    bins: int = 128,
) -> tuple[DataFrame, tuple[float, float, bool]]:
    """(hist frame, (vmin, vmax, empty)): the EXACT frame
    build_quantile_rollup writes, exposed so bench.py can
    plan-fingerprint the build phase without duplicating its plan logic
    (VERDICT r10 item 3 — build-side drift decidable like probe drift).
    Costs one eager scalar min/max pass; the returned hist is lazy."""
    # NULL values carry no quantile information and MUST be excluded
    # before binning: least(bins-1, floor(NULL)) evaluates to bins-1
    # (Spark's least skips NULLs), which would silently pile NULL rows
    # into the top bin and inflate upper quantiles
    events = events.filter(F.col(value_col).isNotNull())
    mm = events.agg(
        F.min(F.col(value_col).cast("double")).alias("vmin"),
        F.max(F.col(value_col).cast("double")).alias("vmax"),
    ).first()
    vmin = float(mm.vmin) if mm.vmin is not None else 0.0
    vmax = float(mm.vmax) if mm.vmax is not None else 0.0
    span = (vmax - vmin) or 1.0
    b = F.least(
        F.lit(bins - 1),
        F.floor((F.col(value_col).cast("double") - vmin) / span * bins).cast("int"),
    )
    hist = (
        events.groupBy(
            F.date_trunc(bucket, F.col(ts_col)).alias("bucket"),
            F.col(key_col).alias("key"),
            b.alias("bin"),
        )
        .agg(F.count("*").alias("ct"))
        .withColumn("bucket_date", F.to_date("bucket"))
    )
    return hist, (vmin, vmax, mm.vmin is None)


def build_quantile_rollup(
    events: DataFrame,
    out_path: str,
    ts_col: str = "ts",
    key_col: str = "event_type",
    value_col: str = "value",
    bucket: str = "hour",
    bins: int = 128,
) -> None:
    """Histogram rollup for QUANTILES over arbitrary ranges — the third
    member of the mergeable-state family (count/sum partials, HLL
    distinct sketches, and now fixed-bin value histograms): per
    (bucket, key), counts over `bins` equi-width bins of the value's
    global [min, max]. Bin counts merge by plain summation, so any time
    window's quantile comes from bucket-sized state — and unlike
    percentile_approx partials, every step is deterministic, so an
    external oracle can replay the estimate exactly.

    Layout: (bucket, key, bin, ct) partitioned by bucket_date, plus a
    one-row meta frame (vmin, vmax, bins) the query side reads back.
    Build cost: one scalar min/max pass + one map-side-combined shuffle
    bounded by bucket x key x bins."""
    spark = events.sparkSession
    hist, (vmin, vmax, empty) = quantile_rollup_frames(
        events, ts_col, key_col, value_col, bucket, bins
    )
    if empty:
        # empty input: a zero-row PARTITIONED write leaves only _SUCCESS
        # (unreadable — no schema to infer); the unpartitioned write of
        # the empty frame keeps a schema-bearing part file so
        # quantile_over_range returns an empty result instead of raising
        hist.write.mode("overwrite").parquet(f"{out_path}/hist")
    else:
        (
            hist.repartition("bucket_date")
            .write.mode("overwrite")
            .partitionBy("bucket_date")
            .parquet(f"{out_path}/hist")
        )
    # a LocalRelation meta frame: its write runs no Python worker (sqlutil)
    local_frame(
        spark, [(float(vmin), float(vmax), int(bins))], "vmin double, vmax double, bins int"
    ).coalesce(1).write.mode("overwrite").parquet(f"{out_path}/meta")


def quantile_over_range(
    spark: SparkSession,
    rollup_path: str,
    q: float,
    start=None,
    end=None,
) -> DataFrame:
    """Query the histogram rollup: merge bin counts over [start, end)
    (partition-pruned by bucket_date, like the sibling rollups), then
    per key pick the bin holding rank ceil(q * total) and interpolate
    linearly inside it. Every step is plain deterministic arithmetic
    (rounded to 6dp) — the estimate reproduces on any engine, with error
    bounded by the bin width. Returns (key, n, q_est)."""
    from pyspark.sql import Window as W

    meta = spark.read.parquet(f"{rollup_path}/meta").first()
    width = ((meta.vmax - meta.vmin) or 1.0) / meta.bins
    r = _bucket_range(
        spark.read.option("basePath", f"{rollup_path}/hist").parquet(
            f"{rollup_path}/hist"
        ),
        start, end,
    )
    merged = r.groupBy("key", "bin").agg(F.sum("ct").alias("ct"))
    w = W.partitionBy("key").orderBy("bin")
    wk = W.partitionBy("key")
    ranked = (
        merged.withColumn("cum", F.sum("ct").over(w))
        .withColumn("total", F.sum("ct").over(wk))
        .withColumn("target", F.ceil(F.lit(q) * F.col("total")))
        .filter(F.col("cum") >= F.col("target"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
    )
    est = (
        F.lit(meta.vmin)
        + (F.col("bin") + (F.col("target") - (F.col("cum") - F.col("ct")))
           / F.col("ct")) * F.lit(width)
    )
    return ranked.select(
        "key", F.col("total").alias("n"), F.round(est, 6).alias("q_est")
    )


# --------------------------------------------------------------------------
# heavy-hitters rollup — the fourth sketch family (after algebraic, HLL,
# histogram-quantile): mergeable per-bucket top-K summaries


def truncate_topk(counts: DataFrame, capacity: int) -> DataFrame:
    """Deterministic per-bucket truncation of (bucket, item, cnt) counts
    to the `capacity` most frequent items (count desc, item asc) plus two
    numbers summarizing what was dropped: dropped_max (the error bound —
    no absent item's count exceeds it) and dropped_mass. Shared by the
    batch builder below and the streaming per-micro-batch sketch
    (streaming/ops.streaming_topk_ingest); both sides emitting the SAME
    truncation is what makes the merged streaming sketch
    oracle-reproducible. The per-bucket top-K runs as a WindowGroupLimit
    (per-partition partial heaps before the exchange), so the window
    shuffle carries O(buckets x capacity) for the kept side."""
    from pyspark.sql import Window as W

    w = W.partitionBy("bucket").orderBy(F.col("cnt").desc(), F.col("item"))
    ranked = counts.withColumn("rn", F.row_number().over(w))
    kept = ranked.filter(F.col("rn") <= capacity).drop("rn")
    dropped = (
        ranked.filter(F.col("rn") > capacity)
        .groupBy("bucket")
        .agg(F.max("cnt").alias("dropped_max"),
             F.sum("cnt").alias("dropped_mass"))
    )
    return kept.join(dropped, "bucket", "left").fillna(
        0, subset=["dropped_max", "dropped_mass"]
    )


def build_topk_rollup(
    events: DataFrame,
    out_path: str,
    ts_col: str = "ts",
    item_col: str = "user_id",
    bucket: str = "hour",
    capacity: int = 16,
) -> None:
    """Heavy-hitters rollup — per time bucket, keep only the `capacity`
    most frequent items (count desc, item asc — a DETERMINISTIC
    truncation, so the whole sketch is oracle-reproducible) plus two
    numbers summarizing what was dropped: the dropped maximum (the error
    bound any absent item's count is below) and the dropped mass. This
    is the mergeable SpaceSaving/Misra-Gries summary shape: "top pages
    per hour" state that answers top-k over ARBITRARY ranges from
    bucket-sized state.

    Scale: one map-side-combined shuffle for the (bucket, item) counts,
    then a WindowGroupLimit-optimized per-bucket top-K — per-partition
    partial heaps before the exchange, so the window shuffle carries
    O(buckets x capacity), not the raw item universe. State per bucket
    is capacity rows regardless of cardinality; range reads prune
    bucket_date partitions at the listing level."""
    (
        topk_rollup_frame(events, ts_col, item_col, bucket, capacity)
        .repartition("bucket_date")
        .write.mode("overwrite")
        .partitionBy("bucket_date")
        .parquet(out_path)
    )


def topk_rollup_frame(
    events: DataFrame,
    ts_col: str = "ts",
    item_col: str = "user_id",
    bucket: str = "hour",
    capacity: int = 16,
) -> DataFrame:
    """The EXACT (lazy) frame build_topk_rollup writes — exposed so
    bench.py can plan-fingerprint the build phase without duplicating
    its plan logic (VERDICT r10 item 3)."""
    counts = events.groupBy(
        F.date_trunc(bucket, F.col(ts_col)).alias("bucket"),
        F.col(item_col).alias("item"),
    ).agg(F.count("*").alias("cnt"))
    return truncate_topk(counts, capacity).withColumn("bucket_date", F.to_date("bucket"))


#: Below this k a top-k's per-task buffer (about 2k references) is small,
#: so summary_limit reads no footers.
_TOPK_BOUND_FROM = 100_000


def summary_limit(summaries: DataFrame, k: int) -> int:
    """The ``limit`` for a top-k over merged heavy-hitter summaries.
    Spark's TakeOrderedAndProject sizes each task's buffer by k, so
    k=10**9 asks for gigabytes of heap. A k of at least _TOPK_BOUND_FROM
    is clamped to the rows in the parquet files ``summaries`` scans — an
    upper bound on the merged item count, summed from the file footers
    without a Spark job. Smaller k is returned as is, so those plans keep
    their literal limit."""
    if k < _TOPK_BOUND_FROM:
        return k
    import pyarrow.parquet as pq
    from pyarrow import fs

    rows = 0
    for uri in summaries.inputFiles():
        filesystem, path = fs.FileSystem.from_uri(uri)
        with filesystem.open_input_file(path) as fh:
            rows += pq.ParquetFile(fh).metadata.num_rows
    return min(k, rows)


def topk_over_range(
    spark: SparkSession,
    rollup_path: str,
    k: int = 10,
    start=None,
    end=None,
) -> DataFrame:
    """Query the heavy-hitters rollup: merge the per-bucket top-K
    summaries in [start, end) into global count BOUNDS per item —
    est_min = the item's summed kept counts (everything it provably
    did), est_max = est_min + the dropped_max of every bucket where the
    item is ABSENT from the summary (it could have hidden under each
    bucket's truncation line, never above it). Items ranked by est_min
    with the item id as the tie-break; any item whose true range count
    exceeds max(dropped_max) over the range is guaranteed present —
    the standard mergeable-summary guarantee. Work is proportional to
    buckets x capacity, never the raw events."""
    r = _bucket_range(
        spark.read.option("basePath", rollup_path).parquet(rollup_path),
        start, end,
    )
    total_dmax = r.select("bucket", "dropped_max").distinct().agg(
        F.sum("dropped_max").alias("_total_dmax")
    )
    per_item = r.groupBy("item").agg(
        F.sum("cnt").alias("est_min"),
        F.sum("dropped_max").alias("_present_dmax"),
    )
    return (
        per_item.crossJoin(F.broadcast(total_dmax))
        .select(
            "item",
            "est_min",
            (F.col("est_min") + F.col("_total_dmax") - F.col("_present_dmax"))
            .alias("est_max"),
        )
        .orderBy(F.col("est_min").desc(), "item")
        .limit(summary_limit(r, k))
    )


# --------------------------------------------------------------------------
# Sketch family 5 (after algebraic, HLL-distinct, histogram-quantile,
# heavy-hitters top-K): count-min point-frequency estimates


def build_cms_rollup(
    events: DataFrame,
    out_path: str,
    ts_col: str = "ts",
    item_col: str = "user_id",
    bucket: str = "hour",
    depth: int = 4,
    width: int = 256,
) -> None:
    """Count-min sketch rollup (Cormode & Muthukrishnan '05): per time
    bucket, a depth x width counter grid answering "how many times did
    item X occur?" with one-sided error — never under, over by at most
    eps x total mass (eps ~ e/width) with prob 1 - (1/2)^depth. The
    heavy-hitters rollup above answers "who is big?"; this one answers
    point lookups for items you NAME, in constant state per bucket.

    The hash family is the house md5 primitive (sampling.hash_frac):
    row d's cell for an item is md5(item || ':' || d) — deterministic,
    engine-replayable, one independent-enough function per row. Build
    reduces FIRST (map-side combined (bucket, item) counts), then
    explodes each item to its depth cells and sums per cell — the
    explode multiplies the already-reduced item frame, never raw
    events. State per bucket <= depth x width rows regardless of item
    cardinality; bucket_date partitions prune range reads at listing
    level (same layout contract as every sketch above)."""
    counts = events.groupBy(
        F.date_trunc(bucket, F.col(ts_col)).alias("bucket"),
        F.col(item_col).cast("string").alias("item"),
    ).agg(F.count("*").alias("cnt"))
    spine = F.array(*[F.lit(d) for d in range(depth)])
    cells = counts.select(
        "bucket", "cnt",
        F.explode(spine).alias("row"),
        F.col("item"),
    ).select(
        "bucket", "row", "cnt",
        (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.col("item"), F.lit(":"), F.col("row").cast("string"))),
                    1, 8,
                ),
                16, 10,
            ).cast("bigint") % width
        ).alias("col"),
    )
    (
        cells.groupBy("bucket", "row", "col")
        .agg(F.sum("cnt").alias("cnt"))
        .withColumn("bucket_date", F.to_date("bucket"))
        .repartition("bucket_date")
        .write.mode("overwrite")
        .partitionBy("bucket_date")
        .parquet(out_path)
    )


def cms_estimates(
    spark: SparkSession,
    rollup_path: str,
    items: list,
    start=None,
    end=None,
    depth: int = 4,
    width: int = 256,
) -> DataFrame:
    """Point-frequency estimates for NAMED items over a bucket range of
    the count-min store: merge = cell-wise sum across buckets (the
    standard mergeable-sketch composition), estimate = min over the
    depth rows of the item's cell counts; an item whose cells were never
    touched estimates 0. depth/width must match the build.

    Work is O(range's sketch rows + |items| x depth) — the raw event
    count never appears. The tiny probe frame (|items| x depth rows,
    driver-literal) is broadcast onto the merged grid.

    Returns (item string, est bigint) for every requested item."""
    r = _bucket_range(spark.read.parquet(rollup_path), start, end)
    grid = r.groupBy("row", "col").agg(F.sum("cnt").alias("cnt"))
    # VALUES instead of createDataFrame (r13): the probe spine is
    # driver-literal either way, but createDataFrame builds an RDD-backed
    # frame that costs a job per estimate call, while VALUES stays a JVM
    # LocalRelation (the queries.py precedent) — same rows, same types.
    # r14 (ADVICE r13): item strings bind as NAMED parameters, not
    # string-built literals, so the spelling is independent of
    # spark.sql.parser.escapedStringLiterals; an empty item list returns
    # the documented empty (item, est) frame instead of a parse error.
    # Named, not positional: repeated positional `?` slots inside one
    # inline VALUES table misbind in Spark 4.1 (adjacent literals get
    # swapped/duplicated — reproduced and pinned in tests), named ones
    # bind correctly.
    if not items:
        return spark.sql(
            "SELECT '' AS item, CAST(0 AS BIGINT) AS est WHERE false"
        )
    args = {f"i{n}": str(it) for n, it in enumerate(items)}
    vals = ", ".join(
        f"(:i{n}, {int(d)})" for n in range(len(items)) for d in range(depth)
    )
    probe = spark.sql(
        f"SELECT item, CAST(row AS BIGINT) AS row FROM (VALUES {vals}) AS t(item, row)",
        args=args,
    ).select(
        "item", "row",
        (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.col("item"), F.lit(":"), F.col("row").cast("string"))),
                    1, 8,
                ),
                16, 10,
            ).cast("bigint") % width
        ).alias("col"),
    )
    # right outer keeps every probe cell; the BUILD side is the grid,
    # which is bounded by construction (<= depth x width rows after the
    # cell-wise merge), so the broadcast is provably safe — a left outer
    # with a broadcast probe would drop the hint (can't build the
    # outer side) and shuffle both frames instead
    return (
        F.broadcast(grid)
        .join(probe, ["row", "col"], "right")
        .groupBy("item")
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).cast("bigint").alias("est"))
    )
