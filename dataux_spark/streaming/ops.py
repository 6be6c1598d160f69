"""Structured Streaming operators — beyond-reference extensions.

The reference has NO stream processing (SURVEY §2.11: its "streams" are
paged result iteration, e.g. mongo cursors at
/root/reference/backends/mongo/mgo_results.go:141). These operators give the
engine the streaming surface a 100 TB events pipeline needs, built on
Structured Streaming's incremental execution:

  windowed_agg        — tumbling/sliding event-time windows + watermark for
                        late data; state is bounded by the watermark.
  session_window_agg  — data-driven session windows (gap-closed).
  stateful_user_counter — arbitrary per-key state via
                        applyInPandasWithState (Arrow-batched).

Local testing drives a parquet file source with `availableNow` semantics
into a memory sink (`run_to_memory`) — the same code attaches to Kafka by
swapping the reader, which is exactly Structured Streaming's contract.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dataux_spark.sqlutil import local_frame, session_cache

def stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream over the events parquet (file source = the local stand-in
    for Kafka; one file becomes one micro-batch).

    Structured Streaming requires an explicit schema, but hardcoding one is
    how rounds 1-3 shipped a wrong-era bug (testdata moved from
    TIMESTAMP(NANOS) to TIMESTAMP(MICROS) and a fixed LongType + DIV 1000
    put every event in January 1970). Instead: take the schema from a batch
    read of the same file — a one-file footer read, not a data scan — and
    apply the nanos→µs conversion ONLY when the column actually loaded as
    bigint, mirroring the batch reader (queries.read_table)."""
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    except Exception:
        pass
    # Footer-schema probe memoized per (session, dir) — the same
    # metadata-catalog memo as queries.read_table (r13): repeat
    # streaming runs were re-reading the footer (~80-120 ms) per query
    # build. Schema only, never data; dies with the session object.
    cache = session_cache(spark, "_dataux_stream_schema_cache")
    batch_schema = cache.get(sf_dir)
    if batch_schema is None:
        batch_schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
        cache[sf_dir] = batch_schema
    raw = (
        spark.readStream.schema(batch_schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    if isinstance(batch_schema["ts"].dataType, T.LongType):
        raw = raw.withColumn("ts", F.expr("timestamp_micros(CAST(ts DIV 1000 AS LONG))"))
    elif isinstance(batch_schema["ts"].dataType, T.TimestampNTZType):
        # Watermarks require TIMESTAMP (ltz). Session tz is pinned UTC, so
        # this cast preserves the wall-clock instant exactly.
        raw = raw.withColumn("ts", F.col("ts").cast("timestamp"))
    return raw


def windowed_agg(
    stream: DataFrame,
    window: str = "1 hour",
    slide: str | None = None,
    watermark: str = "2 hours",
) -> DataFrame:
    """Event-time windowed counts/sums with a watermark bound on state.

    Append-mode emits a window only once the watermark passes its end —
    late rows inside the watermark still count; older ones are dropped.
    State size is O(active windows × event types), independent of stream
    length."""
    win = F.window("ts", window, slide) if slide else F.window("ts", window)
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(win.alias("win"), "event_type")
        .agg(F.count("*").alias("ct"), F.round(F.sum("value"), 2).alias("total"))
        .select(
            F.col("win.start").alias("win_start"),
            F.col("win.end").alias("win_end"),
            "event_type",
            "ct",
            "total",
        )
    )


def session_window_agg(
    stream: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours"
) -> DataFrame:
    """Data-driven session windows per user (the streaming twin of
    operators/timeseries.sessionize)."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("sw"), "user_id")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("total"))
        .select(
            F.col("sw.start").alias("sess_start"),
            F.col("sw.end").alias("sess_end"),
            "user_id",
            "n_events",
            "total",
        )
    )


def stream_stream_join(
    left: DataFrame,
    right: DataFrame,
    on: str = "user_id",
    lookback: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-stream inner join: each left event pairs with right events of
    the same key from the preceding `lookback` window.

    Both sides carry watermarks so the join state is bounded: a buffered
    right row can be dropped once the left watermark passes its ts +
    lookback (Structured Streaming derives the state TTL from the range
    condition — unbounded-state stream joins are rejected without it)."""
    l = left.withWatermark("ts", watermark).alias("l")
    r = right.withWatermark("ts", watermark).alias("r")
    cond = F.expr(
        f"l.{on} = r.{on} AND r.ts >= l.ts - INTERVAL {lookback} AND r.ts <= l.ts"
    )
    return l.join(r, cond, "inner").select(
        F.col(f"l.{on}").alias(on),
        F.col("l.event_id").alias("left_id"),
        F.col("l.ts").alias("left_ts"),
        F.col("r.event_id").alias("right_id"),
        F.col("r.ts").alias("right_ts"),
    )


STATE_SCHEMA = "n_events bigint, total double"
COUNTER_OUT_SCHEMA = "user_id bigint, n_events bigint, total double"


def streaming_dedup(
    stream: DataFrame,
    key_cols: list[str] | None = None,
    watermark: str = "2 hours",
    within_watermark: bool = False,
) -> DataFrame:
    """Streaming exact deduplication — the ingest-time half of the corpus
    dedup story (batch half: operators/dedup.exact_dedup).

    `dropDuplicates` keeps one row per key with state bounded by the
    watermark: duplicate keys arriving inside the watermark horizon are
    dropped; state for keys older than the horizon is evicted, so state
    size is O(keys per horizon), independent of stream length.
    `within_watermark=True` uses dropDuplicatesWithinWatermark (Spark 3.5+):
    dedup among rows whose EVENT TIMES fall inside the watermark window —
    the right semantics when the same document can legitimately reappear
    much later (re-crawls) and only near-in-time duplicates are noise."""
    keys = key_cols or ["event_id"]
    s = stream.withWatermark("ts", watermark)
    if within_watermark:
        return s.dropDuplicatesWithinWatermark(keys)
    return s.dropDuplicates(keys)


def stateful_user_counter(stream: DataFrame, timeout: str = "NoTimeout") -> DataFrame:
    """Arbitrary stateful op: running per-user event count + value total,
    emitting the updated state every micro-batch
    (applyInPandasWithState — Arrow-batched, state bounded per key)."""
    import pandas as pd

    def update(key, pdfs, state):
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, round(total, 2)))
        yield pd.DataFrame({"user_id": [key[0]], "n_events": [n], "total": [round(total, 2)]})

    return stream.groupBy("user_id").applyInPandasWithState(
        update, COUNTER_OUT_SCHEMA, STATE_SCHEMA, "update", timeout
    )


#: Declared expected distinct state keys per streaming query (windows ×
#: group keys for aggregations, open sessions for session windows) and
#: the per-state-store key budget that turns it into a partition count.
#: Read from the session conf so a deployment declares ITS cardinality.
_STATE_KEYS_CONF = "spark.dataux.streaming.expectedStateKeys"
_STATE_KEYS_DEFAULT = 2048
_KEYS_PER_STATE_PARTITION = 256


def _state_partitions(spark) -> int:
    """State-store count for a streaming query, derived from the DECLARED
    expected state-key cardinality — never from machine cores. A stateful
    query pays per state partition per micro-batch (delta + snapshot
    files, store open/commit), so the count must follow the data: at
    ~256 keys per store the files stay small and commit overhead bounded,
    and a deployment declaring millions of keys gets hundreds of stores.
    Spark pins the count into the checkpoint at first start (it cannot
    change for the query's lifetime), which is exactly why inheriting
    whatever spark.sql.shuffle.partitions the session happens to run —
    32 on the local bench, where the windowed agg holds ~3.6k keys and
    measured 1.58 s vs 0.80 s at the derived 8 — is the wrong default."""
    try:
        keys = int(spark.conf.get(_STATE_KEYS_CONF, str(_STATE_KEYS_DEFAULT)))
    except ValueError:
        keys = _STATE_KEYS_DEFAULT
    return max(1, -(-keys // _KEYS_PER_STATE_PARTITION))


def run_to_memory(
    result: DataFrame, name: str, output_mode: str = "append"
) -> "DataFrame":
    """Drive a streaming DataFrame to completion into an in-memory table
    (local testing harness; production swaps in kafka/delta/foreachBatch
    sinks). Returns the sink table DataFrame.

    Shuffle/state partitions for the query follow _state_partitions (the
    declared-cardinality rule); the session value is restored once the
    run completes, so batch queries are untouched. Partitioning never
    changes a result — only how state is spread across stores."""
    spark = result.sparkSession
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(_state_partitions(spark)))
    try:
        q = (
            result.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return spark.table(name)


def streaming_incremental_neardup(
    stream: DataFrame,
    content_col: str,
    id_col: str,
    store_path: str,
    pairs_path: str,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    threshold: float = 0.5,
    update_store: bool = True,
):
    """Ingest-time NEAR-dup detection: probe-then-commit per micro-batch
    against the persisted minhash store (operators/dedup).

    Each micro-batch (a) probes the store for near-duplicates of its docs
    among EVERYTHING ingested before it — history batches and earlier
    micro-batches of this same stream alike — appending the flagged
    (batch_id, store_id, jaccard, batch) pairs to `pairs_path`; then
    (b) commits its own signatures to the store, so later batches see it.
    This is the streaming twin of dedup.incremental_minhash_candidates:
    foreachBatch is exactly Structured Streaming's contract for stateful
    side-effects whose state lives OUTSIDE the engine (a shared parquet/
    lakehouse signature table), which is what a multi-pipeline corpus
    ingest needs — the streaming state store is per-query, the signature
    store is per-corpus.

    Exactly-once caveat, by design: foreachBatch is at-least-once on
    retry; the store layout is append-only + dropDuplicates on probe, so
    a replayed batch re-flags the same pairs (idempotent for the dedup
    decision) rather than corrupting the store. Returns the streaming
    query handle; callers drive it (trigger(availableNow) in tests)."""
    from dataux_spark.operators.dedup import (
        incremental_minhash_candidates,
        minhash_signatures,
        update_minhash_store,
    )

    def _probe_then_commit(bdf: DataFrame, batch_id: int) -> None:
        # ONE signature computation per micro-batch, shared by the probe
        # and the commit (the 64-hash stage dominates per-batch cost);
        # persisted scope-bounded, freed before the batch completes
        sigs = minhash_signatures(
            bdf, content_col, id_col, num_hashes, shingle_n
        ).persist()
        try:
            (
                incremental_minhash_candidates(
                    bdf, content_col, id_col, store_path,
                    num_hashes, bands, shingle_n, threshold, sigs=sigs,
                )
                .withColumn("batch", F.lit(batch_id))
                .write.mode("append").parquet(pairs_path)
            )
            if update_store:
                update_minhash_store(
                    bdf, content_col, id_col, store_path,
                    num_hashes, bands, shingle_n, sigs=sigs,
                )
        finally:
            sigs.unpersist()

    return (
        stream.writeStream.foreachBatch(_probe_then_commit)
        .trigger(availableNow=True)
        .start()
    )


def streaming_rollup_ingest(
    stream: DataFrame,
    rollup_path: str,
    ts_col: str = "ts",
    key_col: str = "event_type",
    bucket: str = "hour",
):
    """Continuous-aggregate ingest — the streaming twin of
    operators/rollup.refresh_rollup: each micro-batch reduces to its
    algebraic (count/sum/min/max) partials and lands as its OWN batch
    partition of the rollup store; readers merge partials per bucket
    (merged_rollup below), so ingest never rewrites history and a bucket
    split across micro-batches still aggregates exactly.

    Replay-safe by layout: a batch writes mode("overwrite") into its
    ingest_batch=<id> directory, so an at-least-once foreachBatch retry
    replaces its own partials instead of double-counting them. At scale
    the per-batch write is bucket-by-key-sized (map-side combined), and a
    periodic compaction can fold old batch partitions together with
    maintenance.compact. Returns the streaming query handle."""
    from dataux_spark.operators.rollup import _bucket_agg

    def _merge(bdf: DataFrame, batch_id: int) -> None:
        (
            _bucket_agg(bdf, ts_col, key_col, bucket)
            .withColumn("bucket_date", F.to_date("bucket"))
            .write.mode("overwrite")
            .parquet(f"{rollup_path}/ingest_batch={batch_id}")
        )

    return (
        stream.writeStream.foreachBatch(_merge)
        .trigger(availableNow=True)
        .start()
    )


def merged_rollup(spark: SparkSession, rollup_path: str) -> DataFrame:
    """Merge-on-read over the streamed rollup store: re-aggregate the
    algebraic partials per (bucket, key). Work is proportional to
    bucket x key x batch-partition count, never raw rows."""
    raw = spark.read.option("basePath", rollup_path).parquet(
        f"{rollup_path}/ingest_batch=*"
    )
    return raw.groupBy("bucket", "key").agg(
        F.sum("n_events").alias("n_events"),
        F.round(F.sum("value_sum"), 2).alias("value_sum"),
        F.min("value_min").alias("value_min"),
        F.max("value_max").alias("value_max"),
    )


def streaming_topk_ingest(
    stream: DataFrame,
    rollup_path: str,
    ts_col: str = "ts",
    item_col: str = "user_id",
    bucket: str = "hour",
    capacity: int = 16,
):
    """Heavy-hitters streaming ingest — the streaming twin of
    rollup.build_topk_rollup: each micro-batch reduces to its OWN
    per-bucket capacity-truncated top-K sketch (rollup.truncate_topk —
    count desc, item asc, plus the dropped_max/dropped_mass summary) and
    lands in its ingest_batch=<id> partition; merged_topk below answers
    top-k over the whole store with per-item [est_min, est_max] bounds.

    Replay-safe by the same layout contract as streaming_rollup_ingest:
    an at-least-once foreachBatch retry overwrites its own batch
    directory, never double-counting. Per-batch work is one map-side
    combined count shuffle + a WindowGroupLimit top-K; state per
    (bucket, batch) is capacity rows regardless of item cardinality, so
    at 100 TB/day the store grows with buckets x batches x capacity, not
    traffic. Returns the streaming query handle."""
    from dataux_spark.operators.rollup import truncate_topk

    def _sketch(bdf: DataFrame, batch_id: int) -> None:
        counts = bdf.groupBy(
            F.date_trunc(bucket, F.col(ts_col)).alias("bucket"),
            F.col(item_col).alias("item"),
        ).agg(F.count("*").alias("cnt"))
        (
            truncate_topk(counts, capacity)
            .write.mode("overwrite")
            .parquet(f"{rollup_path}/ingest_batch={batch_id}")
        )

    return (
        stream.writeStream.foreachBatch(_sketch)
        .trigger(availableNow=True)
        .start()
    )


def merged_topk(spark: SparkSession, rollup_path: str, k: int = 10) -> DataFrame:
    """Merge-on-read over the streamed heavy-hitters store: combine every
    (bucket, micro-batch) sketch into global per-item count BOUNDS —
    est_min = the item's summed kept counts (everything it provably did),
    est_max = est_min + the dropped_max of every sketch the item is
    ABSENT from (it could have hidden under each sketch's truncation
    line, never above it) — then rank by est_min with the item id as the
    tie-break. The same math as rollup.topk_over_range with the sketch
    grain widened from bucket to (bucket, ingest_batch); the standard
    mergeable-summary guarantee carries over: any item whose true count
    exceeds the summed dropped bound is present. Work is proportional to
    buckets x batches x capacity, never raw events."""
    from dataux_spark.operators.rollup import summary_limit

    r = spark.read.option("basePath", rollup_path).parquet(
        f"{rollup_path}/ingest_batch=*"
    )
    total_dmax = (
        r.select("bucket", "ingest_batch", "dropped_max")
        .distinct()
        .agg(F.sum("dropped_max").alias("_total_dmax"))
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


def streaming_url_dedup_ingest(
    stream: DataFrame,
    url_col: str,
    id_col: str,
    store_path: str,
    accepted_path: str,
):
    """Ingest-time URL dedup — the crawl-frontier filter: each
    micro-batch canonicalizes its URLs (operators/web), keeps one row
    per canonical key WITHIN the batch (min id), drops keys already in
    the persisted canonical-key store (everything accepted before it —
    history and earlier micro-batches alike), appends the survivors to
    `accepted_path`, then commits their keys to the store so later
    batches see them. Same probe-then-commit contract as
    streaming_incremental_neardup: foreachBatch because the dedup state
    is a per-corpus shared table, not per-query streaming state.

    Replay caveat, by design: at-least-once foreachBatch retry re-probes
    an already-committed batch — every key is then already in the store,
    so the replay accepts nothing and re-appends nothing new to the
    store (append of already-present keys is harmless for the dedup
    decision: probes use a semi/anti join, duplicates in the store
    change no outcome). Returns the streaming query handle."""
    from dataux_spark.operators.web import canonical_url_col

    def _probe_then_commit(bdf: DataFrame, batch_id: int) -> None:
        spark = bdf.sparkSession
        canon = (
            bdf.withColumn("url_canon", canonical_url_col(F.col(url_col)))
            .filter(F.col("url_canon") != "")
        )
        # within-batch keeper: min id per canonical key
        w_min = canon.groupBy("url_canon").agg(F.min(id_col).alias(id_col))
        batch_keep = canon.join(w_min, ["url_canon", id_col])
        try:
            store = spark.read.parquet(store_path).select("url_canon")
        except Exception:  # first batch: no store yet
            store = None
        fresh = (
            batch_keep.join(store, "url_canon", "left_anti")
            if store is not None
            else batch_keep
        )
        fresh = fresh.persist()
        try:
            fresh.withColumn("batch", F.lit(batch_id)).write.mode(
                "append"
            ).parquet(accepted_path)
            fresh.select("url_canon").write.mode("append").parquet(store_path)
        finally:
            fresh.unpersist()

    return (
        stream.writeStream.foreachBatch(_probe_then_commit)
        .trigger(availableNow=True)
        .start()
    )


EWMA_STATE_SCHEMA = "n long, mean double, var double"


def streaming_ewma_anomalies(
    stream: DataFrame,
    key_col: str = "event_type",
    value_col: str = "value",
    id_col: str = "event_id",
    alpha: float = 0.1,
    min_n: int = 10,
    threshold: float = 3.0,
) -> DataFrame:
    """Streaming per-key anomaly flags — the online twin of
    timeseries.rolling_zscore_anomalies: each key carries an EWMA
    mean/variance state (West's exponentially-weighted update), every
    incoming value is scored against the state BEFORE it is folded in
    (an outlier never masks itself), and rows with fewer than min_n
    prior observations are unscored. applyInPandasWithState keeps the
    state three numbers per key — bounded regardless of stream length,
    the property a watermark-windowed agg cannot give an unbounded-
    lookback baseline.

    Batch-order determinism: a key's micro-batch arrives as MULTIPLE
    Arrow chunks, so the chunks are concatenated and sorted ONCE before
    folding — per-chunk sorting would score out of id order whenever a
    batch spans chunks. In production the Kafka partition-by-key
    guarantees per-key arrival order, which is the order the EWMA is
    defined over.

    A CONSTANT baseline (var == 0 after warmup) flags any deviating
    value as anomalous with z NULL (the deviation is infinite-sigma —
    stricter than the batch twin, whose oracle-pinned rule leaves sd=0
    rows unscored). Output columns keep the caller's key/id names and
    types; value/z are double, is_anomaly int.

    The fold stays a scalar Python loop on purpose: the EWMA recurrence
    IS vectorizable via cumulative (1-alpha)^i weights, but that form
    underflows past a few thousand rows per (key, batch) and its
    re-association drifts from the fold at the 6dp the tests pin; per-key
    micro-batches at anomaly cadences are small, so the loop costs
    microseconds where the closed form costs exactness."""
    import pandas as pd

    names = [key_col, id_col, value_col]
    if len(set(names)) != 3 or {"z", "is_anomaly"} & set(names):
        # the output dict keys these names next to the literal z /
        # is_anomaly columns — a collision would silently merge entries
        # and abort every micro-batch inside the executor
        raise ValueError(
            "key_col, id_col, and value_col must be distinct and must "
            f"not be named 'z' or 'is_anomaly' (got {names})"
        )
    key_t = stream.schema[key_col].dataType.simpleString()
    id_t = stream.schema[id_col].dataType.simpleString()
    out_schema = (
        f"`{key_col}` {key_t}, `{id_col}` {id_t}, "
        f"`{value_col}` double, z double, is_anomaly int"
    )

    def update(key, pdfs, state):
        n, mean, var = state.get if state.exists else (0, 0.0, 0.0)
        out = {key_col: [], id_col: [], value_col: [], "z": [],
               "is_anomaly": []}
        chunks = [pdf for pdf in pdfs]
        batch = (pd.concat(chunks).sort_values(id_col) if len(chunks) > 1
                 else chunks[0].sort_values(id_col)) if chunks else None
        rows = zip(batch[id_col], batch[value_col]) if batch is not None else ()
        for _id, v in rows:
            v = float(v)
            warm = n >= min_n
            if warm and var > 0:
                z = round((v - mean) / (var ** 0.5), 6)
                flag = int(abs(z) > threshold)
            elif warm and v != mean:
                z = None  # infinite-sigma deviation from a constant
                flag = 1
            else:
                z = None
                flag = 0
            out[key_col].append(key[0])
            out[id_col].append(_id)
            out[value_col].append(v)
            out["z"].append(z)
            out["is_anomaly"].append(flag)
            if n == 0:
                mean, var = v, 0.0
            else:
                d = v - mean
                mean += alpha * d
                var = (1 - alpha) * (var + alpha * d * d)
            n += 1
        state.update((n, mean, var))
        yield pd.DataFrame(out)

    return stream.groupBy(key_col).applyInPandasWithState(
        update, out_schema, EWMA_STATE_SCHEMA, "append", "NoTimeout"
    )


def streaming_match_sequence(
    stream: DataFrame,
    pattern: list[str],
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    id_col: str = "event_id",
    within_hours: float = 24.0,
) -> DataFrame:
    """Streaming twin of timeseries.match_sequence — greedy first-next
    ordered-pattern detection as ONLINE per-user state: every
    pattern[0] event opens a chain; an incoming event of the type a
    chain is waiting for binds it (all waiting chains bind the same
    event — that IS the greedy rule, since in arrival order it is the
    first following stage event for each of them); a chain completing
    its last stage inside the window emits a match. Chains whose
    deadline has passed are dropped on the next event, so per-user
    state is bounded by the anchor count inside one window — NOT by
    stream length (the applyInPandasWithState property the batch
    window fold cannot give an unbounded stream).

    Equivalence contract (pinned in tests): replaying a bounded event
    set through this operator yields exactly match_sequence's rows.
    The same ordering discipline as streaming_ewma_anomalies applies:
    a key's micro-batch is concatenated and sorted ONCE on (ts, id)
    before the fold; across batches Kafka's partition-by-key ordering
    is the contract. An event binds chains BEFORE it may open its own
    anchor, so repeated-type patterns bind strictly-after, like the
    batch operator's (ts, id) comparison.

    Output: (user, start_ts, end_ts, duration_sec) in "append" mode.
    """
    import pandas as pd

    if len(pattern) < 2:
        raise ValueError("pattern needs at least two stages")
    user_t = stream.schema[user_col].dataType.simpleString()
    out_schema = (
        f"`user` {user_t}, start_ts timestamp, end_ts timestamp, "
        "duration_sec double"
    )
    state_schema = "starts array<long>, stages array<int>"
    within_ns = int(within_hours * 3600) * 1_000_000_000
    last = len(pattern) - 1

    def update(key, pdfs, state):
        if state.exists:
            st, sg = state.get
            chains = [(int(s), int(g)) for s, g in zip(st or [], sg or [])]
        else:
            chains = []
        out_start, out_end = [], []
        chunks = [pdf for pdf in pdfs]
        batch = (
            (pd.concat(chunks) if len(chunks) > 1 else chunks[0]).sort_values(
                [ts_col, id_col]
            )
            if chunks
            else None
        )
        rows = (
            zip(
                pd.to_datetime(batch[ts_col]).astype("int64"),
                batch[type_col],
            )
            if batch is not None
            else ()
        )
        for t_ns, etype in rows:
            t_ns = int(t_ns)
            nxt = []
            for start, stage in chains:
                if t_ns - start > within_ns:
                    continue  # deadline passed: chain can never complete
                if etype == pattern[stage]:
                    if stage == last:
                        out_start.append(start)
                        out_end.append(t_ns)
                    else:
                        nxt.append((start, stage + 1))
                else:
                    nxt.append((start, stage))
            chains = nxt
            if etype == pattern[0]:
                chains.append((t_ns, 1))
        state.update(([c[0] for c in chains], [c[1] for c in chains]))
        yield pd.DataFrame(
            {
                "user": [key[0]] * len(out_start),
                "start_ts": pd.to_datetime(pd.Series(out_start, dtype="int64")),
                "end_ts": pd.to_datetime(pd.Series(out_end, dtype="int64")),
                "duration_sec": [
                    round((e - s) / 1e9, 6) for s, e in zip(out_start, out_end)
                ],
            }
        )

    return stream.groupBy(F.col(user_col)).applyInPandasWithState(
        update, out_schema, state_schema, "append", "NoTimeout"
    )


def streaming_cms_ingest(
    stream: DataFrame,
    rollup_path: str,
    ts_col: str = "ts",
    item_col: str = "user_id",
    bucket: str = "hour",
    depth: int = 4,
    width: int = 256,
):
    """Count-min streaming ingest — the streaming twin of
    rollup.build_cms_rollup, completing the sketch symmetry
    (streaming_rollup_ingest : build_rollup :: streaming_topk_ingest :
    build_topk_rollup :: this : build_cms_rollup): each micro-batch
    reduces to its own per-bucket depth x width counter grid in a
    replay-safe ingest_batch=<id> partition. Because count-min merge is
    plain cell-wise ADDITION, the batch reader rollup.cms_estimates
    works UNCHANGED over a streamed store — summing cells across
    (bucket, batch) grids is the same arithmetic as across buckets, so
    there is no separate merged_cms reader to drift.

    Same at-least-once contract as every ingest above: a retried batch
    overwrites its own partition, never double-counting. Per-batch state
    is <= depth x width rows per touched bucket regardless of traffic.
    Returns the streaming query handle."""
    from dataux_spark.operators.rollup import build_cms_rollup

    def _sketch(bdf: DataFrame, batch_id: int) -> None:
        build_cms_rollup(
            bdf, f"{rollup_path}/ingest_batch={batch_id}",
            ts_col=ts_col, item_col=item_col, bucket=bucket,
            depth=depth, width=width,
        )

    return (
        stream.writeStream.foreachBatch(_sketch)
        .trigger(availableNow=True)
        .start()
    )


def streaming_quantile_ingest(
    stream: DataFrame,
    rollup_path: str,
    vmin: float,
    vmax: float,
    ts_col: str = "ts",
    key_col: str = "event_type",
    value_col: str = "value",
    bucket: str = "hour",
    bins: int = 128,
):
    """Histogram-quantile streaming ingest — the fourth streaming sketch
    twin (rollup ingest : build_rollup :: topk :: cms :: this :
    build_quantile_rollup). One structural difference from the batch
    build: bin edges must be FROZEN up front (passed as vmin/vmax — the
    deployed binning, exactly distribution_drift_psi's reference-frozen
    contract), because a per-batch min/max would give every micro-batch
    its own incompatible bin space. Values outside the frozen range
    clamp into the edge bins (the PSI fold rule), where the batch
    builder never sees one by construction.

    Bin counts merge by plain addition, so rollup.quantile_over_range
    reads a streamed store UNCHANGED — the hist partition discovery
    picks up ingest_batch next to bucket_date and the key/bin merge sums
    across both (the count-min argument, applied to histograms). Same
    replay-safe overwrite-own-partition contract as every ingest above.
    Writes the one-row meta frame once at setup; returns the handle."""
    spark = stream.sparkSession
    span = (float(vmax) - float(vmin)) or 1.0
    # a LocalRelation meta frame: its write runs no Python worker (sqlutil)
    local_frame(
        spark, [(float(vmin), float(vmax), int(bins))], "vmin double, vmax double, bins int"
    ).coalesce(1).write.mode("overwrite").parquet(f"{rollup_path}/meta")

    def _hist(bdf: DataFrame, batch_id: int) -> None:
        b = F.greatest(
            F.lit(0),
            F.least(
                F.lit(bins - 1),
                F.floor(
                    (F.col(value_col).cast("double") - float(vmin)) / span * bins
                ).cast("int"),
            ),
        )
        (
            bdf.filter(F.col(value_col).isNotNull())
            .groupBy(
                F.date_trunc(bucket, F.col(ts_col)).alias("bucket"),
                F.col(key_col).alias("key"),
                b.alias("bin"),
            )
            .agg(F.count("*").alias("ct"))
            .withColumn("bucket_date", F.to_date("bucket"))
            .repartition("bucket_date")
            .write.mode("overwrite")
            .partitionBy("bucket_date")
            .parquet(f"{rollup_path}/hist/ingest_batch={batch_id}")
        )

    return (
        stream.writeStream.foreachBatch(_hist)
        .trigger(availableNow=True)
        .start()
    )


def streaming_distinct_ingest(
    stream: DataFrame,
    rollup_path: str,
    ts_col: str = "ts",
    key_col: str = "event_type",
    distinct_col: str = "user_id",
    bucket: str = "hour",
    lg_k: int = 12,
):
    """HLL-distinct streaming ingest — the fifth and last streaming
    sketch twin (rollup.build_distinct_rollup's counterpart): each
    micro-batch lands its own per-(bucket, key) Datasketches HLL
    partials in a replay-safe ingest_batch partition, and the UNCHANGED
    batch reader rollup.distinct_over_range unions sketches across
    whatever partitions exist — hll_union_agg is the merge either way.

    One honesty note vs the other four twins: HLL union is mergeable
    but NOT bit-identical to a single-pass sketch (sparse→dense mode
    promotions differ with ingest order), so there is no exact
    streamed==batch equality to driver-pin — the estimate contract is
    the ±few-% the batch rollup's own tests already hold it to, and the
    exact COUNT(DISTINCT) twin remains the oracle-checked entry. Same
    at-least-once overwrite-own-partition contract as every ingest
    above. Returns the streaming query handle."""
    from dataux_spark.operators.rollup import build_distinct_rollup

    def _sketch(bdf: DataFrame, batch_id: int) -> None:
        build_distinct_rollup(
            bdf, f"{rollup_path}/ingest_batch={batch_id}",
            ts_col=ts_col, key_col=key_col, distinct_col=distinct_col,
            bucket=bucket, lg_k=lg_k,
        )

    return (
        stream.writeStream.foreachBatch(_sketch)
        .trigger(availableNow=True)
        .start()
    )
