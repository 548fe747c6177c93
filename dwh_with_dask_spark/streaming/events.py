"""Structured Streaming over the events table shape.

Design rule: every streaming aggregation here shares its transformation
body with a batch twin in plans/relational.py (tumbling_window_events,
session_window_events) — the DataFrame code is identical; only the
source (read vs readStream) and sink differ. That is the Spark-native
"kappa" guarantee: one definition, two execution modes.

Watermarks bound state: an aggregation over event-time windows with a
watermark drops state for windows older than (max event time - delay) —
without it, streaming state grows forever. Late rows beyond the delay
are dropped (counted in the StreamingQueryProgress).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# Event time is TIMESTAMP (instant), not TIMESTAMP_NTZ: Spark's
# EventTimeWatermark only accepts instant-typed event time. The session
# runs in UTC, so wall-clock values line up with the batch NTZ columns.
EVENTS_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)


def read_events_stream(
    spark: SparkSession,
    path: str,
    max_files_per_trigger: int = 1,
) -> DataFrame:
    """File-source stream over events parquet: each micro-batch picks up
    newly arrived files — the standard bridge for replay/testing and for
    landing-zone ingestion (swap for Kafka in production; the schema and
    every downstream transform stay identical)."""
    return (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )


def tumbling_counts(
    events: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
    slide: str | None = None,
) -> DataFrame:
    """Per-(window, event_type) counts + sums; works on batch AND stream.

    On a stream, the watermark lets Spark finalize and evict each hour's
    state once event time passes window end + 2 hours. ``slide`` turns
    the tumbling window into a sliding one (each event lands in
    duration/slide overlapping windows — state grows by the same
    factor; batch twin: plans.relational.sliding_window_events).
    """
    src = events
    if events.isStreaming:
        src = events.withWatermark("ts", watermark)
    w = F.window("ts", window, slide) if slide else F.window("ts", window)
    return (
        src.groupBy(w.alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            # Exact decimal accumulation (the repo's dsum idiom): a raw
            # double sum is addition-order dependent, and a stream adds
            # in micro-batch arrival order — measured last-ulp drift vs
            # the batch twin on ~3-row windows. Decimal partials make
            # stream == batch EXACT, not approximately equal.
            F.sum(F.col("value").cast("decimal(23,6)"))
            .cast("double")
            .alias("sum_value"),
        )
        .select(F.col("w.start").alias("window_start"), "event_type", "n", "sum_value")
    )


def session_counts(
    events: DataFrame,
    gap: str = "10 minutes",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Native session windows per user (merge-on-overlap, gap timeout).

    Streaming requires the watermark so closed sessions finalize; batch
    path matches plans.relational.session_window_events.
    """
    src = events
    if events.isStreaming:
        src = events.withWatermark("ts", watermark)
    return (
        src.groupBy(F.session_window("ts", gap).alias("sw"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            "n_events",
        )
    )


def minute_rollup_stream(
    events: DataFrame,
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming leg of the hypertable rollup (operators/rollup.py): the
    same minute-level re-aggregable partials (count / decimal sum / min
    / max per (minute bucket, event_type)), computed over the stream.

    In APPEND mode each minute window emits exactly once — when the
    watermark passes its end — so the sink accumulates an immutable,
    exactly-once minute-partials table. Coarser levels are then folded
    on read with ``cascade_from_partials`` (hour/day shuffles touch
    bucket-cardinality rows only), which is the continuous-aggregate
    architecture: the stream maintains only the finest level, and it is
    bit-identical to what the batch cascade computes over the same rows
    because the partials are exact (decimal sum) and re-aggregable.

    Batch twin: ``operators.rollup.minute_partials`` — the same
    expression body; only the watermark wrapper differs.
    """
    src = events.withWatermark("ts", watermark) if events.isStreaming else events
    return (
        src.groupBy(F.window("ts", "1 minute").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("__n"),
            F.sum(F.col("value").cast("decimal(23,6)")).alias("__sdec"),
            F.min("value").alias("__mn"),
            F.max("value").alias("__mx"),
        )
        .select(
            F.col("w.start").alias("bucket"),
            "event_type",
            "__n",
            "__sdec",
            "__mn",
            "__mx",
        )
    )


def enrich_with_users(
    events: DataFrame, users: DataFrame, broadcast: bool = False
) -> DataFrame:
    """Stream-static join: enrich the event stream with a dimension
    table — THE standard streaming enrichment. The static side is
    (re)read per micro-batch; no state store is involved, so there is
    nothing to bound with a watermark. Works identically on batch
    inputs (same code, both modes).

    ``broadcast=True`` adds an explicit hint for callers who KNOW the
    dimension is bounded; the default leaves the decision to the
    size-based planner, because a user table generally grows with the
    deployment and a forced broadcast of a multi-GB dimension OOMs
    every micro-batch."""
    dim = F.broadcast(users) if broadcast else users
    return events.join(dim, "user_id", "left")


def self_join_follow_events(
    events_a: DataFrame,
    events_b: DataFrame,
    within: str = "10 minutes",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Stream-stream interval join: pair each 'click' with 'purchase'
    events by the same user within ``within`` afterwards.

    Both sides are watermarked and the join condition bounds event time
    (b.ts in [a.ts, a.ts + within]), so Spark can evict buffered rows
    once the watermark passes their join range — the REQUIREMENT for an
    unbounded stream-stream inner join (without the time bound, both
    sides buffer forever). Batch inputs run the identical expression.
    """
    a = events_a
    b = events_b
    if a.isStreaming:
        a = a.withWatermark("ts", watermark)
    if b.isStreaming:
        b = b.withWatermark("ts", watermark)
    a = a.select(
        F.col("user_id"),
        F.col("ts").alias("click_ts"),
        F.col("event_id").alias("click_id"),
        F.col("event_type").alias("a_type"),
    ).filter(F.col("a_type") == "click")
    b = b.select(
        F.col("user_id").alias("b_user"),
        F.col("ts").alias("purchase_ts"),
        F.col("event_id").alias("purchase_id"),
        F.col("event_type").alias("b_type"),
    ).filter(F.col("b_type") == "purchase")
    cond = (
        (F.col("user_id") == F.col("b_user"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr(f"INTERVAL {within}"))
    )
    return a.join(b, cond, "inner").select(
        "user_id", "click_id", "purchase_id", "click_ts", "purchase_ts"
    )


def upsert_rollup_sink(path: str):
    """foreachBatch upsert of minute-rollup partials into a queryable,
    day-partitioned parquet table — the merge half of the continuous
    aggregate (the append leg only lands FINALIZED windows; this one
    keeps in-flight windows current too, so the table is always
    readable at the latest watermark).

    Merge strategy per micro-batch (update-mode input: the batch holds
    the new TOTAL for every (bucket, key) touched):

    1. tag rows with their day partition;
    2. anti-join the existing table's affected days against the batch
       keys (rows in touched days that did NOT change are kept);
    3. union the batch and rewrite ONLY the affected day partitions via
       dynamic partition overwrite — untouched days are never read or
       written, so the cost per batch is bounded by the watermark span,
       not table history.

    The combined frame is pinned with ``localCheckpoint`` before the
    write: it breaks plan lineage to the files being replaced (Spark
    rightly refuses to overwrite a path its own plan still reads), and
    it materializes the read BEFORE the overwrite starts. Swap the
    parquet rewrite for MERGE INTO on Delta/Iceberg when a table format
    is available — the batch-side logic is identical.
    """

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        batch = batch_df.withColumn("day", F.to_date("bucket"))
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        try:
            existing = spark.read.parquet(path)
            have = True
        except Exception:
            have = False
        if not have:
            batch.write.mode("overwrite").partitionBy("day").parquet(path)
            return
        days = [r["day"] for r in batch.select("day").distinct().collect()]
        kept = (
            existing.filter(F.col("day").isin(days))
            .join(
                batch.select("bucket", "event_type"),
                ["bucket", "event_type"],
                "left_anti",
            )
        )
        out = kept.unionByName(batch).localCheckpoint(eager=True)
        out.write.mode("overwrite").partitionBy("day").parquet(path)

    return sink


STATE_SCHEMA = "n_events long, total_value double"
USER_STATS_SCHEMA = "user_id long, n_events long, total_value double"


def stateful_user_stats(events: DataFrame) -> DataFrame:
    """Custom stateful operator: running per-user totals across
    micro-batches via ``applyInPandasWithState``.

    The state (event count, value sum) lives in the state store keyed by
    user_id and survives batches — the Arrow-batched general form of what
    a windowed agg does internally, for logic the built-ins can't express
    (per-key accumulators, custom eviction, model state, ...). Each batch
    emits one updated row per user seen in that batch (update semantics).

    Scale: state is partitioned by the grouping key across executors and
    checkpointed incrementally; key cardinality (distinct users), not
    stream length, bounds its size. Production code adds a timeout
    (``GroupStateTimeout``) to evict idle keys — NoTimeout here keeps the
    totals exact for the equivalence test.
    """
    import pandas as pd

    def update(key, pdfs, state):
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [total]}
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=USER_STATS_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf="NoTimeout",
    )


SESSION_STATE_SCHEMA = "n_events long, total_value double, last_ms long"
SESSION_OUT_SCHEMA = (
    "user_id long, n_events long, total_value double, closed boolean"
)


def stateful_user_sessions(
    events: DataFrame,
    gap_ms: int = 30 * 60 * 1000,
    watermark: str = "1 hour",
) -> DataFrame:
    """Custom sessionization with state TTL (``EventTimeTimeout``).

    The GroupStateTimeout companion to ``stateful_user_stats``: per-user
    accumulators carry across batches, and each update re-arms an
    event-time timeout at (last event + gap). When the watermark passes
    that timestamp and the key receives no new data, the group fires with
    ``hasTimedOut`` — the session emits one final ``closed=true`` row and
    its state is REMOVED from the store. This is the idle-key eviction
    that bounds state size on unbounded key spaces (the scale concern
    NoTimeout leaves open), and the same mechanism to use for
    order-timeout alerts, cart abandonment, model-state GC, etc.
    """
    import pandas as pd

    def update(key, pdfs, state):
        if state.hasTimedOut:
            n, total, _last = state.get
            state.remove()
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_events": [n],
                    "total_value": [total],
                    "closed": [True],
                }
            )
        else:
            n, total, last = state.get if state.exists else (0, 0.0, 0)
            for pdf in pdfs:
                n += len(pdf)
                total += float(pdf["value"].sum())
                last = max(last, int(pdf["ts"].max().timestamp() * 1000))
            state.update((n, total, last))
            state.setTimeoutTimestamp(last + gap_ms)
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_events": [n],
                    "total_value": [total],
                    "closed": [False],
                }
            )

    src = events.withWatermark("ts", watermark) if events.isStreaming else events
    return src.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=SESSION_OUT_SCHEMA,
        stateStructType=SESSION_STATE_SCHEMA,
        outputMode="update",
        timeoutConf="EventTimeTimeout",
    )


def dedup_stream(
    events: DataFrame,
    keys: list[str] | None = None,
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming exact dedup: at-least-once sources (Kafka replays, file
    re-deliveries) → exactly-once rows downstream.

    On a stream this uses ``dropDuplicatesWithinWatermark``: the state
    store remembers each key only until the watermark passes its event
    time, so dedup state is bounded by (keys arriving per watermark
    window), not stream lifetime — the property that makes it runnable
    forever. A duplicate arriving later than the watermark delay is out
    of contract (size the delay to the source's max redelivery lag).
    Batch twin: plain dropDuplicates, same keys.
    """
    keys = keys or ["event_id"]
    if events.isStreaming:
        return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(keys)
    return events.dropDuplicates(keys)


FUNNEL_STATE_SCHEMA = "reach array<timestamp>"
FUNNEL_OUT_SCHEMA = "user_id long, step_no int, reached_at timestamp"


def stateful_funnel(
    events: DataFrame,
    steps: list[str],
    within: str | None = None,
) -> DataFrame:
    """Streaming ordered-funnel: emits (user_id, step_no, reached_at)
    the moment a user first completes a funnel step in order — the
    incremental twin of ``operators.funnel.funnel_reach``.

    State per user is the reach array (one first-reach timestamp slot
    per step) in the state store: fixed-size — len(steps) timestamps —
    so state is bounded by user cardinality alone, never by stream
    length, and each slot fills at most once so every output row is
    emitted exactly once per completed step.

    Within a micro-batch, rows replay in (ts, FUNNEL-STEP INDEX) order
    — the same tie order as the batch fold's ``array_sort`` over
    struct(t, i, s), so a same-timestamp conversion survives even when
    the later step's type string sorts lexicographically earlier.
    Equivalence contract with the batch operator: exact
    when events arrive time-ordered ACROSS micro-batches (file replay,
    per-key-ordered log partitions); an event arriving after a later
    event already filled the next slot cannot retroactively re-anchor
    the funnel — first-touch semantics over the arrival order, the
    standard incremental-funnel behavior.

    ``within`` (e.g. ``'12 HOURS'``) mirrors the batch conversion
    window: step i must land within the cap after step i-1's reach.
    """
    import pandas as pd

    if len(steps) != len(set(steps)):
        raise ValueError("funnel steps must be pairwise distinct")
    n = len(steps)
    idx = {s: i for i, s in enumerate(steps)}
    cap = None
    if within is not None:
        num, unit = within.split()
        cap = pd.Timedelta(**{unit.lower().rstrip("s") + "s": int(num)})

    def update(key, pdfs, state):
        reach = list(state.get[0]) if state.exists else [None] * n
        emits: list[tuple[int, object]] = []
        batch = pd.concat(list(pdfs), ignore_index=True)
        batch = batch[batch["event_type"].isin(steps)]
        batch = batch.assign(__step_i=batch["event_type"].map(idx))
        for _, row in batch.sort_values(["ts", "__step_i"]).iterrows():
            i = idx[row["event_type"]]
            if reach[i] is not None:
                continue
            if i > 0:
                prev = reach[i - 1]
                if prev is None or row["ts"] < prev:
                    continue
                if cap is not None and row["ts"] > prev + cap:
                    continue
            reach[i] = row["ts"]
            emits.append((i + 1, row["ts"]))
        state.update((reach,))
        if not emits:
            yield pd.DataFrame(
                {"user_id": [], "step_no": [], "reached_at": []}
            ).astype({"user_id": "int64", "step_no": "int32"})
            return
        yield pd.DataFrame(
            {
                "user_id": [key[0]] * len(emits),
                "step_no": [e[0] for e in emits],
                "reached_at": [e[1] for e in emits],
            }
        )

    src = events.filter(F.col("event_type").isin(steps))
    return src.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=FUNNEL_OUT_SCHEMA,
        stateStructType=FUNNEL_STATE_SCHEMA,
        outputMode="update",
        timeoutConf="NoTimeout",
    )
