"""Structured Streaming surface over the events table.

The reference is batch-only (SURVEY.md §2.9) — its dated-file/latest-file
convention is the batch shadow of a stream. This module provides the
streaming formulation: file-source reads, watermarked event-time windows,
and streaming dedup. Batch and streaming share the same aggregate
expressions, so results converge (verified in tests with availableNow).
The module only builds streams and sink writers; ``queries._drain`` starts
and drains them.

Scale notes: state is bounded by the watermark (late data beyond it is
dropped); the shuffle key is (window, event_type) — low cardinality, so AQE
coalescing keeps state partitions dense.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

EVENTS_STREAM_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)


def stream_events(spark: SparkSession, path: str) -> DataFrame:
    """File-source stream of events (schema must be declared for streams)."""
    return (
        spark.readStream.schema(EVENTS_STREAM_SCHEMA)
        .format("parquet")
        .load(path)
    )


def hourly_rollup_stream(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Watermarked tumbling-window rollup — the streaming form of the batch
    events_hourly_rollup query (same aggregates)."""
    k = F.get_json_object("props", "$.k").cast("bigint")
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_value"),
            F.sum(k).cast("bigint").alias("sum_k"),
        )
        .select(
            F.date_format("win.start", "yyyy-MM-dd HH:mm:ss").alias("hour"),
            "event_type",
            "n_events",
            "total_value",
            "sum_k",
        )
    )


def dedup_stream(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Streaming exact dedup by event_id within the watermark horizon."""
    return events.withWatermark("ts", watermark).dropDuplicates(["event_id"])


def dedup_within_watermark_stream(
    events: DataFrame,
    keys: tuple[str, ...] = ("user_id", "event_type"),
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming subset-key dedup with state bounded by the watermark.

    ``dropDuplicatesWithinWatermark`` evicts each key's state once the
    watermark passes it — unlike plain ``dropDuplicates`` on a subset key,
    whose state grows with key cardinality forever. The output is projected
    to the key columns only, so WHICH duplicate row survived (a race at
    scale) never leaks into the result: the emitted set is exactly the
    distinct keys, gated against ``SELECT DISTINCT``.
    """
    return (
        events.withWatermark("ts", watermark)
        .dropDuplicatesWithinWatermark(list(keys))
        .select(*keys)
    )


def enrich_stream(events: DataFrame, dim: DataFrame) -> DataFrame:
    """Stream-static dimension-enrichment join.

    Stream-static inner joins are STATELESS — each micro-batch joins
    against the current static table snapshot, nothing is buffered — so
    this is the canonical unbounded-scale pattern for attaching dimension
    attributes (user profile, document source metadata) to an event
    stream. The static side carries NO forced broadcast hint: the
    dimension is SF-linear (customer), so the planner's size estimate
    decides per micro-batch — broadcast while the snapshot fits, keyed
    shuffle beyond that (streaming has no AQE, so a hardcoded hint here
    would be an even less recoverable OOM than in batch).
    """
    return events.join(
        dim, events.user_id == dim.c_custkey, "inner"
    ).select(
        "event_id",
        "user_id",
        "event_type",
        "value",
        "c_mktsegment",
        "c_nationkey",
    )


def purchase_click_join_stream(
    events: DataFrame,
    horizon_minutes: int = 60,
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked stream-stream interval join: each purchase paired with
    every click by the same user in the preceding ``horizon_minutes``.

    Both sides carry watermarks and the join condition bounds event-time
    distance, so the state store retains only ``watermark + horizon`` of
    each side per key — the requirement for an unbounded-stream join to run
    forever. Inner-join matches emit as soon as both rows arrive (the
    watermark only drives state eviction), so an availableNow drain yields
    exactly the batch interval join — gated against that batch SQL oracle.
    """
    clicks = events.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
        F.col("user_id").alias("click_user"),
    ).withWatermark("click_ts", watermark)
    purchases = events.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
        "user_id",
    ).withWatermark("purchase_ts", watermark)
    cond = (
        (F.col("user_id") == F.col("click_user"))
        & (
            F.col("click_ts")
            >= F.col("purchase_ts") - F.expr(f"INTERVAL {horizon_minutes} MINUTES")
        )
        & (F.col("click_ts") <= F.col("purchase_ts"))
    )
    return purchases.join(clicks, cond, "inner").select(
        "purchase_id",
        "click_id",
        "user_id",
        F.date_format("purchase_ts", "yyyy-MM-dd HH:mm:ss").alias("purchase_ts"),
        F.date_format("click_ts", "yyyy-MM-dd HH:mm:ss").alias("click_ts"),
    )


USER_COUNT_STATE_SCHEMA = "n bigint"
USER_COUNT_OUTPUT_SCHEMA = "user_id bigint, n_events bigint, total_value double"


def stateful_user_counts(events: DataFrame) -> DataFrame:
    """Custom stateful streaming operator (applyInPandasWithState): per-user
    running event count + exact-decimal value total, state carried across
    micro-batches. Emits the updated running totals for each user seen in a
    batch — the arbitrary-state escape hatch for operators the built-in
    windowed aggregates can't express (per-key counters, custom sessions,
    CEP-ish logic). State is one row per user: bounded, partitioned by the
    grouping key, skew-safe for realistic user cardinalities.

    The value total is accumulated in integer micro-units (value is
    2-decimal fixed point) so the running sum is exact and batch-split
    invariant — float accumulation across arbitrary micro-batch boundaries
    would drift.
    """
    import numpy as np  # local: executors import lazily
    import pandas as pd

    def update(key, pdfs, state):
        n = 0
        micros = 0
        if state.exists:
            n, micros = state.get
        for pdf in pdfs:
            n += int(len(pdf))
            # round per ROW before summing: identical to the batch form
            # sum(round(value*100)) whatever the micro-batch splits are.
            # HALF_UP (away from zero) to match F.round / the SQL oracle —
            # pandas .round() is banker's half-even and diverges on exact
            # .5 midpoints (e.g. 3+ decimal inputs).
            v = pdf["value"].to_numpy(dtype="float64") * 100.0
            micros += int(
                (np.sign(v) * np.floor(np.abs(v) + 0.5)).astype("int64").sum()
            )
        state.update((n, micros))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "total_value": [micros / 100.0],
            }
        )

    from pyspark.sql.streaming.state import GroupStateTimeout

    # project first: the whole child row crosses JVM -> Python, and
    # ``update`` reads only ``value``
    return events.select("user_id", "value").groupBy(
        "user_id"
    ).applyInPandasWithState(
        update,
        outputStructType=USER_COUNT_OUTPUT_SCHEMA,
        stateStructType="n bigint, micros bigint",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def foreach_batch_overwrite_sink(
    stream_df: DataFrame, out_dir: str, checkpoint_dir: str | None = None
) -> DataStreamWriter:
    """Exactly-once parquet sink via foreachBatch: each micro-batch of a
    complete-mode aggregation REPLACES the output directory, so replaying
    a batch after a failure rewrites identical content instead of
    double-appending — the idempotent-restatement pattern for sinks with
    no transactional append. At scale the same callback targets a
    partition overwrite (INSERT OVERWRITE by window/date) so each batch
    restates only the partitions it touched; the checkpoint's batch_id is
    the dedup key a transactional sink would use.

    Returns the configured writer; ``queries._drain`` starts and drains
    it. ``checkpoint_dir`` pins an explicit checkpoint so a LATER
    invocation of the same pipeline resumes from it (source progress +
    aggregate state) instead of reprocessing — the restart path the
    resume gate (queries.events_stream_resume) exercises. Left None,
    Spark uses a temp checkpoint deleted on clean stop."""

    def write_batch(bdf: DataFrame, batch_id: int) -> None:
        bdf.write.mode("overwrite").parquet(out_dir)

    w = stream_df.writeStream.foreachBatch(write_batch).outputMode("complete")
    if checkpoint_dir is not None:
        w = w.option("checkpointLocation", checkpoint_dir)
    return w


def click_purchase_leftouter_stream(
    events: DataFrame,
    cutoff: str,
    watermark: str = "2 hours",
    horizon: str = "1 hour",
) -> DataFrame:
    """LEFT OUTER stream-stream interval join: every click (strictly before
    ``cutoff``) joined to same-user purchases within the following
    ``horizon``, unmatched clicks emitted with NULLs once the watermark
    passes click_ts + horizon.

    Outer stream-stream joins only release their NULL side when the
    watermark overtakes the join horizon, so rows near end-of-input stay
    in state forever under availableNow — the ``cutoff`` keeps the result
    watermark-complete (every retained click is guaranteed emitted,
    matched or not), which is what makes the gate hash-comparable to the
    batch LEFT JOIN. The cutoff is applied AFTER the join, never to the
    click source: the global watermark is the MIN across both sides, so a
    source-side cutoff would freeze the click watermark at the cutoff and
    the tail's NULL rows would never release. State on each side is
    bounded to watermark + horizon, exactly as in the inner-join twin
    (purchase_click_join_stream)."""
    clicks = events.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
        F.col("user_id").alias("c_user"),
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
        F.col("user_id").alias("p_user"),
    )
    joined = clicks.withWatermark("click_ts", watermark).join(
        purchases.withWatermark("purchase_ts", watermark),
        F.expr(
            "c_user = p_user AND purchase_ts >= click_ts "
            f"AND purchase_ts <= click_ts + INTERVAL {horizon}"
        ),
        "leftOuter",
    )
    return joined.filter(F.col("click_ts") < F.lit(cutoff)).select(
        "click_id",
        F.col("c_user").alias("user_id"),
        F.date_format("click_ts", "yyyy-MM-dd HH:mm:ss").alias("click_ts"),
        "purchase_id",
        F.date_format("purchase_ts", "yyyy-MM-dd HH:mm:ss").alias(
            "purchase_ts"
        ),
    )


def click_purchase_fullouter_stream(
    events: DataFrame,
    cutoff: str,
    watermark: str = "2 hours",
    horizon: str = "1 hour",
) -> DataFrame:
    """FULL OUTER stream-stream interval join — both NULL-emission paths
    at once: clicks with no purchase inside the horizon AND purchases no
    click preceded. Completes the join matrix alongside the inner
    (purchase_click_join_stream) and LEFT OUTER
    (click_purchase_leftouter_stream) twins.

    The cutoff placement differs from the LEFT OUTER twin by necessity:
    a post-join filter cannot reproduce the batch FULL JOIN of two
    filtered sides (a cross-cutoff match would be dropped as a row
    instead of degrading to the partner's unmatched row). So each side
    filters BETWEEN its withWatermark and the join: the EventTimeWatermark
    node sits below the filter and keeps advancing from ALL source rows
    (a filter below the watermark would freeze it at the cutoff and the
    tails would never flush), while the join itself sees exactly the
    batch-filtered inputs, making the gate hash-comparable to the batch
    FULL JOIN. State on both sides stays watermark + horizon bounded."""
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
            F.col("user_id").alias("c_user"),
        )
        .withWatermark("click_ts", watermark)
        .filter(F.col("click_ts") < F.lit(cutoff))
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
            F.col("user_id").alias("p_user"),
        )
        .withWatermark("purchase_ts", watermark)
        .filter(F.col("purchase_ts") < F.lit(cutoff))
    )
    joined = clicks.join(
        purchases,
        F.expr(
            "c_user = p_user AND purchase_ts >= click_ts "
            f"AND purchase_ts <= click_ts + INTERVAL {horizon}"
        ),
        "fullOuter",
    )
    return joined.select(
        "click_id",
        F.coalesce("c_user", "p_user").alias("user_id"),
        F.date_format("click_ts", "yyyy-MM-dd HH:mm:ss").alias("click_ts"),
        "purchase_id",
        F.date_format("purchase_ts", "yyyy-MM-dd HH:mm:ss").alias(
            "purchase_ts"
        ),
    )


def stateful_user_counts_tws(events: DataFrame) -> DataFrame:
    """The per-user running totals operator on the transformWithState API
    (Spark 4's successor to applyInPandasWithState): a StatefulProcessor
    with an explicit ValueState cell instead of an opaque state tuple.
    Semantics are identical to ``stateful_user_counts`` — exact integer
    micro-unit accumulation, HALF_UP per-row rounding, update-mode
    emission — so both APIs converge to the same batch GROUP BY. The TWS
    API is where new stateful operators should land: typed value/list/map
    state, timers for timeout logic, and initial-state bootstrap are all
    first-class (none of which the old API offers).

    CONDITIONALLY registered as a correctness-gate query
    (queries.events_stream_tws_user_totals): TWS's Python worker requires
    the ``protobuf`` package at runtime
    (pyspark/sql/streaming/proto/StateMessage_pb2), absent in this
    sandbox, so the registry block self-activates when a future
    environment provides it. Plan CONSTRUCTION and the processor's
    accumulation semantics are protobuf-free — both are tested
    unconditionally in tests/test_streaming_multimodal.py; only the
    wire-level drain skips without protobuf."""
    return events.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=make_running_totals_processor(),
        outputStructType=USER_COUNT_OUTPUT_SCHEMA,
        outputMode="Update",
        timeMode="None",
    )


def make_running_totals_processor():
    """The StatefulProcessor behind ``stateful_user_counts_tws``, exposed
    separately so its per-batch accumulation semantics (exact integer
    micro-units, HALF_UP rounding, state carry-over) can be unit-tested
    against the batch aggregate WITHOUT the TWS wire protocol: the class
    only touches ``handle.getValueState`` and the returned cell's
    ``exists``/``get``/``update``, so a 10-line fake handle drives it."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class RunningTotals(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._totals = handle.getValueState(
                "totals", "n BIGINT, micros BIGINT"
            )

        def handleInputRows(self, key, rows, timerValues):
            n, micros = (
                self._totals.get() if self._totals.exists() else (0, 0)
            )
            for pdf in rows:
                n += int(len(pdf))
                v = pdf["value"].to_numpy(dtype="float64") * 100.0
                micros += int(
                    (np.sign(v) * np.floor(np.abs(v) + 0.5))
                    .astype("int64")
                    .sum()
                )
            self._totals.update((n, micros))
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_events": [n],
                    "total_value": [micros / 100.0],
                }
            )

        def close(self) -> None:
            pass

    return RunningTotals()


BOTTOMK_TWS_OUTPUT_SCHEMA = (
    "event_type string, event_id bigint, h bigint, n_seen bigint"
)


def make_bottomk_processor(
    k: int = 16, mod: int = 2147483647, mult: int = 2654435761
):
    """StatefulProcessor maintaining a deterministic BOTTOM-K SAMPLE per
    group on transformWithState's typed-state API — the native Spark 4
    port of the foreachBatch bottom-k twin (queries_scaleops.py:
    events_stream_bottomk_sample): state is exactly k rows per group in
    a ListState (the sketch IS the state — no external store directory),
    plus a ValueState row counter that tags each emission so the drain
    can select the final sample per key.

    Per batch: merge the incoming rows' (hash pseudo-rank, event_id)
    pairs into the stored sample as a SET (idempotent under
    at-least-once row redelivery — a replayed event_id cannot occupy
    two sample slots), keep the k smallest by (h, event_id), store, and
    emit the current sample tagged with the running row count. Bottom-k
    is a mergeable sketch, so the final emission equals the bottom-k of
    everything seen — the same oracle as the batch query.

    Exposed as a factory (module-scope class, no function-local pandas
    imports in type hints) so the per-batch merge semantics are
    unit-testable through a fake handle WITHOUT the TWS wire protocol
    (which needs protobuf, absent in this sandbox)."""
    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class BottomKSample(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._sample = handle.getListState(
                "bottomk", "h BIGINT, event_id BIGINT"
            )
            self._seen = handle.getValueState("n_seen", "n BIGINT")

        def handleInputRows(self, key, rows, timerValues):
            cur = {(int(h), int(e)) for h, e in self._sample.get()}
            n = self._seen.get()[0] if self._seen.exists() else 0
            for pdf in rows:
                n += int(len(pdf))
                for e in pdf["event_id"].astype("int64"):
                    e = int(e)
                    cur.add(((e * mult) % mod, e))
            best = sorted(cur)[:k]
            self._sample.put(best)
            self._seen.update((n,))
            yield pd.DataFrame(
                {
                    "event_type": [key[0]] * len(best),
                    "event_id": [e for _, e in best],
                    "h": [h for h, _ in best],
                    "n_seen": [n] * len(best),
                }
            )

        def close(self) -> None:
            pass

    return BottomKSample()


def stateful_bottomk_tws(
    events: DataFrame, k: int = 16, mod: int = 2147483647,
    mult: int = 2654435761,
) -> DataFrame:
    """Bottom-k sample per event_type as a transformWithState operator —
    k rows of ListState per group, update-mode emission tagged with the
    running row count (see ``make_bottomk_processor``)."""
    return events.groupBy("event_type").transformWithStateInPandas(
        statefulProcessor=make_bottomk_processor(k, mod, mult),
        outputStructType=BOTTOMK_TWS_OUTPUT_SCHEMA,
        outputMode="Update",
        timeMode="None",
    )
