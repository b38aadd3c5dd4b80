"""The graded streaming drains and the one harness they share.

Every graded streaming query has the same shape: a fixture table is
staged as ordered part files (``staged_stream``), read back as a bounded
file stream, pushed through one or more stateful operators, and drained
synchronously into a memory or ``foreachBatch`` sink (``drain``). The
drained result is a deterministic function of the table, so each drain
carries a DuckDB oracle (registered with the drain's family in
operators/temporal.py and llm/filters.py).

``drain`` is the only place in the package that starts a streaming
query. It runs on one reserved ``newSession()`` child per caller
session, so the confs it sets for the query's lifetime (state partition
count, CRC-free local checkpoint I/O) are never visible to batch
queries on the caller's session, and never touch the SparkContext-wide
Hadoop configuration.
"""

from __future__ import annotations

import glob
import os
import shutil
import tempfile
import weakref
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..catalog import load_table
from .docs import _staged_dir, fresh_tmpdir, release_tmpdir
from .events import (
    dedup_within_watermark,
    enriched_counts,
    ohlc_daily_stream,
    purchase_attribution,
    read_events_stream,
    running_user_totals_exact,
)

#: Trigger granularity for drains whose RESULT is batching-independent:
#: the 4 staged files flow as 2 micro-batches of 2 ordered files. The
#: fixed per-batch cost (incremental planning, offset WAL, state-store
#: commits) is paid twice instead of four times, and cross-batch state
#: is still exercised (the straddle is pinned in tests/test_streaming.py).
#: Drains whose oracle models per-file batch boundaries (late-drop
#: cohorts, idle-flush quartiles, the merge-snapshot version ledger)
#: read one file per trigger.
DRAIN_FILES_PER_TRIGGER = 2

LATE_COHORTS = 3  # modulo split for the pinned-late-cohort stream
THIN_MOD = 29  # idle-flush stream keeps every THIN_MOD-th event
DUP_MOD = 5  # every DUP_MOD-th event gets an exact duplicate copy
IDLE_MS = 172_800_000  # idle-flush horizon: 2 days of user silence
IDLE_DELAY_MS = 3_600_000  # watermark delay for the idle-flush stream
TOPK_K = 5  # podium size held per source in the ranked state

#: Checkpoint I/O on the local ``file:`` scheme through the CRC-free
#: RawLocalFs. Spark's CheckpointFileManager resolves ``file:`` to the
#: checksummed LocalFs, so every tiny offset/commit/state-delta write
#: also creates, writes and renames a ``.crc`` twin. On
#: stream_outer_join_drain at sf0.1 this mapping took walCommit from 36
#: to 19 ms and the drain from 4.4 to 3.8 s. Set as a SESSION conf on
#: the drain child (the stream's Hadoop conf is built from it), and only
#: for ephemeral checkpoints.
_RAW_LOCAL_FS = {
    "fs.AbstractFileSystem.file.impl": "org.apache.hadoop.fs.local.RawLocalFs",
}

#: One reserved child session per caller session, created on first use
#: (newSession costs ~200 ms) and reused by every drain.
_DRAIN_SESSIONS: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()

_MTIME0 = 1_600_000_000  # staged part i gets mtime _MTIME0 + i


def _src(sf_dir: str, table: str = "events") -> str:
    return os.path.join(sf_dir, f"{table}.parquet")


def _state_partitions(
    spark: SparkSession, src: str | None, python_stateful: bool
) -> int:
    """State-store partition count for a drain, frozen into the
    checkpoint at query start (OPTIMIZATION_r10.md):

    - JVM built-in state (window aggs, dedup, stream-stream joins): the
      per-partition state-store lifecycle dominates at fixture scale, so
      the floor is 4 (8→4 cut stream_join_multibatch 17%).
    - Python group-state (applyInPandasWithState): per-group Python work
      dominates, so the floor is half the cores (4 or fewer was 1.4–3.9×
      slower on local[32]).

    Both grow with the stream's own source file: one state partition per
    64 MB of ``src``."""
    try:
        by_bytes = os.path.getsize(src) // (64 << 20) if src else 0
    except OSError:
        by_bytes = 0
    cores = spark.sparkContext.defaultParallelism
    floor = max(4, cores // 2) if python_stateful else 4
    return max(floor, by_bytes)


def drain(
    spark: SparkSession,
    build: Callable[[SparkSession], DataFrame],
    name: str | None,
    output_mode: str,
    src: str | None = None,
    *,
    python_stateful: bool = False,
    sink: Callable[[DataFrame, int], None] | None = None,
    durable: bool = False,
    progress: list | None = None,
) -> DataFrame | None:
    """Drain the bounded stream ``build(child)`` synchronously and return
    the drained memory table ``name`` (None for a ``sink``).

    ``build`` receives the reserved child session of ``spark``; session
    timeZone and ANSI mode are copied from ``spark`` when the child is
    created, since they shape drain results. For the query's lifetime
    the child carries the state partition count (``_state_partitions``,
    sized from ``src``) and, unless ``durable``, the RawLocalFs mapping;
    both are restored when the query stops.

    ``sink`` switches the memory sink for ``foreachBatch(sink)``: each
    micro-batch reaches the sink as a batch DataFrame, with batch_id as
    the replay key. A sink that writes a durable target passes
    ``durable=True``: its checkpoint then goes to disk (never /dev/shm)
    and keeps Hadoop's CRC twins. Ephemeral checkpoints go to /dev/shm
    where present; $SPARK_GRAFT_STREAM_TMP overrides both locations. The
    checkpoint is removed when the query stops, and the query is stopped
    even when the drain fails. ``progress``, when given, receives the
    query's ``recentProgress``."""
    child = _DRAIN_SESSIONS.get(spark)
    if child is None:
        child = spark.newSession()
        for key in ("spark.sql.session.timeZone", "spark.sql.ansi.enabled"):
            child.conf.set(key, spark.conf.get(key))
        _DRAIN_SESSIONS[spark] = child
    res = build(child)
    confs = {
        "spark.sql.shuffle.partitions": str(
            _state_partitions(child, src, python_stateful)
        ),
        **({} if durable else _RAW_LOCAL_FS),
    }
    base = os.environ.get("SPARK_GRAFT_STREAM_TMP") or (
        "/dev/shm"
        if not durable and os.path.isdir("/dev/shm")
        else tempfile.gettempdir()
    )
    os.makedirs(base, exist_ok=True)
    ckpt = fresh_tmpdir("sg_stream_ckpt_", dir=base)
    saved = {k: child.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            child.conf.set(k, v)
        writer = res.writeStream.outputMode(output_mode).option(
            "checkpointLocation", ckpt
        )
        if sink is None:
            writer = writer.format("memory").queryName(name)
        else:
            writer = writer.foreachBatch(sink)
        q = writer.start()
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        if progress is not None:
            progress.extend(q.recentProgress)
    finally:
        for k, v in saved.items():
            if v is None:
                child.conf.unset(k)
            else:
                child.conf.set(k, v)
        release_tmpdir(ckpt)
    return None if sink is not None else child.table(name)


def staged_stream(
    spark: SparkSession,
    src: str,
    kind: str,
    frame: DataFrame,
    split: Callable[[DataFrame], list[DataFrame]],
    files_per_trigger: int = 1,
) -> DataFrame:
    """File stream over ``frame`` (derived from the fixture file ``src``)
    staged as ordered part files: each piece of ``split(frame)`` is
    written in turn, its part files renamed ``part-00000``,
    ``part-00001``, … in write order and given strictly ascending mtimes
    1 s apart. FileStreamSource picks files oldest-mtime first, so the
    micro-batch sequence is deterministic, ``files_per_trigger`` files
    per batch. The staging is cached per (``kind``, fixture dir,
    fingerprint of ``src``) and removed at exit (docs._staged_dir).
    Timestamp columns come back as TIMESTAMP (LTZ): watermarks require
    it, and the UTC session tz makes the cast value-preserving."""

    def build(d: str) -> None:
        seq = 0
        for j, piece in enumerate(split(frame)):
            sub = os.path.join(d, f"stage_{j}")
            piece.write.mode("overwrite").parquet(sub)
            for f in sorted(glob.glob(os.path.join(sub, "part-*.parquet"))):
                dst = os.path.join(d, f"part-{seq:05d}.parquet")
                shutil.move(f, dst)
                os.utime(dst, (_MTIME0 + seq, _MTIME0 + seq))
                seq += 1
            shutil.rmtree(sub)

    staged = _staged_dir(
        kind, os.path.dirname(src), f"{kind}_", build, src=src
    )
    raw = (
        spark.readStream.schema(frame.schema)
        .option("maxFilesPerTrigger", files_per_trigger)
        .format("parquet")
        .load(staged)
    )
    for field in raw.schema:
        if isinstance(field.dataType, T.TimestampNTZType):
            raw = raw.withColumn(
                field.name, F.col(field.name).cast("timestamp")
            )
    return raw


def _by_ts(frame: DataFrame) -> list[DataFrame]:
    # range partitioning on ts: batch k+1 holds only events with ts >=
    # every event of batch k, for ANY sampled boundaries
    return [frame.repartitionByRange(4, F.col("ts"))]


def _cohorts(frame: DataFrame) -> list[DataFrame]:
    return [
        frame.filter(F.col("event_id") % LATE_COHORTS == i).coalesce(1)
        for i in range(LATE_COHORTS)
    ]


def _quartiles(frame: DataFrame) -> list[DataFrame]:
    # floor((rn-1)·4/N) over (ts, event_id) is a pure function of the
    # table, unlike repartitionByRange's sampled boundaries, so an
    # oracle can rebuild each micro-batch verbatim
    n_total = frame.count()
    keyed = frame.withColumn(
        "k",
        F.floor(
            (F.row_number().over(Window.orderBy("ts", "event_id")) - 1)
            * 4
            / F.lit(n_total)
        ).cast("int"),
    )
    return [
        keyed.filter(F.col("k") == i).drop("k").coalesce(1) for i in range(4)
    ]


#: The staged events streams by staging kind: (frame shape, split).
_EVENT_STREAMS = {
    # unordered: 4 round-robin files
    "events_parts4": (lambda ev: ev, lambda f: [f.repartition(4)]),
    # event-time ordered: no input is ever late relative to the watermark
    "events_ordered4": (lambda ev: ev, _by_ts),
    # ordered, with every DUP_MOD-th event planted twice (full-row copies
    # share the original's ts, so both land in one micro-batch)
    "events_ordered_dup4": (
        lambda ev: ev.unionByName(ev.filter(F.col("event_id") % DUP_MOD == 0)),
        _by_ts,
    ),
    # batch k = event_id ≡ k (mod LATE_COHORTS); every cohort spans the
    # whole time range, so later batches are mostly late stragglers.
    # Needs ≥ 3 cohorts to drop anything: since SPARK-40925 the late
    # filter of batch k uses the watermark displayed for batch k−1
    "events_cohorts3": (lambda ev: ev, _cohorts),
    # every THIN_MOD-th event (per-user gaps let idle timeouts fire),
    # split into exact row_number quartiles
    "events_quartiles4": (
        lambda ev: ev.filter(F.col("event_id") % THIN_MOD == 0),
        _quartiles,
    ),
}


def events_stream(
    spark: SparkSession,
    sf_dir: str,
    kind: str,
    files_per_trigger: int = 1,
) -> DataFrame:
    """The staged events stream ``kind`` (a key of _EVENT_STREAMS)."""
    shape, split = _EVENT_STREAMS[kind]
    frame = shape(load_table(spark, sf_dir, "events"))
    return staged_stream(
        spark, _src(sf_dir), kind, frame, split, files_per_trigger
    )


def stream_ohlc_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The oracle-graded STREAMING path of ``ohlc_daily``: bounded file
    stream over the events parquet → watermarked 1-day tumbling-window
    min_by/max_by aggregate (one candidate row per extreme per open
    window) → complete-mode memory sink. The streaming bars are
    bit-identical to the batch bars once every window closes (pinned in
    tests/test_streaming.py), so this query shares ``ohlc_daily``'s
    oracle, which then certifies the streaming executor path
    (file-source offsets, state store, window eviction, sink commit)."""
    return drain(
        spark,
        lambda s: ohlc_daily_stream(read_events_stream(s, sf_dir)),
        "stream_ohlc_drain_sink",
        "complete",
        _src(sf_dir),
    )


def stream_stateful_totals_drain(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Oracle-grades the ARBITRARY-STATEFUL streaming path
    (applyInPandasWithState + state store) across MULTIPLE
    micro-batches: the events table staged as 4 files, two per trigger,
    flows through ``running_user_totals_exact`` (per-user running count
    + exact integer-cent totals) into an update-mode memory sink. The
    sink holds one snapshot row per (user, batch); the FINAL snapshot
    per user is the max of the monotone counters, and because the state
    is exact integers it equals the plain batch aggregate REGARDLESS of
    how the stream was split — the reconciliation a production stateful
    counter must pass. Certifies state encode/decode, cross-batch
    persistence and update-mode emission."""
    snap = drain(
        spark,
        lambda s: running_user_totals_exact(
            events_stream(s, sf_dir, "events_parts4", DRAIN_FILES_PER_TRIGGER)
        ),
        "stream_stateful_totals_sink",
        "update",
        _src(sf_dir),
        python_stateful=True,
    )
    return snap.groupBy("user_id").agg(
        F.max("n_events").alias("n_events"),
        (F.max("cents") / F.lit(100.0)).alias("total_value"),
    )


def stream_join_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-grades the STREAM-STREAM JOIN path: the purchase→click
    attribution join (each purchase matched to the same user's clicks in
    the preceding 30 minutes; both sides watermarked, event-time bounds
    evict state) through the symmetric-hash stream join operator,
    append-mode sink. The bounded file source delivers ONE micro-batch,
    so no input can be late and the drained result equals the batch
    join exactly — the oracle. Cross-batch join state is graded by
    stream_join_multibatch_drain; unordered multi-batch arrival stays
    ungraded by design (cross-batch matches become late-data drops, see
    purchase_attribution)."""
    return drain(
        spark,
        lambda s: purchase_attribution(read_events_stream(s, sf_dir)),
        "stream_join_drain_sink",
        "append",
        _src(sf_dir),
    )


def stream_join_multibatch_drain(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Oracle-grades CROSS-BATCH stream-stream join state: the
    purchase→click attribution join over event-time-ordered micro-batches
    (the events_ordered4 stream, two files per trigger). Under ordered
    arrival no input is ever late, and an inner join whose event-time
    horizon (24 h — wide enough that matches straddle the batch
    boundaries, verified in tests) is below the watermark delay (48 h)
    loses no cross-batch match: a buffered click is evicted at the end
    of batch k only when watermark = max_ts(k) − 48 h has passed it, by
    which point every purchase within its 24-h horizon (≤ click_ts +
    24 h < eviction threshold + 48 h ≤ max_ts(k)) has already arrived
    and matched. The drained append-mode result therefore equals the
    batch join EXACTLY — the oracle — while certifying join state
    persisted across micro-batches, watermark advance and eviction."""
    return drain(
        spark,
        lambda s: purchase_attribution(
            events_stream(
                s, sf_dir, "events_ordered4", DRAIN_FILES_PER_TRIGGER
            ),
            horizon_min=24 * 60,
            watermark="48 hours",
        ),
        "stream_join_multibatch_sink",
        "append",
        _src(sf_dir),
    )


def stream_dedup_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-grades the STREAMING DEDUP state operator
    (dropDuplicatesWithinWatermark): the events table with planted exact
    duplicates (every DUP_MOD-th event twice, full-row copies, so the
    kept row is identical whichever copy wins) flows through
    event-time-ordered micro-batches (events_ordered_dup4, two files per
    trigger) and the dedup state store drops the second copies; the
    drained append-mode output is therefore EXACTLY the original events
    table — the oracle. Ordered arrival means nothing is dropped as late
    data, duplicate copies share the original's event time so both sit
    inside the watermark horizon, and ids are held in state across
    batches."""
    return drain(
        spark,
        lambda s: dedup_within_watermark(
            events_stream(
                s, sf_dir, "events_ordered_dup4", DRAIN_FILES_PER_TRIGGER
            ),
            watermark="48 hours",
        ),
        "stream_dedup_sink",
        "append",
        _src(sf_dir),
    ).select("event_id", "ts", "user_id", "event_type", "value", "props")


def stream_outer_join_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-grades the stream-stream OUTER join's NULL-emission path:
    the purchase→click attribution join as LEFT OUTER over
    event-time-ordered micro-batches (events_ordered4, two files per
    trigger). Inner matches emit on arrival; an unattributed purchase's
    null-click row is emitted only when the watermark proves no matching
    click can still arrive — an executor path (state eviction →
    null-padded emission) the inner-join drains never execute.

    Determinism (ordered arrival, no late input): the final emitted set
    is the batch LEFT join restricted on the null side to purchases the
    FINAL watermark passed. Two pinned subtleties the oracle encodes:
    (a) the global watermark is the MIN across the two watermarked sides
    (multipleWatermarkPolicy=min default), so wm = floor_ms(least(max
    click_ts, max purchase_ts)) − 48 h — using the events-global max
    admits 2 extra null rows on this fixture, measured; (b) a purchase
    is evictable once wm passes its own ts (its horizon only admits PAST
    clicks: click_ts ≤ purchase_ts), predicate ts < wm, with the sub-ms
    tie class not observable on µs-grain data."""
    return drain(
        spark,
        lambda s: purchase_attribution(
            events_stream(
                s, sf_dir, "events_ordered4", DRAIN_FILES_PER_TRIGGER
            ),
            horizon_min=24 * 60,
            watermark="48 hours",
            how="left_outer",
        ),
        "stream_outer_join_sink",
        "append",
        _src(sf_dir),
    )


def stream_session_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-grades the SESSION-WINDOW state operator: gap-based
    per-user sessions via ``session_window`` over event-time-ordered
    micro-batches (events_ordered4, two files per trigger), append-mode
    drain. Session state MERGES (an in-gap event extends the window and
    fuses adjacent windows), which no tumbling-window grade exercises;
    ordered arrival means no event is late, so the final emitted set is
    every session whose end (last event + 30 min) the final watermark
    (floor_ms(max ts) − 48 h) has passed, with exactly the batch
    gaps-and-islands membership.

    Boundary semantics, Spark-true and test-pinned: two point events
    exactly gap apart MERGE (Spark's window-overlap test is next.start
    <= prev.end, boundary-inclusive), so the oracle breaks at diff >
    gap, the SAME convention as the batch twin ``sessionize_events``.
    Counts and integer-cent sums keep the hash exact."""

    def build(s: SparkSession) -> DataFrame:
        raw = events_stream(
            s, sf_dir, "events_ordered4", DRAIN_FILES_PER_TRIGGER
        )
        return (
            raw.withWatermark("ts", "48 hours")
            .groupBy(
                F.session_window("ts", "30 minutes").alias("s"), "user_id"
            )
            .agg(
                F.count("*").alias("n_events"),
                F.sum(F.round(F.col("value") * 100).cast("long")).alias(
                    "cents"
                ),
            )
            .select(
                F.col("s.start").alias("session_start"),
                F.col("s.end").alias("session_end"),
                "user_id",
                "n_events",
                (F.col("cents") / 100.0).alias("total_value"),
            )
        )

    return drain(spark, build, "stream_session_sink", "append", _src(sf_dir))


def stream_late_drop_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-grades WATERMARK-DISCARD semantics — the one streaming
    behavior no other drain touches (they all arrange for no row to ever
    be late): a 5-minute windowed aggregate in APPEND mode over the
    pinned-late events_cohorts3 stream (batch k = event_id ≡ k mod 3,
    each cohort spanning the full time range, one file per trigger).
    Batch 0 advances the watermark to its frontier − 24 h; batch 2's
    stragglers are then filtered against it and the state store
    genuinely DROPS them (numRowsDroppedByWatermark = 3205 of 3333 at
    sf0.01, pinned non-zero in tests/test_streaming.py), while its
    newest ~24 h survive into still-open windows. The drained output is
    SQL-replayable:

    - the late filter for batch k uses the watermark DISPLAYED for batch
      k−1 (SPARK-40925 splits late-event and eviction watermarks), so
      cohort 2 is filtered by wmF = floor_ms(max(ts | cohort 0)) − 24 h
      and cohort 1 by the initial 1970 watermark (kept entirely);
    - a window is emitted exactly once, when the eviction watermark
      passes its end, so the final emitted set is every window with end
      ≤ floor_ms(max(ts)) − 24 h, aggregating the cohorts that merged
      before its eviction batch.

    Tie class, not observable on minute-aligned windows: Spark's
    predicate is window.end − 1 µs ≤ wm, the oracle writes end ≤ wm.
    Counts and integer-cent sums make the value hash exact."""

    def build(s: SparkSession) -> DataFrame:
        return (
            events_stream(s, sf_dir, "events_cohorts3")
            .withWatermark("ts", "24 hours")
            .groupBy(F.window("ts", "5 minutes").alias("w"), "event_type")
            .agg(
                F.count("*").alias("n"),
                F.sum(F.round(F.col("value") * 100).cast("long")).alias(
                    "cents"
                ),
            )
            .select(
                F.col("w").getField("start").alias("bucket"),
                "event_type",
                "n",
                (F.col("cents") / 100.0).alias("total_value"),
            )
        )

    return drain(spark, build, "stream_late_drop_sink", "append", _src(sf_dir))


def stream_join_late_drop_drain(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Oracle-grades LATE-DATA DROPS IN STREAM-STREAM JOIN STATE: the
    purchase→click attribution join (24-h horizon, 24-h watermark delay,
    inner) fed by the pinned-late events_cohorts3 stream. Batch 0
    advances the watermark to its frontier − 24 h; batch 2's stragglers
    are then dropped by the symmetric-hash join's per-side late-row
    filter BEFORE they can store or match, so matches the batch join
    finds are genuinely lost (487 of 860 at sf0.01, pinned non-zero in
    tests/test_streaming.py).

    Determinism — why the emitted set is a pure function of the table:

    - the late filter for batch k uses the watermark displayed for batch
      k−1 (SPARK-40925), so cohort 1 is filtered by the initial 1970
      watermark (kept entirely) and cohort 2 by wmF = floor_ms(least(max
      click ts, max purchase ts) | cohort 0) − 24 h — the MIN across the
      two watermarked sides, each side's max over ITS cohort-0 rows
      because the watermark node sits above the event-type filter;
    - state eviction never drops a surviving match: a click evicted at
      the end of batch 1 has click_ts < wmF − 24 h, so every purchase it
      could match (purchase_ts ≤ click_ts + 24 h < wmF) is itself below
      batch 2's late filter; symmetrically an evicted purchase
      (purchase_ts < wmF) can only match clicks below wmF. The emitted
      set is therefore the batch join over the KEPT input (cohorts 0/1
      plus cohort-2 rows with ts ≥ wmF) — the oracle.

    Tie class, not observable on µs-grain data: Spark keeps ts ≥ wm."""
    return drain(
        spark,
        lambda s: purchase_attribution(
            events_stream(s, sf_dir, "events_cohorts3"),
            horizon_min=24 * 60,
            watermark="24 hours",
        ),
        "stream_join_late_drop_sink",
        "append",
        _src(sf_dir),
    )


def stream_idle_flush_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-grades EVENT-TIME TIMEOUT state eviction
    (``GroupState.hasTimedOut``): per-user running counters accumulate
    silently, and a user's record is EMITTED only when the state store
    times the key out (watermark passes their last event + IDLE_MS) —
    the "flush the entity's rollup when it goes quiet" pattern. Data
    calls never emit; every sink row comes from the timed-out branch,
    then ``state.remove()`` — so the drained table certifies timeout
    registration, the watermark-vs-timeout comparison, the no-data
    invocation and state removal.

    Determinism: the events_quartiles4 stream's batch boundaries are
    exact row_number quartiles, so batch membership is a pure function
    of the table; under ordered arrival a key times out in batch k iff
    it has NO rows in batch k, holds live state, and floor_ms(max ts of
    batch k−1) − delay strictly exceeds floor_ms(its last event) +
    IDLE_MS. The oracle replays this state machine with a recursive CTE
    over FIVE steps, not four: after the last file Spark runs one
    NO-DATA micro-batch because the watermark advanced, and it flushes
    every remaining state the final watermark clears (92 of the 140
    sf0.01 flushes happen in data batches, 48 in the no-data batch).
    Output grain (user_id, last_ts) is unique: re-flushes carry later
    timestamps."""
    import pandas as pd  # noqa: PLC0415
    from pyspark.sql.streaming.state import GroupState  # noqa: PLC0415

    def flush(key, pdfs, state: GroupState):
        if state.hasTimedOut:
            n, last_us = state.get
            state.remove()
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_events": [n],
                    "last_ts": [pd.Timestamp(last_us, unit="us")],
                }
            )
            return
        n, last_us = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            n += len(pdf)
            ts_us = pdf["ts"].astype("datetime64[us]").astype("int64")
            last_us = max(last_us, int(ts_us.max()))
        state.update((n, last_us))
        # fires when the watermark strictly passes this (ms grain)
        state.setTimeoutTimestamp(last_us // 1000 + IDLE_MS)

    return drain(
        spark,
        lambda s: events_stream(s, sf_dir, "events_quartiles4")
        .withWatermark("ts", f"{IDLE_DELAY_MS // 1000} seconds")
        .groupBy("user_id")
        .applyInPandasWithState(
            flush,
            outputStructType="user_id long, n_events long, last_ts timestamp",
            stateStructType="n long, last_us long",
            outputMode="update",
            timeoutConf="EventTimeTimeout",
        ),
        "stream_idle_flush_sink",
        "update",
        _src(sf_dir),
        python_stateful=True,
    )


def stream_chained_state_drain(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Oracle-grades CHAINED STATEFUL OPERATORS in one streaming query:
    ``dropDuplicatesWithinWatermark`` feeding a watermarked 1-day window
    aggregate, with the watermark PROPAGATED between the two state
    stores (SPARK-42376). The input is the planted-duplicate
    events_ordered_dup4 stream: if the dedup stage leaked one copy, a
    window's count and cents would double-count and the value hash
    would diverge — so the grade proves the chain, not just the final
    agg. Ordered arrival means no input is late; the dedup output equals
    the original events table, and append mode emits exactly the windows
    the FINAL watermark (floor_ms(max ts) − 48 h, advanced by the
    post-stream no-data batch) closed. The oracle is the batch daily
    aggregate restricted to those windows."""

    def build(s: SparkSession) -> DataFrame:
        raw = events_stream(
            s, sf_dir, "events_ordered_dup4", DRAIN_FILES_PER_TRIGGER
        )
        return (
            dedup_within_watermark(raw, watermark="48 hours")
            .groupBy(F.window("ts", "1 day").alias("w"), "event_type")
            .agg(
                F.count("*").alias("n"),
                F.sum(F.round(F.col("value") * 100).cast("long")).alias(
                    "cents"
                ),
            )
            .select(F.col("w.start").alias("day"), "event_type", "n", "cents")
        )

    return drain(
        spark, build, "stream_chained_state_sink", "append", _src(sf_dir)
    )


def stream_merge_snapshot_drain(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Oracle-grades the FOREACHBATCH → VERSIONED-SNAPSHOT MERGE last
    mile: each of four ordered micro-batches (events_ordered4, one file
    per trigger) is handed to a batch writer that READS the current
    snapshot version, full-outer upserts the batch's per-user aggregates
    into it (matched users accumulate, new users insert), and commits a
    NEW atomic version — the exactly-once-per-batch pattern behind every
    Delta/Iceberg ``MERGE INTO`` streaming sink. The target is durable,
    so the drain's checkpoint is too (``durable=True``).

    Determinism: the accumulator is EXACT integer cents, so the final
    snapshot equals the plain batch aggregate REGARDLESS of how the
    stream was split — the oracle. Four versions are committed; the
    returned frame is the final version's contents."""
    from ..sources.writers import (  # noqa: PLC0415
        read_version,
        write_versioned,
    )

    target = fresh_tmpdir("merge_snap_")

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        agg = batch_df.groupBy("user_id").agg(
            F.count("*").alias("n_events"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents"),
        )
        try:
            cur = read_version(spark, target).select(
                "user_id",
                F.col("n_events").alias("old_n"),
                F.col("cents").alias("old_c"),
            )
        except Exception:  # noqa: BLE001 - first batch: no snapshot yet
            merged = agg
        else:
            merged = cur.join(agg, on="user_id", how="full_outer").select(
                "user_id",
                (
                    F.coalesce("old_n", F.lit(0))
                    + F.coalesce("n_events", F.lit(0))
                ).alias("n_events"),
                (
                    F.coalesce("old_c", F.lit(0))
                    + F.coalesce("cents", F.lit(0))
                ).alias("cents"),
            )
        write_versioned(merged, target)

    drain(
        spark,
        lambda s: events_stream(s, sf_dir, "events_ordered4"),
        None,
        "append",
        _src(sf_dir),
        sink=sink,
        durable=True,
    )
    return read_version(spark, target).select(
        "user_id",
        "n_events",
        (F.col("cents") / F.lit(100.0)).alias("total_value"),
    )


def stream_static_join_drain(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Oracle-grades the STREAM-STATIC JOIN: each ordered micro-batch
    (events_ordered4, two files per trigger) BROADCAST-joins the
    customer table's market segment (``user_id = c_custkey − 1``), then
    feeds hourly windowed counts per segment in complete mode. The
    static side is stateless (re-resolved per micro-batch, no join state
    store), so the join must produce batch-identical enrichment on every
    trigger, and the complete-mode aggregate must equal the one-shot
    batch join + window aggregate — the oracle (every user_id maps to a
    customer at every scale factor, pinned in tests together with all 5
    segments appearing)."""

    def build(s: SparkSession) -> DataFrame:
        dim = load_table(s, sf_dir, "customer").select(
            (F.col("c_custkey") - 1).alias("user_id"),
            F.col("c_mktsegment").alias("segment"),
        )
        return enriched_counts(
            events_stream(
                s, sf_dir, "events_ordered4", DRAIN_FILES_PER_TRIGGER
            ),
            dim,
            window="1 hour",
            watermark="48 hours",
        )

    return drain(
        spark, build, "stream_static_join_sink", "complete", _src(sf_dir)
    )


def stream_url_frontier_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING crawl-frontier dedup — the incremental twin of
    ``url_canonical_dedup``: discovered URLs arrive in micro-batches, are
    canonicalized IN-STREAM with the batch query's map-side transform
    (``_canonicalized``), and ``dropDuplicatesWithinWatermark(
    ["canonical"])`` admits each RESOURCE once across batches, with state
    bounded by the watermark horizon.

    The staged stream is range-partitioned on the spelling VARIANT, two
    files per trigger, so successive micro-batches carry DIFFERENT
    spellings of the same resources — re-emission is prevented only by
    canonical-key state held across batches. The emitted projection
    (canonical, host) is identical whichever raw spelling wins the state
    race, so the drained output is EXACTLY the distinct resource universe
    — the oracle. Every crawl_ts shares one frontier epoch (doc_id
    microseconds apart), so nothing is ever late."""
    from ..llm.filters import _canonicalized, _planted_urls  # noqa: PLC0415

    def build(s: SparkSession) -> DataFrame:
        docs = load_table(s, sf_dir, "documents").select("doc_id")
        feed = _planted_urls(docs).withColumn(
            "crawl_ts",
            F.timestamp_micros(F.lit(1_600_000_000_000_000) + F.col("doc_id")),
        )
        raw = staged_stream(
            s,
            _src(sf_dir, "documents"),
            "url_frontier4",
            feed,
            lambda f: [f.repartitionByRange(4, F.col("v"), F.col("doc_id"))],
            DRAIN_FILES_PER_TRIGGER,
        )
        return (
            _canonicalized(raw, keep=["crawl_ts"])
            .withWatermark("crawl_ts", "48 hours")
            .dropDuplicatesWithinWatermark(["canonical"])
            .select("canonical", "host")
        )

    return drain(
        spark,
        build,
        "stream_url_frontier_sink",
        "append",
        _src(sf_dir, "documents"),
    )


def stream_topk_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING per-source best-K — BOUNDED RANKED state: an ORDERED
    top-K podium per key that each micro-batch must merge into and
    truncate (the "keep only the best K documents per domain" gate of a
    curated pretraining mix).

    The documents table is staged as four files HASH-partitioned on
    doc_id, DRAIN_FILES_PER_TRIGGER files per trigger, so each source's
    contenders are scattered across micro-batches and the final podium
    exists only in cross-batch state (pinned in tests). State per key is
    K (score, doc_id) pairs plus a seen-counter; top-K merge is
    associative, so the final podium is independent of the split.

    Update mode emits one snapshot per (source, batch-with-rows), and
    ``n_seen`` strictly increases across a key's snapshots, so the FINAL
    podium per source is the snapshot at max(n_seen). Score ties break
    by doc_id ascending in both the state merge and the oracle."""
    import pandas as pd  # noqa: PLC0415
    from pyspark.sql.streaming.state import GroupState  # noqa: PLC0415

    def update(key, pdfs, state: GroupState):
        if state.exists:
            doc_ids, scores, n_seen = state.get
            pairs = [(int(s), int(d)) for s, d in zip(scores, doc_ids)]
        else:
            pairs, n_seen = [], 0
        for pdf in pdfs:
            n_seen += len(pdf)
            pairs.extend(
                zip(
                    pdf["n_chars"].astype("int64").tolist(),
                    pdf["doc_id"].astype("int64").tolist(),
                )
            )
        # highest score first, doc_id ascending inside a tie class
        pairs.sort(key=lambda p: (-p[0], p[1]))
        pairs = pairs[:TOPK_K]
        state.update(
            ([d for _, d in pairs], [s for s, _ in pairs], int(n_seen))
        )
        yield pd.DataFrame(
            {
                "source": [key[0]] * len(pairs),
                "rnk": list(range(1, len(pairs) + 1)),
                "doc_id": [d for _, d in pairs],
                "score": [s for s, _ in pairs],
                "n_seen": [int(n_seen)] * len(pairs),
            }
        )

    def build(s: SparkSession) -> DataFrame:
        docs = load_table(s, sf_dir, "documents").select(
            "doc_id", "source", "n_chars"
        )
        raw = staged_stream(
            s,
            _src(sf_dir, "documents"),
            "topk_docs4",
            docs,
            lambda f: [f.repartition(4, F.col("doc_id"))],
            DRAIN_FILES_PER_TRIGGER,
        )
        return raw.groupBy("source").applyInPandasWithState(
            update,
            outputStructType=(
                "source string, rnk int, doc_id long, score long, n_seen long"
            ),
            stateStructType=(
                "doc_ids array<long>, scores array<long>, n_seen long"
            ),
            outputMode="update",
            timeoutConf="NoTimeout",
        )

    snap = drain(
        spark,
        build,
        "stream_topk_sink",
        "update",
        _src(sf_dir, "documents"),
        python_stateful=True,
    )
    final_seen = F.max("n_seen").over(Window.partitionBy("source"))
    return (
        snap.withColumn("mx", final_seen)
        .where(F.col("n_seen") == F.col("mx"))
        .select("source", "rnk", "doc_id", "score")
    )
