"""Structured Streaming twins of the batch event operators.

``readStream`` over the events parquet → watermarked windowed aggregation /
session windows / custom stateful processing → any sink. Tests drive these
with ``Trigger.AvailableNow`` into a memory sink and assert equality with
the batch results — the Kappa-architecture guarantee (one logical plan,
two execution modes).

Scale notes:
* watermarks bound state: 10-minute lateness → state per (window, type)
  only until watermark passes the window end — state size is O(active
  windows × types), independent of stream length;
* ``session_window`` is Spark's native gap-session operator (the batch
  module's lag/cumsum formulation is its shuffle-equivalent);
* ``applyInPandasWithState`` shows the arbitrary-stateful path (running
  per-user counters) — the hook for custom operators that windowing
  can't express. Its closure is self-contained (executor workers do not
  import this package).
* Spark 4's ``transformWithStateInPandas`` (StatefulProcessor with
  Value/List/Map state + timers) was evaluated as the successor API:
  its driver-side Python worker requires ``google.protobuf`` for the
  state-server protocol, which this runtime lacks — the minimal
  ValueState probe crashes in the worker's protobuf import before any
  state schema is registered. ``applyInPandasWithState`` carries the
  arbitrary-state surface here; the operators are written so a TWS
  port is a mechanical init/handleInputRows re-wrap.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

WATERMARK = "10 minutes"
WINDOW = "5 minutes"
SESSION_GAP = "30 minutes"

def read_events_stream(
    spark: SparkSession,
    sf_dir: str,
    file_glob: str = "events.parquet",
    footer_file: str | None = None,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-source stream over the events table (one file = one microbatch
    under AvailableNow; on a cluster this is a directory being appended
    to, or swap for Kafka with the same downstream plan).

    Streaming readers require an explicit schema, and parquet writers
    encode ``ts`` several ways (nanos, micros-NTZ, micros-LTZ), so the
    stream schema is derived from the FILE FOOTER, never assumed: a
    micros/NTZ/LTZ footer declares ``TimestampType`` directly (the scan
    interprets NTZ wall-clock micros as UTC epoch micros — the batch
    loader's semantics); a TIMESTAMP(NANOS) footer declares raw
    ``LongType`` (``nanosAsLong``) and truncates to microseconds with
    INTEGER division. Either way every downstream consumer sees one
    type: ``TimestampType``.
    """
    from pyspark.sql.types import TimestampType

    from ..sources.catalog import _footer_schema

    # _footer_schema sets/restores the nanosAsLong flag around its eager
    # sniff; the explicit-schema stream scan below never consults it.
    footer = {
        f.name: f.dataType
        for f in _footer_schema(
            spark, f"{sf_dir}/{footer_file or file_glob}"
        ).fields
    }
    ts_is_nanos = isinstance(footer.get("ts"), LongType)
    schema = StructType(
        [
            StructField("event_id", LongType()),
            StructField("ts", LongType() if ts_is_nanos else TimestampType()),
            StructField("user_id", LongType()),
            StructField("event_type", StringType()),
            StructField("value", DoubleType()),
            StructField("props", StringType()),
        ]
    )
    # File-source streams take a DIRECTORY; glob-filter to the events table.
    reader = spark.readStream.schema(schema).option("pathGlobFilter", file_glob)
    if max_files_per_trigger is not None:
        # AvailableNow respects this: the drain becomes several ordered
        # microbatches (files ordered by modification time), which is how
        # the left-outer replay stages its watermark-advancing sentinels.
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    raw = reader.parquet(sf_dir)
    if ts_is_nanos:
        raw = raw.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    return raw


def streaming_tumbling_counts(events: DataFrame) -> DataFrame:
    """Watermarked 5-minute tumbling counts per event type — the streaming
    twin of ``operators.events.events_tumbling_window``."""
    return (
        events.withWatermark("ts", WATERMARK)
        .groupBy(F.window("ts", WINDOW).alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            (
                F.sum(F.expr("CAST(round(value * 100, 0) AS BIGINT)"))
                / F.lit(100.0)
            ).alias("sum_value"),
        )
        .select(
            F.unix_timestamp(F.col("w.start")).alias("window_start_epoch"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def streaming_sliding_counts(events: DataFrame) -> DataFrame:
    """Watermarked 10-minute/5-minute sliding counts per event type — the
    streaming twin of ``operators.events.events_sliding_window``. Same
    watermark state bound as tumbling, ×2 active windows (size/slide)."""
    return (
        events.withWatermark("ts", WATERMARK)
        .groupBy(F.window("ts", "10 minutes", "5 minutes").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            (
                F.sum(F.expr("CAST(round(value * 100, 0) AS BIGINT)"))
                / F.lit(100.0)
            ).alias("sum_value"),
        )
        .select(
            F.unix_timestamp(F.col("w.start")).alias("window_start_epoch"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def streaming_session_aggregates(events: DataFrame) -> DataFrame:
    """Native gap-session windows (30-min inactivity) per user.

    Timestamps are truncated to whole seconds BEFORE windowing so the
    split rule is identical to the batch sessionization and its DuckDB
    oracle, which flag on floored-epoch diffs ``> SESSION_GAP``. Spark
    merges session windows that touch (an event at exactly last + gap
    extends the session — measured in the boundary canary), so over
    truncated input ``session_window`` splits exactly when the floored
    diff exceeds the gap. Without the truncation, a microsecond gap in
    ``(gap, gap + 1s)`` could split here but merge in the
    second-resolution oracle.
    """
    return (
        events.withColumn("ts", F.date_trunc("second", F.col("ts")))
        .withWatermark("ts", WATERMARK)
        .groupBy(F.session_window("ts", SESSION_GAP).alias("sw"), "user_id")
        .agg(
            F.count("*").alias("n_events"),
            (
                F.sum(F.expr("CAST(round(value * 100, 0) AS BIGINT)"))
                / F.lit(100.0)
            ).alias("sum_value"),
        )
        .select(
            "user_id",
            F.unix_timestamp(F.col("sw.start")).alias("session_start_epoch"),
            "n_events",
            "sum_value",
        )
    )


def streaming_user_running_counts(events: DataFrame) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: running
    event count + value total per user, emitted on every update."""
    out_schema = "user_id long, n_events long, total_value double"
    state_schema = "n long, total double"

    def update(key, pdf_iter, state):
        # Self-contained closure: plain pandas + GroupState API only.
        import pandas as pd

        n, total = state.get() if state.exists else (0, 0.0)
        for pdf in pdf_iter:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [total]}
        )

    from pyspark.sql.streaming.state import GroupStateTimeout

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        out_schema,
        state_schema,
        "update",
        GroupStateTimeout.NoTimeout,
    )


def streaming_daily_distinct_sketches(events: DataFrame) -> DataFrame:
    """Streaming twin of ``operators.sketches.daily_distinct_users_hll``'s
    production shape: per-day HLL sketches of distinct users, maintained
    incrementally.

    HLL state is a pure max-per-register function of the item SET —
    merge-order independent — so the streaming estimates equal the batch
    estimates EXACTLY (asserted in tests), which is what makes sketch
    columns safe to maintain under continuous ingest and union with
    historical partitions at query time.
    """
    return (
        events.withWatermark("ts", WATERMARK)
        .groupBy(F.window("ts", "1 day").alias("w"))
        .agg(
            F.hll_sketch_estimate(F.hll_sketch_agg("user_id"))
            .cast("long")
            .alias("apx_users")
        )
        .select(F.to_date(F.col("w.start")).alias("day"), "apx_users")
    )


from contextlib import contextmanager


@contextmanager
def _pinned_shuffle_partitions(spark: SparkSession, n: int):
    """Pin spark.sql.shuffle.partitions for the duration of a streaming
    drain (state-store count is fixed at checkpoint creation; see
    :func:`run_available_now` for the measured rationale), restoring the
    previous value after."""
    prev = spark.conf.get("spark.sql.shuffle.partitions", None)
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    try:
        yield
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.shuffle.partitions")
        else:
            spark.conf.set("spark.sql.shuffle.partitions", prev)


def run_available_now(
    sdf: DataFrame,
    query_name: str,
    checkpoint_dir: str,
    output_mode: str = "complete",
    shuffle_partitions: int = 8,
) -> DataFrame:
    """Drain the whole source as a finite stream into a memory sink and
    return the materialized result (test/batch-replay harness).

    ``output_mode``: "complete" for windowed aggregations (append would
    withhold windows the watermark has not passed when the finite stream
    ends); "update" for applyInPandasWithState.

    ``shuffle_partitions`` is pinned for the duration of the stream (and
    restored after): a streaming query's STATE STORE count is fixed at
    ``spark.sql.shuffle.partitions`` when its checkpoint is created, and
    the driver's bare session defaults to 200 — 200 state stores per
    stateful operator for a fixtures-scale drain. The engine must not
    depend on session-level tuning (each call uses a fresh checkpoint, so
    pinning here is safe and self-contained).

    Default 8 (was 32): per-microbatch state-store open/commit overhead
    scales with partition count and dominates fixture-scale drains —
    interleaved A/B on the sf0.1 stream-stream join drain measured
    32→8 partitions as 7.2 s → 2.3 s (×3, n=3 each, identical output;
    4 partitions saved only ~0.3 s more). A production drain of real
    volume should pass an explicit value sized to executor count.
    """
    spark = sdf.sparkSession
    with _pinned_shuffle_partitions(spark, shuffle_partitions):
        q = (
            sdf.writeStream.format("memory")
            .queryName(query_name)
            .outputMode(output_mode)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.table(query_name)


def events_tumbling_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-registered Kappa check: drain the events table as a FINITE
    STREAM (AvailableNow) through :func:`streaming_tumbling_counts` and
    return the materialized result — which must equal the batch
    ``events_tumbling_window`` exactly, so it shares that query's DuckDB
    oracle (``EVENTS_TUMBLING_SQL``). One logical plan, two execution
    modes, one hash.

    Checkpoint and memory-sink name are unique per invocation (concurrent
    driver + bench runs must not share streaming state); checkpoints are
    removed at process exit.
    """
    import atexit
    import shutil
    import tempfile
    import uuid

    tag = uuid.uuid4().hex[:12]
    ckpt = tempfile.mkdtemp(prefix=f"hha_replay_ckpt_{tag}_")
    atexit.register(shutil.rmtree, ckpt, ignore_errors=True)
    out = run_available_now(
        streaming_tumbling_counts(read_events_stream(spark, sf_dir)),
        query_name=f"tumbling_replay_{tag}",
        checkpoint_dir=ckpt,
    )
    # Memory-sink "complete" mode holds exactly the final aggregate state
    # (windows × types — small by construction; the watermark bounds it on
    # an infinite stream, finiteness bounds it here).
    return out


def events_session_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-registered session-window check: drain the events table as a
    FINITE STREAM (AvailableNow) through
    :func:`streaming_session_aggregates` — Spark's native gap-session
    operator with state — and return the materialized per-session
    aggregates, which must equal the batch lag/cumsum sessionization
    (minus its session ordinal, which windowed state doesn't carry), so
    it shares an oracle derived from the batch query's SQL
    (``operators.events.EVENTS_SESSION_AGG_SQL``).

    With tumbling (windowed state) and click→purchase (join state)
    already driver-replayed, this covers the third stateful shape:
    MERGING window state. Boundary semantics are aligned EXACTLY with
    the oracle, not probabilistically: the streaming side truncates
    timestamps to whole seconds, after which ``session_window`` splits
    precisely when the floored-epoch gap is > ``SESSION_GAP_SEC`` —
    the oracle's flag rule — so no fixture regen can land in a mismatch
    band. The boundary canary in ``tests/test_streaming.py`` drives
    gaps of 1799/1800/1801 s (± sub-second jitter) through streaming,
    batch, and the oracle SQL.
    """
    import atexit
    import shutil
    import tempfile
    import uuid

    tag = uuid.uuid4().hex[:12]
    ckpt = tempfile.mkdtemp(prefix=f"hha_session_ckpt_{tag}_")
    atexit.register(shutil.rmtree, ckpt, ignore_errors=True)
    return run_available_now(
        streaming_session_aggregates(read_events_stream(spark, sf_dir)),
        query_name=f"session_replay_{tag}",
        checkpoint_dir=ckpt,
    )


def run_incremental_rollup(
    events: DataFrame, partials_dir: str, checkpoint_dir: str
) -> None:
    """Continuous-aggregate maintenance without a transactional table
    format: each micro-batch writes its (day, event_type) partial
    aggregates to a ``batch_id=N`` partition with ``mode("overwrite")``
    — a retried batch overwrites its own partition instead of
    double-counting, so the sink is IDEMPOTENT and therefore
    exactly-once end-to-end. :func:`rollup_view` merges partials at
    read; sums/counts are algebraic, so merge order is irrelevant
    (the exact-count analog of the HLL sketch-union rollup).

    PAIRING CONTRACT: ``partials_dir`` and ``checkpoint_dir`` live and
    die together. The batch ids that name the partitions come from the
    checkpoint; restarting against an existing ``partials_dir`` with a
    FRESH checkpoint would re-number batches from 0 with different
    contents and leave stale higher-numbered partitions that
    :func:`rollup_view` double-counts. Guarded below: a fresh checkpoint
    plus a non-empty partials dir raises instead of corrupting the
    rollup (wipe or re-pair explicitly).

    At 100 TB: partials are tiny (days × types per batch); a periodic
    compaction job re-aggregates old partials into one partition —
    the same merge the view already performs.
    """
    import glob
    import os

    fresh_checkpoint = not os.path.exists(
        os.path.join(checkpoint_dir, "offsets")
    )
    if fresh_checkpoint and glob.glob(
        os.path.join(partials_dir, "batch_id=*")
    ):
        raise ValueError(
            f"fresh checkpoint {checkpoint_dir!r} with existing partials in "
            f"{partials_dir!r}: batch ids would restart at 0 and stale "
            "partitions would double-count in rollup_view; clear the "
            "partials dir or reuse the paired checkpoint"
        )

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.withColumn("day", F.to_date("ts"))
            .groupBy("day", "event_type")
            .agg(
                F.count("*").alias("n_events"),
                F.sum(F.expr("CAST(round(value * 100, 0) AS BIGINT)")).alias(
                    "sum_cents"
                ),
            )
            .write.mode("overwrite")
            .parquet(f"{partials_dir}/batch_id={batch_id}")
        )

    q = (
        events.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def rollup_view(spark: SparkSession, partials_dir: str) -> DataFrame:
    """Merge-on-read over the incremental partials: the maintained
    continuous aggregate, identical to a full batch groupBy."""
    return (
        spark.read.parquet(f"{partials_dir}/batch_id=*")
        .groupBy("day", "event_type")
        .agg(
            F.sum("n_events").alias("n_events"),
            (F.sum("sum_cents") / F.lit(100.0)).alias("sum_value"),
        )
    )


def run_foreach_batch_etl(
    events: DataFrame, out_dir: str, checkpoint_dir: str
) -> None:
    """Streaming ETL sink via ``foreachBatch``: each micro-batch lands as
    date-partitioned parquet with exactly-once semantics (batch id +
    checkpoint make replays idempotent).

    The canonical 100 TB ingestion pattern: stream → enrich (pure column
    ops) → partitioned columnar layout that the whole batch query surface
    (partition pruning, pushdown) then runs against.
    """

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.withColumn("day", F.to_date("ts"))
            .write.mode("append")
            .partitionBy("day")
            .parquet(out_dir)
        )

    q = (
        events.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def streaming_click_purchase_join(events: DataFrame) -> DataFrame:
    """Watermarked stream-stream inner join — the streaming twin of
    ``operators.events.events_click_purchase_join``.

    Both sides carry a watermark and the join condition carries the time
    range, so Spark derives a state-retention bound per side (clicks kept
    ~attribution-window + watermark; purchases ~watermark) and evicts
    state as the watermark advances — bounded state on an infinite
    stream, which is the whole point of the operator. Inner-join matches
    emit as soon as both rows have arrived (no watermark hold on
    emission), so an AvailableNow drain yields exactly the batch result.
    """
    from ..operators.events import ATTRIB_WINDOW_SEC

    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            "user_id",
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", WATERMARK)
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", WATERMARK)
    )
    j = clicks.join(
        purchases,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") > F.col("click_ts"))
        & (
            F.col("purchase_ts")
            <= F.col("click_ts") + F.expr(f"INTERVAL {ATTRIB_WINDOW_SEC} SECONDS")
        ),
    )
    return j.select(
        "click_id",
        "purchase_id",
        "user_id",
        (F.col("purchase_ts").cast("long") - F.col("click_ts").cast("long")).alias(
            "secs_to_purchase"
        ),
    )


def events_stream_join_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-registered stream-stream-join check: drain the events table
    as a finite stream through :func:`streaming_click_purchase_join` and
    return the materialized matches — which must equal the batch
    ``events_click_purchase_join`` exactly, so it shares that query's
    DuckDB oracle (``EVENTS_STREAM_JOIN_SQL``). Append mode: stream-stream
    joins emit inner matches eagerly; state eviction (not emission) is
    what the watermark gates.
    """
    import atexit
    import shutil
    import tempfile
    import uuid

    tag = uuid.uuid4().hex[:12]
    ckpt = tempfile.mkdtemp(prefix=f"hha_ssjoin_ckpt_{tag}_")
    atexit.register(shutil.rmtree, ckpt, ignore_errors=True)
    return run_available_now(
        streaming_click_purchase_join(read_events_stream(spark, sf_dir)),
        query_name=f"ssjoin_replay_{tag}",
        checkpoint_dir=ckpt,
        output_mode="append",
    )


def streaming_click_purchase_left_join(events: DataFrame) -> DataFrame:
    """Watermarked stream-stream LEFT OUTER join: every click, matched to
    attributable purchases where they exist, emitted with NULL purchase
    columns where none arrives — the "which clicks never converted"
    stream, the outer shape :func:`streaming_click_purchase_join` cannot
    express.

    Unlike the inner join (matches emit eagerly), the NULL row for an
    unmatched click can only emit when the watermark proves no matching
    purchase can still arrive — i.e. passes click_ts + attribution
    window; until then the click sits in (bounded, watermark-evicted)
    state. Same state-retention bounds as the inner form.
    """
    from ..operators.events import ATTRIB_WINDOW_SEC

    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            "user_id",
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", WATERMARK)
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", WATERMARK)
    )
    j = clicks.join(
        purchases,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") > F.col("click_ts"))
        & (
            F.col("purchase_ts")
            <= F.col("click_ts") + F.expr(f"INTERVAL {ATTRIB_WINDOW_SEC} SECONDS")
        ),
        "leftOuter",
    )
    return j.select(
        "click_id",
        "purchase_id",
        "user_id",
        (F.col("purchase_ts").cast("long") - F.col("click_ts").cast("long")).alias(
            "secs_to_purchase"
        ),
    )


def events_stream_left_join_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-outer stream-stream join drained against the batch LEFT JOIN
    oracle, as TWO AvailableNow runs over one checkpoint — the
    production restart cadence.

    A finite drain of an outer join needs care the inner replay does
    not: NULL rows emit on state EVICTION, eviction uses the watermark,
    and the watermark available to batch N is computed from batch N-1's
    data — so whatever arrives last can never have its unmatched clicks
    flushed by more data.

    * Drain 1 processes every REAL file in ONE microbatch
      (``maxFilesPerTrigger`` = file count): part files of a Spark-
      written table are not time-ordered, so slicing them into separate
      batches would advance the watermark past rows still to come and
      silently DROP them as late — single-batch ingest makes the drain
      independent of file layout.
    * Two far-future heartbeat sentinel files are then written (one
      click + one purchase row each — each side's watermark node sits
      behind its event_type filter, and the global watermark is the MIN
      of the sides), and drain 2 resumes from the same checkpoint with
      ``maxFilesPerTrigger=1``: sentinel 1's batch enters the far-future
      event time, sentinel 2's batch RUNS with that watermark and evicts
      (emits) every remaining unmatched click. This is the production
      punctuation/heartbeat pattern for streams that go quiet.

    Sentinels are written in the SOURCE's own timestamp encoding (a
    TIMESTAMP(NANOS) fixture needs raw int64-nanos sentinels — the
    stream schema for such a source is LongType, and a micros-encoded
    sentinel file would not read through it).

    Sentinel rows use user_id/event_id = -1 (joinable with nothing) and
    are filtered from the result; the union of the two drains is
    bit-equal to the batch LEFT JOIN (``EVENTS_STREAM_LEFT_JOIN_SQL``).
    """
    import atexit
    import datetime
    import os
    import shutil
    import tempfile
    import uuid

    import pandas as pd

    from pyspark.sql.types import LongType as _Long

    from ..sources.catalog import _footer_schema, load_table

    tag = uuid.uuid4().hex[:12]
    src = tempfile.mkdtemp(prefix=f"hha_lojoin_src_{tag}_")
    ckpt = tempfile.mkdtemp(prefix=f"hha_lojoin_ckpt_{tag}_")
    atexit.register(shutil.rmtree, src, ignore_errors=True)
    atexit.register(shutil.rmtree, ckpt, ignore_errors=True)

    # Stage the real table: a single parquet file symlinks directly; a
    # directory-shaped table symlinks each part file. Either way drain 1
    # consumes them all in one batch.
    real = os.path.abspath(os.path.join(sf_dir, "events.parquet"))
    links = []
    if os.path.isdir(real):
        parts = sorted(
            p for p in os.listdir(real) if p.endswith(".parquet")
        )
        for i, p in enumerate(parts):
            name = f"00_real_{i:05d}.parquet"
            os.symlink(os.path.join(real, p), os.path.join(src, name))
            links.append(name)
    else:
        os.symlink(real, os.path.join(src, "00_real_00000.parquet"))
        links.append("00_real_00000.parquet")

    footer = {
        f.name: f.dataType for f in _footer_schema(spark, real).fields
    }
    ts_is_nanos = isinstance(footer.get("ts"), _Long)

    def build_stream(max_files: int) -> DataFrame:
        ev = read_events_stream(
            spark,
            src,
            file_glob="*.parquet",
            footer_file=links[0],
            max_files_per_trigger=max_files,
        )
        return streaming_click_purchase_left_join(ev).filter(
            F.col("click_id") >= 0
        )

    # multipleWatermarkPolicy=max, scoped to the drains. Measured on this
    # engine (Spark 4.1, recorded in the checkpoint offsets): under the
    # default "min" policy the GLOBAL watermark freezes after the first
    # eviction batch — both event-time nodes observe the far-future
    # heartbeats (eventTime.max advances per batch) yet the combined
    # watermark never re-advances, so tail state never flushes. Under
    # "max" it advances each batch and the final batches flush
    # everything. For THIS query the policies are semantically identical:
    # it is a self-join of ONE source, and every heartbeat file advances
    # BOTH sides' clocks in lockstep, so min(nodes) == max(nodes) at
    # every batch boundary. Do not copy this setting onto a multi-source
    # join with genuinely divergent clocks — there "max" can declare rows
    # late that "min" would admit.
    # The two-drain restart needs a RECOVERABLE sink (the memory sink
    # cannot resume from a checkpoint): drains append to one parquet
    # directory; the result is a batch read of that directory.
    out_dir = tempfile.mkdtemp(prefix=f"hha_lojoin_out_{tag}_")
    atexit.register(shutil.rmtree, out_dir, ignore_errors=True)

    def drain(sdf: DataFrame) -> None:
        with _pinned_shuffle_partitions(spark, 8):
            q = (
                sdf.writeStream.format("parquet")
                .option("path", out_dir)
                .option("checkpointLocation", ckpt)
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()

    wm_key = "spark.sql.streaming.multipleWatermarkPolicy"
    prev_policy = spark.conf.get(wm_key, None)
    spark.conf.set(wm_key, "max")
    try:
        first = build_stream(len(links))
        # capture the output contract NOW — the staged source is deleted
        # before the final read, and the empty-drain case needs an
        # explicit schema (no data files to infer from)
        out_schema = first.schema
        drain(first)

        # heartbeats, written AFTER drain 1 committed its offsets
        mx = load_table(spark, sf_dir, "events").agg(F.max("ts")).first()[0]
        now = None
        for i, days in ((1, 365), (2, 366)):
            sent_dt = mx + datetime.timedelta(days=days)
            if ts_is_nanos:
                ts_val = (
                    int(
                        sent_dt.replace(
                            tzinfo=datetime.timezone.utc
                        ).timestamp()
                        * 1_000_000
                    )
                    * 1000
                )
            else:
                ts_val = sent_dt
            pdf = pd.DataFrame(
                [
                    {
                        "event_id": -1,
                        "ts": ts_val,
                        "user_id": -1,
                        "event_type": et,
                        "value": 0.0,
                        "props": "{}",
                    }
                    for et in ("click", "purchase")
                ]
            )
            sdf = spark.createDataFrame(pdf)
            if ts_is_nanos:
                sdf = sdf.withColumn("ts", F.col("ts").cast("long"))
            d = tempfile.mkdtemp(prefix=f"hha_lojoin_tmp_{tag}_")
            sdf.coalesce(1).write.mode("overwrite").parquet(d)
            part = next(p for p in os.listdir(d) if p.endswith(".parquet"))
            dst = os.path.join(src, f"9{i}_sentinel.parquet")
            shutil.move(os.path.join(d, part), dst)
            shutil.rmtree(d, ignore_errors=True)
            if now is None:
                now = os.stat(dst).st_mtime
            os.utime(dst, (now + 100 * i, now + 100 * i))

        drain(build_stream(1))
    finally:
        if prev_policy is None:
            spark.conf.unset(wm_key)
        else:
            spark.conf.set(wm_key, prev_policy)
    shutil.rmtree(src, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)
    # Materialize before the tmp output dir is cleaned at interpreter
    # exit. The schema was captured from the streaming plan itself (an
    # all-empty drain commits no parquet data files, so inference would
    # throw) — derived, not restated, so renaming an output column
    # cannot silently null it at this read.
    out = spark.read.schema(out_schema).parquet(out_dir)
    rows = out.collect()
    shutil.rmtree(out_dir, ignore_errors=True)
    from ..functions.frames import local_frame

    return local_frame(spark, rows, out.schema)


# ------------------------------------------------ stream-static enrich


def streaming_segment_enrich(events: DataFrame, dim: DataFrame) -> DataFrame:
    """Stream-static dimension enrichment + running aggregate — the
    fourth canonical Structured Streaming shape beside windowed state,
    merging-session state, and stream-stream join state: each
    micro-batch joins against a STATIC dimension (no watermark, no join
    state — Spark re-plans the static side per batch, broadcast here
    since a mktsegment dimension is executor-resident at any scale),
    then folds into a stateful aggregation.

    The running (segment, event_type) totals are the classic enriched
    dashboard: value by customer segment as events arrive.
    """
    from ..operators.events import _VAL_CENTS

    e = events.select(
        "user_id", "event_type", F.expr(_VAL_CENTS).alias("cents")
    )
    enriched = e.join(
        F.broadcast(dim), e["user_id"] == dim["c_custkey"]
    )
    return (
        enriched.groupBy("c_mktsegment", "event_type")
        .agg(F.count("*").alias("n_events"), F.sum("cents").alias("cents"))
        .select(
            F.col("c_mktsegment").alias("segment"),
            "event_type",
            F.col("n_events").cast("long").alias("n_events"),
            (F.col("cents").cast("double") / F.lit(100.0)).alias(
                "total_value"
            ),
        )
    )


def events_stream_enrich_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-registered stream-static check: drain the events table as
    a finite stream joined per micro-batch to the static customer
    dimension, and return the final enriched running totals — which must
    equal the equivalent batch join + aggregate exactly (the static side
    is time-invariant, so Kappa equivalence is exact), giving it a plain
    SQL oracle.
    """
    import atexit
    import shutil
    import tempfile
    import uuid

    from ..sources.catalog import load_table

    dim = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    tag = uuid.uuid4().hex[:12]
    ckpt = tempfile.mkdtemp(prefix=f"hha_enrich_ckpt_{tag}_")
    atexit.register(shutil.rmtree, ckpt, ignore_errors=True)
    return run_available_now(
        streaming_segment_enrich(read_events_stream(spark, sf_dir), dim),
        query_name=f"enrich_replay_{tag}",
        checkpoint_dir=ckpt,
    )


EVENTS_STREAM_ENRICH_SQL = """
    SELECT c.c_mktsegment AS segment,
           e.event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CAST(round(e.value * 100, 0) AS BIGINT)) AS DOUBLE)
               / 100.0 AS total_value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY 1, 2
"""
