"""Structured Streaming operators over the events stream.

The reference's ``stream_csv`` is out-of-core batch reading, not
event-time streaming (``vinum/api/stream_reader.py:12-27``) — these are
pure extensions: watermarked tumbling/sliding/session windows whose batch
equivalents live in the inventory (q23/q24), so results are
cross-checkable against the DuckDB oracle on the same data.

Each transformation takes DataFrame → DataFrame and works identically on
a batch frame or a ``readStream`` frame — the Structured Streaming
contract. State size is bounded by the watermark; at 100 TB/day the
shuffle is keyed on (window, group) so partial aggregation happens
map-side before state updates.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

EVENTS_DDL = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)

# TIMESTAMP(NANOS) parquet reads as long under nanosAsLong
EVENTS_NANOS_DDL = (
    "event_id long, ts long, user_id long, event_type string, "
    "value double, props string"
)

# plain timestamp[us] parquet (no UTC adjustment flag) reads as NTZ
EVENTS_NTZ_DDL = (
    "event_id long, ts timestamp_ntz, user_id long, event_type string, "
    "value double, props string"
)

#: footer-probe memo attribute names — caches live AS ATTRIBUTES ON the
#: session object (round-19 ADVICE fix: the previous module-level dicts
#: keyed on id(session) had no liveness guard — after a session is GC'd,
#: CPython id() reuse could serve a stale entry to a new session — and
#: grew unboundedly across paths; a per-session dict dies with its
#: session and is bounded below). The probe is a batch parquet read, so
#: re-probing on every call in a hot loop would be a per-call scan of
#: the source footer. Memoizing assumes the SOURCE SCHEMA is immutable
#: within a session (true of the testdata sources; documented on
#: stream_table).
_TS_TYPE_CACHE_ATTR = "_vinum_stream_ts_type_cache"
_SCHEMA_CACHE_ATTR = "_vinum_stream_schema_cache"
_PROBE_CACHE_MAX = 256


def _session_cache(spark: SparkSession, attr: str) -> dict:
    cache = getattr(spark, attr, None)
    if cache is None:
        cache = {}
        setattr(spark, attr, cache)
    if len(cache) >= _PROBE_CACHE_MAX:  # bound across many paths
        cache.clear()
    return cache


def _probe_ts_type(spark: SparkSession, path: str) -> str:
    """Detect the physical type of ``ts`` from the parquet footer, once
    per (session, path).

    TIMESTAMP(NANOS) sources are only readable under the ``nanosAsLong``
    legacy conf, so the probe runs with it on; if the source turns out
    NOT to be nanos, the prior conf value is restored so the session-wide
    flag isn't left flipped for unrelated reads. An unreadable path (an
    empty or not-yet-populated source directory — normal at streaming
    setup time) falls back to the canonical TIMESTAMP schema instead of
    raising at stream-definition time.
    """
    conf_key = "spark.sql.legacy.parquet.nanosAsLong"
    cache = _session_cache(spark, _TS_TYPE_CACHE_ATTR)
    if path in cache:
        ts_type = cache[path]
        if ts_type == "bigint":
            # a later probe of a non-nanos path may have restored the
            # conf; the nanos stream still needs it
            spark.conf.set(conf_key, "true")
        return ts_type
    from pyspark.errors import AnalysisException

    prior = spark.conf.get(conf_key, None)
    spark.conf.set(conf_key, "true")
    probed = True
    ts_type = "timestamp"
    try:
        schema = spark.read.parquet(path).schema
        if "ts" in schema.fieldNames():
            ts_type = schema["ts"].dataType.simpleString()
        else:
            probed = False  # readable but no ts field: canonical fallback
    except AnalysisException:
        # empty / not-yet-populated dir: fall back WITHOUT caching, so a
        # source populated later (possibly with NANOS files) re-probes
        probed = False
    finally:
        if ts_type != "bigint":
            # not (known to be) a nanos source: don't leave the legacy
            # flag set session-wide
            if prior is None:
                spark.conf.unset(conf_key)
            else:
                spark.conf.set(conf_key, prior)
    if probed:
        cache[path] = ts_type
    return ts_type


def stream_events(
    spark: SparkSession,
    path: str,
    fmt: str = "parquet",
    max_files_per_trigger: Optional[int] = None,
    nanos_ts: bool = False,
) -> DataFrame:
    """``readStream`` over an events directory with the canonical schema.

    For parquet sources the physical type of ``ts`` is auto-detected
    from the source schema (the driver-generated events table has
    shipped both as TIMESTAMP(NANOS) — readable only as long under the
    ``nanosAsLong`` legacy conf, converted ns→us here — and as plain
    ``timestamp[us]``, which reads as TIMESTAMP_NTZ and is cast to the
    session-local TIMESTAMP, an identity under UTC). Streaming requires
    a user-supplied schema, so the batch reader probes the footer once;
    no rewritten copy of the source is ever made. ``nanos_ts`` is kept
    for back-compat and ignored — detection is always automatic.
    """
    del nanos_ts  # auto-detected; parameter kept for API stability
    if fmt == "parquet":
        import os

        single_file = os.path.isfile(path)
        if single_file and any(c in "*?[]{}" for c in path):
            # the globify trick below would corrupt such a path into a
            # pattern matching nothing (a silently-empty stream)
            raise ValueError(
                "single-file streaming requires a path free of "
                f"glob metacharacters; move {path!r} into its own "
                "directory and stream the directory instead"
            )
        ts_type = _probe_ts_type(spark, path)
        ddl = {
            "bigint": EVENTS_NANOS_DDL,
            "timestamp_ntz": EVENTS_NTZ_DDL,
        }.get(ts_type, EVENTS_DDL)
        reader = spark.readStream.format(fmt).schema(ddl)
        if max_files_per_trigger:
            reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
        # FileStreamSource force-overrides basePath to the source path
        # unless the path is a glob — a direct single-file path (the
        # testdata layout) therefore fails 'basePath must be a
        # directory'. Globifying the last character skips the override
        # so the explicit directory basePath is honored; no copy of the
        # source is ever made.
        if single_file:
            reader = reader.option("basePath", os.path.dirname(path))
            path = f"{path[:-1]}[{path[-1]}]"
        out = reader.load(path)
        if ts_type == "bigint":
            out = out.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif ts_type == "timestamp_ntz":
            out = out.withColumn("ts", F.col("ts").cast("timestamp"))
        return out
    reader = spark.readStream.format(fmt).schema(EVENTS_DDL)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.load(path)


def stream_table(
    spark: SparkSession,
    path: str,
    max_files_per_trigger: Optional[int] = None,
) -> DataFrame:
    """Generic parquet ``readStream`` over any testdata table (the
    documents/embeddings analogue of :func:`stream_events`): streaming
    sources require a user-supplied schema, so the batch reader probes
    the footer once, and the single-file layout gets the same
    basePath + globify treatment ``stream_events`` documents (a direct
    single-file path otherwise fails FileStreamSource's basePath
    override). No rewritten copy of the source is ever made.

    The probed schema is memoized per (session, path): this assumes the
    source's SCHEMA is immutable within a session (its FILE SET may
    still grow — streaming batches list and read the source themselves).
    A source whose schema genuinely changes between calls needs a new
    session (or the cache attribute cleared)."""
    import os

    single_file = os.path.isfile(path)
    if single_file and any(c in "*?[]{}" for c in path):
        raise ValueError(
            "single-file streaming requires a path free of glob "
            f"metacharacters; move {path!r} into its own directory "
            "and stream the directory instead"
        )
    # footer-probe once per (session, path): the probe is a batch read
    # whose driver-side file listing + footer parse costs ~90 ms, and
    # the streaming pipeline queries build three streams of the same
    # source per run (metadata memo only — every stream batch still
    # reads the parquet source itself)
    cache = _session_cache(spark, _SCHEMA_CACHE_ATTR)
    schema = cache.get(path)
    if schema is None:
        schema = spark.read.parquet(path).schema
        cache[path] = schema
    reader = spark.readStream.format("parquet").schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    if single_file:
        reader = reader.option("basePath", os.path.dirname(path))
        path = f"{path[:-1]}[{path[-1]}]"
    return reader.load(path)


def tumbling_counts(
    events: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
    ts_col: str = "ts",
) -> DataFrame:
    """Tumbling event-time window: count + sum(value) per (window,
    event_type). Late rows beyond the watermark are dropped and their
    state reclaimed."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("sum_value"))
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "event_type",
            "n",
            "sum_value",
        )
    )


def sliding_aggregate(
    events: DataFrame,
    window: str = "1 hour",
    slide: str = "15 minutes",
    watermark: str = "2 hours",
    ts_col: str = "ts",
) -> DataFrame:
    """Sliding window average value per event_type.

    The average is computed as exact-DECIMAL sum / count: a plain
    double ``avg`` is summation-order-dependent at the last ulp, and
    with the 4x row replication of sliding windows enough groups land
    exactly on a round-half boundary that engines disagree on the
    rounded value (observed at sf0.1: 6 of 8640 rows). An exact decimal
    sum is identical on every engine and partitioning, so one final
    double division + round is deterministic everywhere. Values beyond
    decimal(28,6) (|x| >= 1e22, or more than 6 decimal places) are
    quantized/NULLed by the cast — fine for event metrics; widen the
    decimal for scientific ranges.
    """
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window, slide), "event_type")
        .agg(
            F.sum(F.col("value").cast("decimal(28,6)")).alias("__sum"),
            # avg must divide by NON-NULL values (F.avg's contract; a
            # count(*) denominator would silently deflate groups with
            # NULL values), while n keeps the all-rows count. Count the
            # CAST column, not the raw one: a value beyond decimal(28,6)
            # becomes NULL in __sum, so counting the raw column would
            # deflate avg_value for such groups — numerator and
            # denominator must drop the same rows
            F.count(F.col("value").cast("decimal(28,6)")).alias("__nn"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            "event_type",
            (F.col("__sum").cast("double") / F.col("__nn")).alias("avg_value"),
            "n",
        )
    )


def session_aggregate(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "2 hours",
    ts_col: str = "ts",
) -> DataFrame:
    """Session windows per user (inactivity gap): the streaming-native
    analogue of the batch sessionization in inventory q24."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(ts_col, gap), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("sum_value"))
        .select(
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "user_id",
            "n_events",
            "sum_value",
        )
    )


def _drain(
    q, name: str, idle_timeout: float, single_data_batch: bool = False
) -> None:
    """Bounded drain for an ``availableNow`` query (see
    ``run_stream_to_memory`` for the termination contract).

    ``single_data_batch=True`` is the caller's assertion that batch 0
    holds EVERY row the query will ever emit — a static source read
    without a per-trigger limit (availableNow then plans all files
    into one batch) through operators that emit only in response to
    input (no event-time watermark finalization, no timeout-driven
    emission). The drain then stops at batch 0's commit instead of
    waiting for an EMPTY batch to commit — under ProcessingTimeTimeout
    an empty batch still pays the full per-partition state-store
    machinery (measured ~1.1 s at 8 state partitions), which is pure
    drain latency when nothing can be emitted. (``status.
    isDataAvailable`` is NOT used as the signal: it blips false
    transiently between DATA batches, so it cannot prove exhaustion.)
    A later batch that carries input proves the assertion false and
    raises instead of truncating; ``run_stream_to_memory`` rejects a
    source with a per-trigger limit before the query starts.

    Without the flag the drain stops at the first empty batch AFTER
    this run's first batch. A resumed query's first batch can be the
    replay of the previous run's uncommitted (empty) batch; new input
    lands only in the batches after it.
    """
    import time

    try:
        deadline = time.monotonic() + idle_timeout
        first = None
        while q.isActive:
            lp = q.lastProgress
            if lp is not None:
                if first is None:
                    first = q.recentProgress[0]["batchId"]
                batch, rows = lp["batchId"], lp["numInputRows"]
                if single_data_batch and batch > 0 and rows > 0:
                    raise RuntimeError(
                        f"stream {name!r}: single_data_batch, but batch "
                        f"{batch} carries {rows} input rows — the "
                        f"input did not land in batch 0"
                    )
                if single_data_batch or (batch > first and rows == 0):
                    break  # everything committed
            if time.monotonic() > deadline:
                raise TimeoutError(
                    f"stream {name!r} did not drain within "
                    f"{idle_timeout}s (lastProgress={lp})"
                )
            time.sleep(0.05)
        exc = q.exception()
        if exc is not None:
            raise exc
    finally:
        q.stop()


#: file-source options that split an availableNow input across batches
_PER_TRIGGER_LIMITS = {"maxfilespertrigger", "maxbytespertrigger"}


def _per_trigger_limits(stream_df: DataFrame) -> list:
    """Per-trigger limit options set on ``stream_df``'s file sources."""
    leaves = stream_df._jdf.queryExecution().analyzed().collectLeaves()
    found = []
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        if leaf.nodeName() == "StreamingRelation":
            keys = leaf.dataSource().options().keys().mkString("\n").split("\n")
            found += [k for k in keys if k.lower() in _PER_TRIGGER_LIMITS]
    return found


def run_stream_to_memory(
    stream_df: DataFrame,
    table_name: str,
    mode: str = "complete",
    idle_timeout: float = 600.0,
    state_partitions: Optional[int] = None,
    state_store: Optional[str] = None,
    single_data_batch: bool = False,
) -> None:
    """Drain all available input into an in-memory sink (testing helper).

    ``single_data_batch``: see :func:`_drain` — opt-in early stop at
    batch 0's commit for sources whose entire input lands in one batch
    and operators that emit only on input. A source read with a
    per-trigger limit (``maxFilesPerTrigger`` and the like) splits its
    input across batches and raises ``ValueError``.

    ``state_partitions``: number of shuffle/state-store partitions for
    THIS query (``spark.sql.shuffle.partitions`` is captured at query
    start and pinned for the query's lifetime; AQE never coalesces
    stateful streams). State stores carry per-partition fixed cost —
    checkpoint files, commit round-trips — so size to load: the sf0.1
    gates run 8 (measured 3x wall on the stream-stream join vs the
    batch default 32), a real high-rate deployment raises it. The
    session conf is restored right after ``start()``.

    ``state_store``: state-store provider for THIS query — ``None``
    keeps the session default (Spark's HDFS-backed in-memory map),
    ``"rocksdb"`` selects the bundled ``RocksDBStateStoreProvider``,
    the production knob once stream state outgrows executor heap
    (state lives off-heap in RocksDB with changelog/snapshot files in
    the checkpoint; spills instead of OOMing). Results are
    provider-independent — parity is pinned in
    tests/test_streaming.py and measured at scale in BASELINE.md.

    Termination contract: under ``ProcessingTimeTimeout`` Spark's
    stateful exec reports "should run another batch" unconditionally, so
    an ``availableNow`` trigger never self-terminates — it schedules
    empty microbatches (and commits state files) forever. Neither
    ``awaitTermination()`` nor ``processAllAvailable()`` returns in that
    regime (the microbatch thread never latches ``noNewData`` while it
    keeps constructing timeout batches — observed spinning past batch
    1000 on a 2-file input). The drain that is bounded for EVERY trigger
    and timeout conf is progress polling: ``availableNow`` plans all
    input up front and batches consume it monotonically, so the first
    COMMITTED batch with ``numInputRows == 0`` after the run's first
    batch (batch 0 on a fresh checkpoint) proves all available input
    (and any final watermark-commit emission) is already in the sink —
    stop there. Queries that self-terminate (non-stateful,
    or ``NoTimeout``) exit the poll via ``isActive`` instead.
    """
    if single_data_batch:
        limited = _per_trigger_limits(stream_df)
        if limited:
            raise ValueError(
                f"single_data_batch needs all input in batch 0, but the "
                f"source sets {', '.join(limited)}"
            )
    writer = (
        stream_df.writeStream.format("memory")
        .queryName(table_name)
        .outputMode(mode)
        .trigger(availableNow=True)
    )
    q = _start_with_state_partitions(
        stream_df.sparkSession, writer, state_partitions, state_store
    )
    _drain(q, table_name, idle_timeout, single_data_batch)


#: providerClass values for ``state_store`` (None = session default).
_STATE_STORE_PROVIDERS = {
    "rocksdb": (
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider"
    ),
    "hdfs": (
        "org.apache.spark.sql.execution.streaming.state."
        "HDFSBackedStateStoreProvider"
    ),
}


def _start_with_state_partitions(
    spark, writer, state_partitions, state_store=None
):
    """Start a streaming writer under temporarily-overridden
    per-query state confs (``spark.sql.shuffle.partitions`` and/or
    ``spark.sql.streaming.stateStore.providerClass`` — both are pinned
    by the query at start; the session conf is restored immediately
    after)."""
    overrides = {}
    if state_partitions is not None:
        overrides["spark.sql.shuffle.partitions"] = str(state_partitions)
    if state_store is not None:
        try:
            provider = _STATE_STORE_PROVIDERS[state_store]
        except KeyError:
            raise ValueError(
                f"state_store must be one of "
                f"{sorted(_STATE_STORE_PROVIDERS)} or None, "
                f"got {state_store!r}"
            ) from None
        overrides["spark.sql.streaming.stateStore.providerClass"] = provider
    if not overrides:
        return writer.start()
    saved = {k: spark.conf.get(k, None) for k in overrides}
    for k, v in overrides.items():
        spark.conf.set(k, v)
    try:
        return writer.start()
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def run_stream_to_parquet(
    stream_df: DataFrame,
    path: str,
    checkpoint: str,
    idle_timeout: float = 600.0,
    state_partitions: Optional[int] = None,
    state_store: Optional[str] = None,
) -> None:
    """Drain all available input into a parquet directory sink.

    The production-shaped sink: exactly-once file output via the
    checkpointed file-sink commit log (restarting with the same
    ``checkpoint`` resumes instead of duplicating). Parquet sinks
    support append mode only — use windowed/watermarked transforms
    whose finalized results append. Same bounded-drain,
    ``state_partitions``, and ``state_store`` contract as
    ``run_stream_to_memory``.
    """
    writer = (
        stream_df.writeStream.format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
        .trigger(availableNow=True)
    )
    q = _start_with_state_partitions(
        stream_df.sparkSession, writer, state_partitions, state_store
    )
    _drain(q, path, idle_timeout)
