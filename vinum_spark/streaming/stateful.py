"""Exact streaming deduplication: ``stream_distinct``.

``stream_distinct`` emits only the FIRST occurrence of each key per
group — the streaming twin of ``operators.dedup.dedup_exact``.

Unbounded exact retention (``timeout_ms=0``) is Spark's own streaming
``dropDuplicates``: a JVM state-store operator that keeps one row per
``(group, *keys)`` and starts no Python worker. The default bounded
mode evicts a group's seen-set after a processing-time inactivity
timeout, the knob that keeps state finite at 100 TB/day — a per-group
eviction policy ``dropDuplicates`` cannot express, so that mode runs as
an Arrow-batched ``applyInPandasWithState`` operator whose state per
group is the set of seen key digests (int64).
"""

from __future__ import annotations

from typing import Iterator, List, Sequence, Tuple

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout


def _stable_key_dtypes(schema, cols: Sequence[str]) -> dict:
    """pandas dtype per key column whose Arrow-to-pandas form depends on
    NULLs elsewhere in the chunk: a long column holding a NULL arrives
    as float64 and a boolean one as object, and both hash differently
    from the NULL-free int64/bool form — so a key seen next to a NULL
    in one batch would not match itself in the next. The nullable
    dtypes hash a non-NULL value exactly as int64/bool do."""
    from pyspark.sql.types import BooleanType, IntegralType

    out = {}
    for f in schema.fields:
        if f.name in cols and isinstance(f.dataType, IntegralType):
            out[f.name] = "Int64"
        elif f.name in cols and isinstance(f.dataType, BooleanType):
            out[f.name] = "boolean"
    return out


def _hadoop_path_exists(spark, path: str) -> bool:
    """Scheme-aware existence probe through the JVM Hadoop FileSystem —
    the store path may be s3a://, hdfs://, or local; the filesystem
    that will serve the read answers the probe."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return bool(fs.exists(jpath))


#: default processing-time eviction (1 h). State is bounded BY DEFAULT:
#: at 100 TB/day an unbounded seen-set is a slow OOM, so unbounded
#: retention is the explicit opt-in (``timeout_ms=0``), not the default.
DEFAULT_TIMEOUT_MS = 3_600_000


def stream_distinct(
    df: DataFrame,
    group_col: str = "user_id",
    key_cols: Sequence[str] = ("event_id",),
    timeout_ms: int = DEFAULT_TIMEOUT_MS,
    group_buckets: "int | None" = None,
) -> DataFrame:
    """First-occurrence-only stream, deduped within and across batches.

    Output schema == input schema. ``timeout_ms > 0`` (the default:
    1 hour) evicts a group's seen-set after that much processing-time
    inactivity — memory stays bounded at the cost of re-admitting a
    duplicate that arrives after its group went quiet for the timeout.

    ``timeout_ms=0`` opts in to unbounded exact retention and plans as
    Spark's streaming ``dropDuplicates([group_col, *key_cols])``
    (``StreamingDeduplicateExec``): JVM-only, each batch writes only its
    new keys to the state store, and keys compare exactly (no digest
    collisions; NULLs compare equal, as in the digest path). Inside one
    batch the survivor is the first row the state task sees. State
    holds one row per distinct key and never shrinks, so a large
    deployment should run it on the RocksDB state store
    (``run_stream_to_parquet(..., state_store="rocksdb")``), which keeps
    state off-heap. A checkpoint written with ``timeout_ms > 0`` cannot
    be resumed with ``timeout_ms=0`` (or back): Spark refuses the
    mismatched state operator at restart.

    ``group_buckets``: state-sharding knob for ``timeout_ms > 0``
    (validated, otherwise unused at ``timeout_ms=0``, which has no
    per-group Python protocol to amortize).
    ``applyInPandasWithState`` pays a fixed protocol cost PER GROUP per
    batch — a pandas slice, an Arrow state round-trip, a ``state.get``/
    ``update`` py4j exchange — so a corpus with many small groups (the
    events table has ~1 500 users at sf0.1) spends its wall on group
    machinery, not dedup (measured: ~24 s of summed per-partition
    update time for 400 k rows across 1 500 groups). An int here
    re-keys the state operator on ``pmod(xxhash64(group), n)`` so the
    protocol is paid once per BUCKET while first-occurrence semantics
    stay per ``(group, key)`` (the dedup digest covers both) and the
    inactivity timeout stays per GROUP (per-group last-seen clocks
    inside the bucket state; a bucket whose groups all expire is
    dropped whole by the bucket-level timeout). Size it like a shuffle
    partition count for state: a few × the query's state partitions —
    it bounds protocol calls per batch, not data volume, so it does
    not grow with corpus size. ``None`` keeps the one-group-per-key
    layout (state keyed directly on the group value).

    Eviction fidelity note for ``group_buckets``: a group's seen-set is
    pruned when a batch (or the bucket's timeout) observes its
    inactivity exceeded ``timeout_ms`` — the same trigger-granularity
    observable behavior as the per-group timeout, whose firing is also
    only visible when a later duplicate is re-admitted. Per-group
    clocks read the batch's processing time
    (``GroupState.getCurrentProcessingTimeMs``), the clock the
    bucket-level timeout runs on, so executor clock skew cannot move
    an eviction.

    Restart constraint (``timeout_ms > 0`` only): seen-key digests come
    from ``pd.util.hash_pandas_object`` (vectorized; stable across
    runs, processes, and machines FOR A GIVEN pandas version, but not a
    documented cross-version contract). Digests persist in the state
    store, so a checkpointed query restarted under a DIFFERENT pandas
    version could miss previously-seen keys (silently re-admitting
    duplicates) — pin the pandas version for the life of a checkpoint,
    or start a fresh checkpoint on upgrade. (The in-repo consumers use
    a fresh per-run checkpoint, where the constraint is vacuous.)
    """
    if timeout_ms < 0:
        raise ValueError(f"timeout_ms must be >= 0, got {timeout_ms}")
    if group_buckets is not None and group_buckets < 1:
        raise ValueError(f"group_buckets must be >= 1, got {group_buckets}")
    if timeout_ms == 0:
        return df.dropDuplicates([group_col, *key_cols])
    if group_buckets is not None:
        return _stream_distinct_bucketed(
            df, group_col, list(key_cols), timeout_ms, group_buckets
        )
    schema = df.schema
    out_cols = [f.name for f in schema.fields]
    key_list: List[str] = list(key_cols)
    key_dtypes = _stable_key_dtypes(schema, key_list)

    def dedup_group(
        key: Tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        import numpy as np

        if state.hasTimedOut:
            # eviction: drop the group's seen-set; a later duplicate of a
            # pre-eviction row would be re-admitted (documented trade-off)
            state.remove()
            return
        # Vectorized digests (round 19, guide §4.2): the previous
        # per-row Python loop (str() + sha1 per row) dominated the
        # batch — allUpdatesTimeMs 23.7 s summed over 8 partitions for
        # 200k rows at sf0.1. hash_pandas_object hashes the whole key
        # frame in C; membership against the seen-set is one np.isin.
        # Digest VALUES never leave the query (state is per-run), so
        # the hash family is an implementation detail; first-occurrence
        # semantics are unchanged (pinned by tests + the q53 oracle).
        seen = (
            np.asarray(state.get[0], dtype="int64")
            if state.exists
            else np.empty(0, dtype="int64")
        )
        for pdf in pdfs:
            dig = (
                pd.util.hash_pandas_object(
                    pdf[key_list].astype(key_dtypes), index=False
                )
                .to_numpy()
                .view("int64")
            )
            fresh_mask = ~pd.Series(dig).duplicated().to_numpy() & ~np.isin(
                dig, seen
            )
            out = pdf[fresh_mask]
            if len(out):
                yield out[out_cols]
            seen = np.union1d(seen, dig)
        state.update((seen.tolist(),))
        state.setTimeoutDuration(timeout_ms)

    return df.groupBy(group_col).applyInPandasWithState(
        dedup_group,
        outputStructType=schema,
        stateStructType="seen array<long>",
        outputMode="append",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
    )


def _stream_distinct_bucketed(
    df: DataFrame,
    group_col: str,
    key_list: List[str],
    timeout_ms: int,
    group_buckets: int,
) -> DataFrame:
    """``stream_distinct`` with state keyed on a hash bucket of the
    group (see the ``group_buckets`` docs on :func:`stream_distinct`).

    State per bucket: ``(groups, last_seen, digs, dig_group)`` —
    per-member-group inactivity clocks plus the seen-digest set, each
    digest tagged with its owner group's hash so a group's eviction
    removes exactly its digests. Dedup digests hash ``(group, *keys)``
    together, so two groups sharing a key value stay distinct rows
    exactly as in the per-group layout (64-bit collision odds move
    from per-group-set to per-bucket-set scale — both negligible and
    of the same class).
    """
    from pyspark.sql import functions as F

    schema = df.schema
    out_cols = [f.name for f in schema.fields]
    dig_cols = [group_col] + key_list
    dig_dtypes = _stable_key_dtypes(schema, dig_cols)
    group_dtype = _stable_key_dtypes(schema, [group_col])

    def dedup_bucket(
        key: Tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        import numpy as np

        # the batch's processing-time clock, the one the timeout runs on;
        # an executor wall clock could skew between batches
        now_ms = int(state.getCurrentProcessingTimeMs())
        if state.hasTimedOut:
            # the bucket-level timeout fires only after the WHOLE bucket
            # was quiet for timeout_ms, so every member group's own
            # inactivity exceeds the timeout too: drop the bucket
            state.remove()
            return
        if state.exists:
            groups, last_seen, digs, dig_group = (
                np.asarray(a, dtype="int64") for a in state.get
            )
            # per-group eviction: prune member groups whose
            # inactivity exceeded the timeout, and their digests
            live = last_seen >= now_ms - timeout_ms
            if not live.all():
                dead = groups[~live]
                groups, last_seen = groups[live], last_seen[live]
                keep = ~np.isin(dig_group, dead)
                digs, dig_group = digs[keep], dig_group[keep]
        else:
            empty = np.empty(0, dtype="int64")
            groups, last_seen, digs, dig_group = (
                empty, empty, empty, empty
            )
        for pdf in pdfs:
            gh = (
                pd.util.hash_pandas_object(
                    pdf[[group_col]].astype(group_dtype), index=False
                )
                .to_numpy()
                .view("int64")
            )
            dig = (
                pd.util.hash_pandas_object(
                    pdf[dig_cols].astype(dig_dtypes), index=False
                )
                .to_numpy()
                .view("int64")
            )
            fresh = ~pd.Series(dig).duplicated().to_numpy() & ~np.isin(
                dig, digs
            )
            out = pdf[fresh]
            if len(out):
                yield out[out_cols]
            digs = np.concatenate([digs, dig[fresh]])
            dig_group = np.concatenate([dig_group, gh[fresh]])
            # ANY data (duplicates included) resets a present group's
            # inactivity clock — matching setTimeoutDuration on every
            # per-group invocation in the unbucketed layout
            present = np.unique(gh)
            new = present[~np.isin(present, groups)]
            groups = np.concatenate([groups, new])
            last_seen = np.concatenate(
                [last_seen, np.full(len(new), now_ms, dtype="int64")]
            )
            last_seen[np.isin(groups, present)] = now_ms
        state.update(
            (
                groups.tolist(),
                last_seen.tolist(),
                digs.tolist(),
                dig_group.tolist(),
            )
        )
        state.setTimeoutDuration(timeout_ms)

    bucket = F.pmod(F.xxhash64(F.col(group_col)), F.lit(group_buckets))
    return (
        df.withColumn("__bucket", bucket)
        .groupBy("__bucket")
        .applyInPandasWithState(
            dedup_bucket,
            outputStructType=schema,
            stateStructType=(
                "groups array<long>, last_seen array<long>, "
                "digs array<long>, dig_group array<long>"
            ),
            outputMode="append",
            timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
        )
    )


def run_stream_dedup_against_store(
    stream_df: DataFrame,
    store_path: str,
    out_path: str,
    checkpoint: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    idle_timeout: float = 600.0,
    state_partitions: "int | None" = None,
    store_buckets: "int | None" = None,
    compact_at_files: int = 512,
) -> None:
    """Continuous ingestion against a PERSISTENT fingerprint store —
    the third point in the streaming-dedup design space: state lives
    in shared STORAGE (16-byte digests on disk), not in executor
    memory (``stream_distinct``) or the state store
    (``dropDuplicatesWithinWatermark``), so it survives restarts,
    is shared across pipelines, and never needs a watermark/timeout
    eviction policy — ~2 TB per trillion documents, the
    ``dedup_against_store`` contract, now fed by a stream.

    ``foreachBatch`` is the carrier: each micro-batch runs the EXACT
    batch operator against the store-so-far (batch↔stream semantics
    shared by construction), appends the survivors to ``out_path``
    and their fingerprints to the store — so later batches (and
    later pipelines) see every earlier acceptance.

    ``store_buckets`` picks the store layout, and the pick is the
    whole scale story. ``None`` keeps a plain parquet directory at
    ``store_path``: simplest, but the store side of each batch's
    anti-join re-shuffles IN FULL every micro-batch (O(store) per
    batch) and file count grows without bound. An int keeps the store
    in the base+delta BUCKETED layout (io/bucketing
    ``ensure_fingerprint_store``: versioned immutable base, delta
    staging dir, catalog re-registration across restarts): the batch
    anti-joins the base — whose exchange AND per-batch sort are both
    elided (the base is one fingerprint-sorted file per bucket, so the
    merge join reads it in order; plan-pinned in tests/test_plans.py)
    — then the delta, whose join is O(delta). Each micro-batch
    shuffles ONLY ITSELF plus the bounded delta; appends land as a
    constant few files in the delta dir, and whenever the delta
    data-file count reaches ``compact_at_files`` the store is
    compacted back to one file per bucket
    (``compact_fingerprint_store``: crash-safe versioned rewrite,
    never a window without a complete store; the superseded version
    stays as a grace copy for concurrent READER sessions; appends
    racing a compaction stay in delta for the next cycle — never
    lost). Size ``store_buckets`` by total fingerprint volume
    (~256 MB per bucket file after compaction). The bucket count is
    persisted with the store and validated on every open; an existing
    plain-parquet directory at ``store_path`` is refused with a
    migration recipe — both would otherwise re-admit seen
    fingerprints silently.

    Failure semantics, stated honestly: ``foreachBatch`` is
    at-least-once. A batch REPLAYED after a crash re-runs the
    anti-join against a store that already holds its fingerprints, so
    the replay admits zero new fingerprints — the store append makes
    retries idempotent for dedup state — but the survivor rows
    appended to ``out_path`` before the crash may appear twice. A
    production sink dedups on (fingerprint) downstream or uses a
    transactional table format; the drain here is single-process
    ``availableNow``, where no replay occurs.
    """
    from vinum_spark.io.bucketing import (
        append_fingerprints,
        compact_fingerprint_store,
        ensure_fingerprint_store,
        store_delta_file_count,
        store_delta_frame,
        store_table_version,
    )
    from vinum_spark.operators.dedup import dedup_against_store
    from vinum_spark.streaming.windows import (
        _drain,
        _start_with_state_partitions,
    )

    spark = stream_df.sparkSession
    if store_buckets is not None:
        # registers (or creates empty) BEFORE the stream starts, so
        # every batch — including a replayed first batch — reads
        # through the catalog table; pre-seeded PLAIN-parquet stores
        # are a layout mismatch, rejected by the versioned discovery
        store_table = ensure_fingerprint_store(
            spark, store_path, store_buckets
        )

    def process(batch_df: DataFrame, batch_id: int) -> None:
        extra = []
        if store_buckets is not None:
            # base: exchange- and sort-elided; delta: O(delta) side
            # join. base_version pins the delta read to the version
            # THIS table scans, so delta files already merged into
            # that base (grace files) are excluded — without it every
            # post-compaction cycle joined the merged fingerprints
            # twice (base AND delta) until the next compaction deleted
            # them, doubling the delta-side input for one cycle.
            store = spark.table(store_table).select("fingerprint")
            delta = store_delta_frame(
                spark,
                store_path,
                base_version=store_table_version(spark, store_table),
            )
            if delta is not None:
                extra.append(delta)
        elif _hadoop_path_exists(spark, store_path):
            # ONLY a missing store means "first batch": probe existence
            # directly through the Hadoop FileSystem (scheme-aware, no
            # dependence on AnalysisException message text, which
            # drifts across Spark versions/locales) — any READ failure
            # after a positive probe (permissions, corruption, listing
            # blips) fails the batch, because an empty-store fallback
            # would silently admit every already-seen fingerprint
            store = spark.read.parquet(store_path).select("fingerprint")
        else:
            store = spark.createDataFrame([], "fingerprint string")
        out = dedup_against_store(
            batch_df, store, text_col=text_col, id_col=id_col,
            extra_stores=extra,
        )
        out = out.persist()
        try:
            out.write.mode("append").parquet(out_path)
            if store_buckets is not None:
                append_fingerprints(out, store_path, store_buckets)
                if (
                    store_delta_file_count(spark, store_path)
                    >= compact_at_files
                ):
                    compact_fingerprint_store(
                        spark, store_path, store_buckets
                    )
            else:
                out.select("fingerprint").write.mode("append").parquet(
                    store_path
                )
        finally:
            out.unpersist()

    writer = (
        stream_df.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
    )
    q = _start_with_state_partitions(spark, writer, state_partitions)
    _drain(q, "dedup_against_store", idle_timeout)


def stream_dedup_within_watermark(
    df: DataFrame,
    key_cols: Sequence[str] = ("event_id",),
    ts_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Built-in-first streaming dedup: Spark's
    ``dropDuplicatesWithinWatermark`` over the key columns.

    The eviction policy differs from :func:`stream_distinct`:
    state is dropped by EVENT-time watermark (a duplicate arriving
    within the watermark of the first occurrence is always removed;
    one arriving later may be re-admitted), vs ``stream_distinct``'s
    per-group PROCESSING-time inactivity timeout and custom key
    digesting. Prefer this one whenever the event-time guarantee is
    what the pipeline needs — it runs fully JVM-side (no Python state
    worker) with partial state cleanup handled by the engine.
    """
    return df.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        list(key_cols)
    )
