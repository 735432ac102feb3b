"""stream_distinct: duplicates injected across separate input files must
come out exactly once."""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

from vinum_spark.streaming import stream_events
from vinum_spark.streaming.stateful import stream_distinct
from vinum_spark.streaming.windows import run_stream_to_memory


@pytest.fixture(scope="module")
def dup_events_dir(spark, tmp_path_factory):
    from vinum_spark.inventory import _t

    out = str(tmp_path_factory.mktemp("dup_events"))
    base = _t(spark, "/root/testdata/sf0.001", "events").limit(500)
    # same 500 events written twice: exact duplicates in separate files
    base.coalesce(1).write.mode("overwrite").parquet(out)
    base.coalesce(1).write.mode("append").parquet(out)
    yield out
    shutil.rmtree(out, ignore_errors=True)


def test_stream_distinct_dedups_across_files(spark, dup_events_dir):
    stream = stream_events(spark, dup_events_dir, max_files_per_trigger=1)
    deduped = stream_distinct(stream, group_col="user_id", key_cols=["event_id"])
    run_stream_to_memory(deduped, "distinct_out", mode="append")
    got = spark.table("distinct_out").toPandas()
    assert len(got) == 500  # 1000 input rows, 500 unique event_ids
    assert got["event_id"].is_unique
    # raw input really contains duplicates
    raw = spark.read.parquet(dup_events_dir)
    assert raw.count() == 1000


def test_stream_distinct_state_bounded_by_default():
    """Unbounded state must be the explicit opt-in, never the default
    (at 100 TB/day an ever-growing seen-set is a slow OOM)."""
    import inspect

    from vinum_spark.streaming.stateful import DEFAULT_TIMEOUT_MS

    default = inspect.signature(stream_distinct).parameters["timeout_ms"].default
    assert default == DEFAULT_TIMEOUT_MS > 0


def test_stream_distinct_unbounded_opt_in(spark, dup_events_dir):
    """timeout_ms=0 (explicit) keeps exact retention across batches,
    through Spark's native streaming dropDuplicates."""
    stream = stream_events(spark, dup_events_dir, max_files_per_trigger=1)
    deduped = stream_distinct(
        stream, group_col="user_id", key_cols=["event_id"], timeout_ms=0
    )
    run_stream_to_memory(deduped, "distinct_unbounded_out", mode="append")
    got = spark.table("distinct_unbounded_out").toPandas()
    assert len(got) == 500
    assert got["event_id"].is_unique


def test_stream_distinct_bucketed_matches_per_group(spark, dup_events_dir):
    """group_buckets re-keys STATE only: across multi-batch input (one
    file per trigger, duplicates split across batches — so the
    bucketed state round-trips through the store between batches) the
    emitted row set must equal the per-group layout's exactly."""
    outs = {}
    for label, kw in (("per_group", {}), ("bucketed", {"group_buckets": 16})):
        stream = stream_events(spark, dup_events_dir, max_files_per_trigger=1)
        deduped = stream_distinct(
            stream, group_col="user_id", key_cols=["event_id"], **kw
        )
        run_stream_to_memory(deduped, f"bkt_{label}", mode="append")
        pdf = spark.table(f"bkt_{label}").toPandas()
        cols = sorted(pdf.columns)
        outs[label] = pdf[cols].sort_values(cols).reset_index(drop=True)
    assert len(outs["bucketed"]) == 500
    assert outs["bucketed"].equals(outs["per_group"])


def test_stream_distinct_bucketed_validates_buckets(spark, dup_events_dir):
    stream = stream_events(spark, dup_events_dir)
    for timeout_ms in (0, 60_000):  # validated on the native path too
        with pytest.raises(ValueError, match="group_buckets"):
            stream_distinct(stream, timeout_ms=timeout_ms, group_buckets=0)
    with pytest.raises(ValueError, match="timeout_ms"):
        stream_distinct(stream, timeout_ms=-1)


@pytest.fixture(scope="module")
def null_dup_events_dir(spark, dup_events_dir, tmp_path_factory):
    """dup_events_dir's 500 events written as two files, with NULL-key
    rows: two keys with a NULL user_id in both files, and one key
    (user 7, NULL event_id) held by two rows of the first file only —
    so event_id carries a NULL in the first batch and none in the
    second."""
    out = str(tmp_path_factory.mktemp("null_dup_events"))
    base = spark.read.parquet(dup_events_dir).distinct().cache()
    head = base.orderBy("event_id").limit(2)
    null_user = head.withColumn("user_id", F.lit(None).cast("bigint"))
    null_event = head.withColumn("event_id", F.lit(None).cast("bigint"))
    null_event = null_event.withColumn("user_id", F.lit(7).cast("bigint"))
    first = base.unionByName(null_user).unionByName(null_event)
    first.coalesce(1).write.mode("overwrite").parquet(out)
    base.unionByName(null_user).coalesce(1).write.mode("append").parquet(out)
    base.unpersist()
    yield out
    shutil.rmtree(out, ignore_errors=True)


def test_stream_distinct_native_matches_python_path(spark, null_dup_events_dir):
    """timeout_ms=0 (dropDuplicates) and the default-timeout Python
    path, per-group and bucketed, emit the same (user_id, event_id)
    set over multi-batch input — the first occurrence per key, NULLs
    comparing equal, and a key next to a NULL in one batch matching
    itself in a NULL-free batch."""
    want = {
        tuple(r)
        for r in spark.read.parquet(null_dup_events_dir)
        .select("user_id", "event_id")
        .distinct()
        .collect()
    }
    assert (None, None) not in want and len(want) == 500 + 2 + 1
    for label, kw in (
        ("native", {"timeout_ms": 0}),
        ("per_group", {}),
        ("bucketed", {"group_buckets": 16}),
    ):
        stream = stream_events(
            spark, null_dup_events_dir, max_files_per_trigger=1
        )
        deduped = stream_distinct(
            stream, group_col="user_id", key_cols=["event_id"], **kw
        )
        run_stream_to_memory(deduped, f"parity_{label}", mode="append")
        got = [
            tuple(r)
            for r in spark.table(f"parity_{label}")
            .select("user_id", "event_id")
            .collect()
        ]
        assert len(got) == len(want), label
        assert set(got) == want, label


def test_stream_distinct_checkpoint_layout_mismatch_raises(
    spark, dup_events_dir, tmp_path
):
    """A checkpoint written by the Python path (default timeout) cannot
    be resumed as the native dedup: Spark refuses the mismatched state
    operator instead of silently re-admitting seen keys."""
    from pyspark.errors import StreamingQueryException

    from vinum_spark.streaming.windows import run_stream_to_parquet

    src, ckpt, out = (str(tmp_path / d) for d in ("src", "ckpt", "out"))
    rows = spark.read.parquet(dup_events_dir).limit(20)
    rows.coalesce(1).write.parquet(src)
    run_stream_to_parquet(stream_distinct(stream_events(spark, src)), out, ckpt)
    # the resumed query plans a batch (and checks its state) only when
    # new input arrived
    rows.coalesce(1).write.mode("append").parquet(src)
    with pytest.raises(
        StreamingQueryException,
        match="STREAMING_STATEFUL_OPERATOR_NOT_MATCH_IN_STATE_METADATA",
    ):
        run_stream_to_parquet(
            stream_distinct(stream_events(spark, src), timeout_ms=0), out, ckpt
        )


def test_single_data_batch_drain_emits_everything(spark, dup_events_dir):
    """single_data_batch stops the drain at batch 0's commit; with no
    maxFilesPerTrigger the availableNow plan puts every file in batch
    0, so the sink must still hold the complete deduped output."""
    stream = stream_events(spark, dup_events_dir)  # no files/trigger cap
    deduped = stream_distinct(
        stream, group_col="user_id", key_cols=["event_id"], group_buckets=8
    )
    run_stream_to_memory(
        deduped, "sdb_out", mode="append", single_data_batch=True
    )
    got = spark.table("sdb_out").toPandas()
    assert len(got) == 500
    assert got["event_id"].is_unique


def test_single_data_batch_rejects_split_input(spark, dup_events_dir):
    """An input split across batches (two files, one per trigger) cannot
    honour single_data_batch: the drain must raise instead of stopping
    at batch 0 with only the first file's rows in the sink."""
    stream = stream_events(spark, dup_events_dir, max_files_per_trigger=1)
    with pytest.raises(ValueError, match="maxFilesPerTrigger"):
        run_stream_to_memory(
            stream, "sdb_split_out", mode="append", single_data_batch=True
        )


def test_drain_raises_on_input_after_batch_zero():
    """The progress guard behind single_data_batch: a batch after 0
    that carries input raises; batch 0, or an empty later batch, stops
    the drain."""
    from vinum_spark.streaming.windows import _drain

    class Query:
        def __init__(self, progress):
            self.lastProgress, self.isActive, self.stopped = progress, True, False
            self.recentProgress = [progress]

        def exception(self):
            return None

        def stop(self):
            self.stopped = True

    q = Query({"batchId": 1, "numInputRows": 500})
    with pytest.raises(RuntimeError, match="batch 1 carries 500 input rows"):
        _drain(q, "split", 5.0, single_data_batch=True)
    assert q.stopped
    for progress in ({"batchId": 0, "numInputRows": 500},
                     {"batchId": 2, "numInputRows": 0}):
        q = Query(progress)
        _drain(q, "ok", 5.0, single_data_batch=True)
        assert q.stopped


def test_drain_stops_after_this_runs_first_batch():
    """A resumed drain's first batch can replay the previous run's
    empty batch (batch 2 here), with the new input only in batch 3: the
    drain must not stop before the empty batch after it. A fresh run
    still stops at its first empty batch after batch 0."""
    from vinum_spark.streaming.windows import _drain

    class Query:
        """Progress advances one batch per poll of ``lastProgress``."""

        def __init__(self, batches):
            self.batches, self.seen, self.stopped_at = batches, 0, None
            self.isActive = True

        @property
        def lastProgress(self):
            self.seen = min(self.seen + 1, len(self.batches))
            return self.recentProgress[-1]

        @property
        def recentProgress(self):
            return [
                {"batchId": b, "numInputRows": n}
                for b, n in self.batches[: self.seen]
            ]

        def exception(self):
            return None

        def stop(self):
            self.stopped_at = self.recentProgress[-1]["batchId"]

    for batches, stop in (([(2, 0), (3, 2), (4, 0)], 4), ([(0, 3), (1, 0)], 1)):
        q = Query(batches)
        _drain(q, "resumed", 2.0)
        assert q.stopped_at == stop


def test_dedup_within_watermark_stream_matches_batch(spark, dup_events_dir):
    """Built-in dropDuplicatesWithinWatermark twin: the doubled source
    deduped on event_id must reproduce the single-copy counts (the
    duplicates land within the watermark of their first occurrence)."""
    from vinum_spark.streaming.stateful import stream_dedup_within_watermark

    stream = stream_events(spark, dup_events_dir)
    deduped = stream_dedup_within_watermark(
        stream, key_cols=["event_id"], watermark="1 hour"
    )
    assert deduped.isStreaming
    run_stream_to_memory(deduped, "ddww_out", mode="append")
    got = spark.table("ddww_out")
    n_unique = (
        spark.read.parquet(dup_events_dir).select("event_id").distinct().count()
    )
    assert got.count() == n_unique == 500
    assert got.select("event_id").distinct().count() == n_unique


def test_stream_dedup_against_store_batches_see_earlier_acceptances(spark, tmp_path):
    """The store append is what links micro-batches: with one file per
    trigger, a text accepted in batch k must be rejected in batch k+1
    even though no in-memory state exists — and pre-seeded
    fingerprints are rejected from batch 0."""
    from pyspark.sql import functions as F

    from vinum_spark.operators.text import with_fingerprint
    from vinum_spark.streaming.stateful import run_stream_dedup_against_store
    from vinum_spark.streaming.windows import stream_table

    src = str(tmp_path / "src")
    docs = spark.createDataFrame(
        [(i, f"text number {i % 5}") for i in range(20)],
        "doc_id long, text string",
    )  # 5 distinct texts, repeated across the id range
    docs.repartitionByRange(4, "doc_id").write.parquet(src)
    seed = with_fingerprint(
        docs.filter("doc_id % 5 = 0"), "text"  # seeds text 0
    ).select("fingerprint").distinct()
    store, out, ckpt = (
        str(tmp_path / "store"),
        str(tmp_path / "out"),
        str(tmp_path / "ckpt"),
    )
    seed.write.parquet(store)
    stream = stream_table(spark, src, max_files_per_trigger=1)
    run_stream_dedup_against_store(
        stream, store, out, ckpt, state_partitions=2
    )
    got = sorted(
        r["fingerprint"]
        for r in spark.read.parquet(out).select("fingerprint").collect()
    )
    want = sorted(
        r["fingerprint"]
        for r in with_fingerprint(
            docs.filter("doc_id % 5 != 0"), "text"
        ).select("fingerprint").distinct().collect()
    )
    # exactly one survivor per non-seeded distinct text, across 4
    # micro-batches with no in-memory state
    assert got == want and len(got) == 4
    n_store = spark.read.parquet(store).distinct().count()
    assert n_store == 5


# ---------------------------------------------------------------------------
# Bucketed persistent fingerprint store (io/bucketing)
# ---------------------------------------------------------------------------


def test_fingerprint_store_lifecycle(spark, tmp_path):
    """ensure -> append -> compact -> restart-reopen: the base+delta
    bucketed store keeps the fingerprint SET intact through every
    transition, appends land in the delta (the base version stays
    immutable at one sorted file per bucket), compaction merges
    base ∪ delta into the next version, empties the delta, and deletes
    the old version after its grace cycle."""
    import glob as _glob
    import os

    from pyspark.sql import functions as F

    from vinum_spark.io.bucketing import (
        append_fingerprints,
        compact_fingerprint_store,
        current_store_version,
        ensure_fingerprint_store,
        read_store_fingerprints,
        store_delta_file_count,
        store_table_name,
    )

    root = str(tmp_path / "store")
    tbl = ensure_fingerprint_store(spark, root, buckets=4)
    assert current_store_version(spark, root) == 0
    assert spark.table(tbl).count() == 0

    def fps(a, b):
        return spark.range(a, b).select(
            F.md5(F.col("id").cast("string")).alias("fingerprint")
        )

    def full_set():
        return sorted(
            r["fingerprint"]
            for r in read_store_fingerprints(spark, root, 4).collect()
        )

    assert store_delta_file_count(spark, root) == 0
    append_fingerprints(fps(0, 100), root, buckets=4)
    n1 = store_delta_file_count(spark, root)
    assert 1 <= n1 <= 4  # round-robin: at most _DELTA_FILES_PER_APPEND
    append_fingerprints(fps(100, 150), root, buckets=4)
    assert n1 < store_delta_file_count(spark, root) <= n1 + 4
    want = sorted(r["fingerprint"] for r in fps(0, 150).collect())
    # the TABLE is only the base (still empty); membership is base∪delta
    assert spark.table(tbl).count() == 0
    assert full_set() == want

    compact_fingerprint_store(spark, root, buckets=4)
    assert current_store_version(spark, root) == 1
    assert store_delta_file_count(spark, root) == 0  # merged into base
    # base: exactly one file per bucket — the sort-elision invariant
    assert len(_glob.glob(f"{root}/v1/part-*")) == 4
    assert sorted(r["fingerprint"] for r in spark.table(tbl).collect()) == want

    # v0 is KEPT as the grace version for concurrent readers; the NEXT
    # compaction deletes it (and only then)
    assert os.path.exists(f"{root}/v0")
    compact_fingerprint_store(spark, root, buckets=4)
    assert current_store_version(spark, root) == 2
    assert not os.path.exists(f"{root}/v0")
    assert os.path.exists(f"{root}/v1")  # the new grace version

    # restart: catalog gone (new session in production; dropped here),
    # re-ensure must re-register over the current version
    spark.sql(f"DROP TABLE {store_table_name(root)}")
    tbl2 = ensure_fingerprint_store(spark, root, buckets=4)
    assert sorted(r["fingerprint"] for r in spark.table(tbl2).collect()) == want

    # bucket-count drift is refused (the count IS the file layout)
    import pytest

    with pytest.raises(ValueError, match="buckets=4"):
        ensure_fingerprint_store(spark, root, buckets=8)

    # a plain parquet directory is refused with the migration recipe
    plain = str(tmp_path / "plain")
    spark.range(5).selectExpr("md5(string(id)) AS fingerprint").write.parquet(
        plain
    )
    with pytest.raises(ValueError, match="PLAIN parquet"):
        ensure_fingerprint_store(spark, plain, buckets=4)


def test_fingerprint_store_append_racing_compaction_not_lost(
    spark, tmp_path
):
    """The multi-writer append race, closed mechanically: the compactor
    merges (and deletes) only the delta files it LISTED at start, so an
    append landing mid-compaction stays in the delta and the membership
    set never loses it. Simulated deterministically by appending
    between the compactor's snapshot and its delta delete — the
    worst-case interleaving — via a pre-written delta file the snapshot
    sees and a fresh append it cannot."""
    from pyspark.sql import functions as F

    from vinum_spark.io.bucketing import (
        append_fingerprints,
        compact_fingerprint_store,
        current_store_version,
        ensure_fingerprint_store,
        read_store_fingerprints,
        store_delta_file_count,
    )

    def fps(a, b):
        return spark.range(a, b).select(
            F.md5(F.col("id").cast("string")).alias("fingerprint")
        )

    root = str(tmp_path / "store")
    ensure_fingerprint_store(spark, root, buckets=2)
    append_fingerprints(fps(0, 50), root, buckets=2)

    # interleave: snapshot the compactor's merge input, then land a
    # racing append BEFORE the compaction runs — the snapshot-based
    # merge must neither include it in the rewrite nor delete it
    import vinum_spark.io.bucketing as B

    orig = B._delta_files
    raced = {"done": False}

    def snapshot_then_race(spark_, path_):
        files = orig(spark_, path_)
        if not raced["done"]:
            raced["done"] = True
            append_fingerprints(fps(50, 80), root, buckets=2)
            return files  # the pre-race snapshot: racing files unseen
        return files

    B._delta_files = snapshot_then_race
    try:
        compact_fingerprint_store(spark, root, buckets=2)
    finally:
        B._delta_files = orig
    assert raced["done"]
    assert current_store_version(spark, root) == 1
    # the racing append survived in the delta...
    assert store_delta_file_count(spark, root) > 0
    # ...and the membership set holds EVERY fingerprint from both
    want = sorted(r["fingerprint"] for r in fps(0, 80).collect())
    got = sorted(
        r["fingerprint"]
        for r in read_store_fingerprints(spark, root, 2).collect()
    )
    assert got == want
    # the next (quiet) compaction folds the racing delta into the base
    compact_fingerprint_store(spark, root, buckets=2)
    assert store_delta_file_count(spark, root) == 0
    got2 = sorted(
        r["fingerprint"]
        for r in read_store_fingerprints(spark, root, 2).collect()
    )
    assert got2 == want


def test_delta_files_get_a_grace_cycle(spark, tmp_path):
    """A compaction must NOT delete the delta files it just merged —
    a concurrent reader's in-flight delta scan (file paths listed
    before the compaction) would race the delete (FileNotFound, or
    silent fingerprint loss under ignoreMissingFiles). The snapshot is
    recorded in the new version's manifest and deleted one full cycle
    later, exactly the grace the superseded base gets; the trigger
    count discounts the lingering (already-merged) files."""
    from pyspark.sql import functions as F

    from vinum_spark.io.bucketing import (
        _delta_files,
        append_fingerprints,
        compact_fingerprint_store,
        ensure_fingerprint_store,
        read_store_fingerprints,
        store_delta_file_count,
    )

    root = str(tmp_path / "store")
    ensure_fingerprint_store(spark, root, buckets=2)
    fps = spark.range(30).select(
        F.md5(F.col("id").cast("string")).alias("fingerprint")
    )
    append_fingerprints(fps, root, buckets=2)
    # another session's in-flight view: paths listed pre-compaction
    inflight = _delta_files(spark, root)
    assert inflight
    pre = spark.read.schema("fingerprint string").parquet(*inflight)

    compact_fingerprint_store(spark, root, buckets=2)
    # the merged files survive their grace cycle...
    import os

    assert all(os.path.exists(p.replace("file:", "")) for p in inflight)
    assert pre.count() == 30  # the in-flight frame still reads
    # ...are discounted from the trigger (no immediate re-trigger)...
    assert store_delta_file_count(spark, root) == 0
    # ...and the SET view dedups the base∪delta overlap
    assert read_store_fingerprints(spark, root, 2).count() == 30
    # the NEXT compaction ages them out
    compact_fingerprint_store(spark, root, buckets=2)
    assert not any(os.path.exists(p.replace("file:", "")) for p in inflight)
    assert read_store_fingerprints(spark, root, 2).count() == 30


def test_store_delta_frame_base_version_closes_grace_double_read(
    spark, tmp_path
):
    """The grace-cycle delta double-read is closed: a reader that pins
    its delta scan to the version its base TABLE actually reads
    (store_table_version) gets only the unmerged delta files — during
    the grace cycle each fingerprint reaches the join from EXACTLY ONE
    side — while a version-less reader still gets the documented
    always-correct superset, and a reader on the grace base keeps the
    merged files it genuinely needs."""
    from pyspark.sql import functions as F

    from vinum_spark.io.bucketing import (
        append_fingerprints,
        compact_fingerprint_store,
        ensure_fingerprint_store,
        store_delta_frame,
        store_table_version,
    )

    root = str(tmp_path / "store")
    tbl = ensure_fingerprint_store(spark, root, buckets=2)

    def fps(lo, hi):
        return spark.range(lo, hi).select(
            F.md5(F.col("id").cast("string")).alias("fingerprint")
        )

    append_fingerprints(fps(0, 30), root, buckets=2)
    compact_fingerprint_store(spark, root, buckets=2)  # -> v1, grace A
    append_fingerprints(fps(30, 50), root, buckets=2)  # unmerged B

    assert store_table_version(spark, tbl) == 1
    # version-less: full superset (A grace files + B) — 50 rows
    assert store_delta_frame(spark, root).count() == 50
    # pinned to the base this session reads: only B — no double-read
    pinned = store_delta_frame(spark, root, base_version=1)
    assert pinned.count() == 20
    base = spark.table(tbl).select("fingerprint")
    both = base.unionByName(pinned)
    # each fingerprint arrives from exactly one side, even WITHOUT a
    # dropDuplicates: base(30 A) ∪ pinned-delta(20 B), all distinct
    assert both.count() == 50
    assert both.distinct().count() == 50
    # a reader still on the GRACE base (v0 = the empty initial base)
    # must keep the merged files: v0 has no manifest, superset returned
    assert store_delta_frame(spark, root, base_version=0).count() == 50

    # next cycle: v2 absorbs B (+ folds lingering A); B files now grace
    compact_fingerprint_store(spark, root, buckets=2)
    assert store_table_version(spark, tbl) == 2
    assert spark.table(tbl).count() == 50
    # pinned to v2: B's grace files excluded -> nothing unmerged left
    assert store_delta_frame(spark, root, base_version=2) is None
    # a reader whose catalog still points at v1 (another session that
    # has not re-opened) pins to v1 and keeps B — its membership stays
    # complete: base v1 (30) + delta (20)
    v1_delta = store_delta_frame(spark, root, base_version=1)
    assert v1_delta.count() == 20


def test_append_fingerprints_skips_empty_batches(spark, tmp_path):
    """An all-duplicate micro-batch (empty survivor frame) must not
    land footer-only parquet files in delta/ — they would count toward
    the compaction trigger and force merges of no data."""
    from vinum_spark.io.bucketing import (
        _delta_files,
        append_fingerprints,
        ensure_fingerprint_store,
    )

    root = str(tmp_path / "store")
    ensure_fingerprint_store(spark, root, buckets=2)
    empty = spark.createDataFrame([], "fingerprint string")
    append_fingerprints(empty, root, buckets=2)
    assert _delta_files(spark, root) == []


def test_fingerprint_store_ignores_incomplete_versions(spark, tmp_path):
    """Crash-safety invariant: a version directory without _SUCCESS (a
    compaction that died mid-write) is INVISIBLE — discovery keeps the
    last complete version, so the store never shrinks or vanishes."""
    import os

    from pyspark.sql import functions as F

    from vinum_spark.io.bucketing import (
        append_fingerprints,
        compact_fingerprint_store,
        current_store_version,
        ensure_fingerprint_store,
        read_store_fingerprints,
    )

    root = str(tmp_path / "store")
    tbl = ensure_fingerprint_store(spark, root, buckets=2)
    append_fingerprints(
        spark.range(10).select(
            F.md5(F.col("id").cast("string")).alias("fingerprint")
        ),
        root,
        buckets=2,
    )
    compact_fingerprint_store(spark, root, buckets=2)  # -> base v1
    # simulate a mid-write compaction crash: partial v2, no _SUCCESS
    os.makedirs(f"{root}/v2")
    with open(f"{root}/v2/part-00000.parquet", "wb") as f:
        f.write(b"partial")
    assert current_store_version(spark, root) == 1
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    ensure_fingerprint_store(spark, root, buckets=2)
    assert read_store_fingerprints(spark, root, 2).count() == 10


def test_stream_dedup_bucketed_store_matches_plain(spark, tmp_path):
    """store_buckets mode must produce the identical survivor set as
    the plain-parquet store under the same multi-batch stream — with a
    forced mid-drain compaction and the pre-seed routed through the
    store API."""
    from pyspark.sql import functions as F

    from vinum_spark.io.bucketing import (
        append_fingerprints,
        current_store_version,
        ensure_fingerprint_store,
    )
    from vinum_spark.operators.text import with_fingerprint
    from vinum_spark.streaming.stateful import (
        run_stream_dedup_against_store,
    )
    from vinum_spark.streaming.windows import stream_table

    src = str(tmp_path / "src")
    docs = spark.createDataFrame(
        [(i, f"text number {i % 7}") for i in range(28)],
        "doc_id long, text string",
    )
    docs.repartitionByRange(4, "doc_id").write.parquet(src)
    seed = with_fingerprint(docs.filter("doc_id % 7 = 0"), "text").select(
        "fingerprint"
    ).distinct()

    got = {}
    for mode in ("plain", "bucketed"):
        store = str(tmp_path / mode / "store")
        out = str(tmp_path / mode / "out")
        ckpt = str(tmp_path / mode / "ckpt")
        kw = {}
        if mode == "bucketed":
            ensure_fingerprint_store(spark, store, buckets=2)
            append_fingerprints(seed, store, buckets=2)
            # seed lands 1 delta file (one distinct fingerprint), batch
            # 0's survivors land a few more: threshold 3 forces a
            # compaction while later (all-duplicate, zero-file) batches
            # still run
            kw = {"store_buckets": 2, "compact_at_files": 3}
        else:
            seed.write.parquet(store)
        stream = stream_table(spark, src, max_files_per_trigger=1)
        run_stream_dedup_against_store(
            stream, store, out, ckpt, state_partitions=2, **kw
        )
        got[mode] = sorted(
            r["fingerprint"]
            for r in spark.read.parquet(out).select("fingerprint").collect()
        )
    assert got["plain"] == got["bucketed"] and len(got["plain"]) == 6
    # the compaction really fired mid-drain
    assert current_store_version(spark, str(tmp_path / "bucketed" / "store")) >= 1


def test_compaction_lease_and_grace_optout(spark, tmp_path):
    """The single-compactor contract is mechanical: a held lease makes
    a second compactor fail loudly naming the holder, and removing the
    lease recovers. keep_grace=False reclaims the superseded version
    immediately (single-reader deployments)."""
    import os

    import pytest
    from pyspark.sql import functions as F

    from vinum_spark.io.bucketing import (
        append_fingerprints,
        compact_fingerprint_store,
        current_store_version,
        ensure_fingerprint_store,
    )

    root = str(tmp_path / "store")
    tbl = ensure_fingerprint_store(spark, root, buckets=2)
    append_fingerprints(
        spark.range(20).select(
            F.md5(F.col("id").cast("string")).alias("fingerprint")
        ),
        root,
        buckets=2,
    )
    # simulate a crashed compactor's leftover lease
    with open(f"{root}/_compaction_lease", "w") as f:
        f.write("dead-app-123")
    with pytest.raises(RuntimeError, match="dead-app-123"):
        compact_fingerprint_store(spark, root, buckets=2)
    os.remove(f"{root}/_compaction_lease")

    compact_fingerprint_store(spark, root, buckets=2, keep_grace=False)
    assert current_store_version(spark, root) == 1
    assert not os.path.exists(f"{root}/v0")  # no grace copy kept
    assert not os.path.exists(f"{root}/_compaction_lease")  # released
    assert spark.table(tbl).count() == 20


def test_break_compaction_lease_liveness_check(spark, tmp_path):
    """Stale-lease recovery is tooling, not docs — and the dead-pid
    conclusion is only trusted where it TRANSFERS: break_compaction_
    lease removes a same-pid-namespace dead holder's lease (absent pid
    or recycled pid detected by start-time mismatch), REFUSES a
    verified-live holder even with force, requires force for every
    unverifiable holder (other namespace — e.g. a sibling container
    sharing the hostname — bare pre-r16 leases), and force_break_lease
    threads the same check through compact_fingerprint_store."""
    import os
    import socket

    import pytest
    from pyspark.sql import functions as F

    from vinum_spark.io.bucketing import (
        _pid_ns,
        _pid_start_ticks,
        append_fingerprints,
        break_compaction_lease,
        compact_fingerprint_store,
        current_store_version,
        ensure_fingerprint_store,
    )

    root = str(tmp_path / "store")
    ensure_fingerprint_store(spark, root, buckets=2)
    append_fingerprints(
        spark.range(10).select(
            F.md5(F.col("id").cast("string")).alias("fingerprint")
        ),
        root,
        buckets=2,
    )
    lease = f"{root}/_compaction_lease"
    host = socket.gethostname()
    ns = _pid_ns()
    assert ns is not None  # Linux CI — the identity the lease records

    def write_lease(app, pid, pidns, ticks):
        with open(lease, "w") as f:
            f.write(f"{app}\x1f{host}\x1f{pid}\x1f{pidns}\x1f{ticks}")

    # no lease -> loud, not a silent no-op
    with pytest.raises(ValueError, match="nothing to break"):
        break_compaction_lease(spark, root)

    # a LIVE same-namespace holder refuses the break (this process)
    write_lease("app-live", os.getpid(), ns, _pid_start_ticks(os.getpid()))
    with pytest.raises(RuntimeError, match="STILL RUNNING"):
        break_compaction_lease(spark, root)
    # force does NOT override a verified-alive holder either
    with pytest.raises(RuntimeError, match="STILL RUNNING"):
        break_compaction_lease(spark, root, force=True)
    os.remove(lease)

    # a DEAD same-namespace holder breaks cleanly (pid from a spawned,
    # already-exited child: guaranteed recycled-slot-free long enough)
    import subprocess

    dead = subprocess.Popen(["true"])
    dead.wait()
    write_lease("app-dead", dead.pid, ns, 123456)
    evicted = break_compaction_lease(spark, root)
    assert "app-dead" in evicted
    assert not os.path.exists(lease)

    # a RECYCLED pid (same number, wrong start time) is also dead
    write_lease("app-recycled", os.getpid(), ns, 1)
    assert "app-recycled" in break_compaction_lease(spark, root)

    # same hostname but ANOTHER pid namespace (the sibling-container
    # case a hostname check would get wrong): unverifiable -> force
    write_lease("app-container", dead.pid, "pid:[999999]", 123456)
    with pytest.raises(RuntimeError, match="force"):
        break_compaction_lease(spark, root)
    assert "app-container" in break_compaction_lease(
        spark, root, force=True
    )
    # pre-r16 / hand-written lease (no namespace): unverifiable
    with open(lease, "w") as f:
        f.write("bare-app-id")
    with pytest.raises(RuntimeError, match="force"):
        break_compaction_lease(spark, root)
    os.remove(lease)

    # an UNREADABLE lease (here: a directory, which fs.open rejects)
    # must land in the same documented unverifiable-pass-force branch —
    # regression: the exception-path dict lacked pidns/ticks keys and
    # the recovery tool died with a KeyError instead
    os.makedirs(lease)
    with pytest.raises(RuntimeError, match="force"):
        break_compaction_lease(spark, root)
    assert "<unreadable>" in break_compaction_lease(spark, root, force=True)
    assert not os.path.exists(lease)

    # the escape hatch: compact(force_break_lease=True) breaks a dead
    # holder's lease and proceeds; it also clears UNVERIFIABLE leases
    # (the pre-r16 upgrade case the error message points at)
    write_lease("app-dead2", dead.pid, ns, 123456)
    compact_fingerprint_store(
        spark, root, buckets=2, force_break_lease=True
    )
    assert current_store_version(spark, root) == 1
    assert not os.path.exists(lease)
    with open(lease, "w") as f:
        f.write("bare-legacy-holder")
    compact_fingerprint_store(
        spark, root, buckets=2, force_break_lease=True
    )
    assert current_store_version(spark, root) == 2
    assert not os.path.exists(lease)
