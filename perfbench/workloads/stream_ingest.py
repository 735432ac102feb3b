"""Incremental ingestion: the only workload whose state and on-disk store
grow during the run.

One operation lands one seeded increment (a docs file and an events
file) into the source directories, then resumes the two checkpointed
drains and waits for them. A pass is two increments, one store
compaction cycle:

* ``run_stream_dedup_against_store(stream_table(docs), store_buckets=...,
  compact_at_files=...)`` -- exact dedup against the persistent
  fingerprint store, compacted every few increments;
* ``stream_distinct`` over the events, drained to parquet.
"""

from __future__ import annotations

import hashlib
import os
from typing import Dict, List, Tuple

from perfbench import gen
from perfbench.workloads import Op, Workload

BUCKETS = 4
STATE_PARTITIONS = 4
# appends land 4 delta files each: the store compacts on every second
# increment, at the odd ones, so each pass compacts once
COMPACT_AT = 8


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def data_files(path: str) -> int:
    if not os.path.isdir(path):
        return 0
    return sum(1 for f in os.listdir(path) if not f.startswith(("_", ".")))


class StreamIngest(Workload):
    # two timed passes: the first increment after the cold one still
    # runs while the JVM compiles, so the warm-up pass holds two
    min_ops = 4
    streams = True

    def __init__(self):
        super().__init__("stream_ingest", "increment document")

    def generate(self, seed: int, out_dir: str) -> None:
        self.dir = out_dir
        self.props = gen.gen_stream(seed, out_dir)
        p = {k: os.path.join(out_dir, k) for k in (
            "docs_src", "events_src", "store", "docs_out", "events_out",
            "docs_ckpt", "events_ckpt")}
        self.paths = p
        for k in ("docs_src", "events_src"):
            os.makedirs(p[k], exist_ok=True)
        self.landed = 0
        self.landed_bytes = 0

    def setup(self, spark) -> None:
        from vinum_spark.io.bucketing import ensure_fingerprint_store

        ensure_fingerprint_store(spark, self.paths["store"], BUCKETS)

    def _land(self, i: int) -> None:
        staged = os.path.join(self.dir, "staged", f"{i:04d}")
        for kind in ("docs", "events"):
            name = f"part-{i:04d}.parquet"
            src = os.path.join(staged, kind, name)
            self.landed_bytes += os.path.getsize(src)
            os.rename(src, os.path.join(self.paths[f"{kind}_src"], name))
        self.landed = i + 1

    def pass_ops(self, index: int) -> List[Op]:
        first = 2 * index
        if first + 1 >= self.props["increments"]:
            return []
        return [Op(f"increment{i}", lambda i=i: self._increment(i))
                for i in (first, first + 1)]

    def _increment(self, i: int):
        import vinum_spark
        from vinum_spark.streaming import stateful, windows

        spark = vinum_spark.get_spark()
        p = self.paths
        self._land(i)
        docs = windows.stream_table(spark, p["docs_src"]).select("doc_id", "text")
        stateful.run_stream_dedup_against_store(
            docs, p["store"], p["docs_out"], p["docs_ckpt"],
            state_partitions=STATE_PARTITIONS, store_buckets=BUCKETS,
            compact_at_files=COMPACT_AT,
        )
        # timeout_ms=0: exact retention, the semantics the check asserts.
        # With the default inactivity timeout the resumed drain can stop
        # on the replay of the previous run's interrupted empty batch and
        # lose the new increment (see CHANGES.md).
        events = stateful.stream_distinct(
            windows.stream_table(spark, p["events_src"]),
            group_col="user_id", key_cols=["event_id"], group_buckets=16,
            timeout_ms=0,
        )
        windows.run_stream_to_parquet(
            events, p["events_out"], p["events_ckpt"],
            state_partitions=STATE_PARTITIONS,
        )
        return self.props["docs_per_increment"], None

    def install_tracing(self, tracer) -> None:
        from vinum_spark.io import bucketing
        from vinum_spark.operators import dedup
        from vinum_spark.streaming import stateful, windows

        tracer.wrap(stateful, "run_stream_dedup_against_store", "streaming.drain")
        tracer.wrap(windows, "run_stream_to_parquet", "streaming.drain")
        # imported at call time inside the foreachBatch carrier
        tracer.wrap(dedup, "dedup_against_store", "operators.dedup.dedup_against_store")
        tracer.wrap(bucketing, "append_fingerprints", "io.append_fingerprints")
        tracer.wrap(bucketing, "compact_fingerprint_store", "io.compact_fingerprint_store")

    def observe(self, op: Op, tracer) -> None:
        p = self.paths
        op.meta["delta_files"] = data_files(os.path.join(p["store"], "delta"))
        written = sum(dir_bytes(p[k]) for k in ("store", "docs_out", "events_out"))
        op.meta["bytes_ratio"] = written / self.landed_bytes

    def layer_metrics(self, ops: List[Op], tracer) -> Dict[str, float]:
        if not ops:
            return {}
        n = len(ops)
        progress = [p for o in ops for p in o.meta.get("progress", [])]
        dur = lambda key: sum(p["durationMs"].get(key, 0) for p in progress) / n  # noqa: E731
        state = [
            (sum(s["numRowsTotal"] for s in p["stateOperators"]),
             sum(s["memoryUsedBytes"] for s in p["stateOperators"]))
            for p in progress if p.get("stateOperators")
        ]
        compactions = sum(
            1 for s in tracer.spans if s["name"] == "io.compact_fingerprint_store"
            and s["op"] is not None
        )
        return {
            "streaming.batches_per_increment": len(progress) / n,
            "streaming.empty_batch_ratio":
                sum(p["numInputRows"] == 0 for p in progress) / len(progress)
                if progress else 0.0,
            "streaming.add_batch_ms": dur("addBatch"),
            "streaming.wal_commit_ms": dur("walCommit"),
            "streaming.commit_offsets_ms": dur("commitOffsets"),
            "streaming.query_planning_ms": dur("queryPlanning"),
            "streaming.state_rows": max(r for r, _ in state) if state else 0.0,
            "streaming.state_bytes": max(b for _, b in state) if state else 0.0,
            "io.compactions": compactions / n,
            "io.store_delta_files": sum(o.meta["delta_files"] for o in ops) / n,
            "io.bytes_written_per_input_byte": ops[-1].meta["bytes_ratio"],
        }

    def check(self, ops: List[Op]) -> List[Tuple[int, str]]:
        import pyarrow.parquet as pq

        incs = self.props["_increments"][: self.landed]
        last = len(ops) - 1
        fails = []
        want_texts = {t for inc in incs for t in inc["docs"]}
        got = pq.read_table(self.paths["docs_out"], columns=["text", "fingerprint"]).to_pandas()
        if got["fingerprint"].duplicated().any():
            fails.append((last, "a fingerprint survived twice"))
        if set(got["text"]) != want_texts or len(got) != len(want_texts):
            fails.append((last, f"{len(got)} documents survived, "
                                f"{len(want_texts)} distinct were landed"))
        md5 = {hashlib.md5(t.encode()).hexdigest() for t in want_texts}
        if set(got["fingerprint"]) != md5:
            fails.append((last, "surviving fingerprints differ from the md5 of the texts"))
        want_events = {int(e) for inc in incs for e in inc["event_ids"]}
        ev = pq.read_table(self.paths["events_out"], columns=["event_id"]).to_pandas()
        if ev["event_id"].duplicated().any():
            fails.append((last, "an event was emitted twice"))
        if set(ev["event_id"]) != want_events:
            fails.append((last, f"{ev['event_id'].nunique()} events emitted, "
                                f"{len(want_events)} distinct were landed"))
        return fails
