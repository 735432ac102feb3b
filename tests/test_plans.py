"""Physical-plan assertions — the scale contract, checked in CI.

Correct results with a wrong plan don't survive a 100× scale-up; these
tests pin the plan properties that matter: predicate pushdown into the
parquet scan, column pruning, broadcast joins for dims, partial (map-side)
aggregation, top-k fusion, and whole-stage codegen coverage.
"""

from __future__ import annotations

import pytest

from vinum_spark.inventory import QUERIES

SF_DIR = "/root/testdata/sf0.001"


#: plan text per (query, explain-mode), computed once per test session —
#: building a query's DataFrame runs its fn, and for streaming inventory
#: entries the fn DRAINS a live stream; without this cache the four
#: whole-inventory loops below would re-run every stream once per loop.
_PLAN_CACHE: dict = {}


def plan_of(spark, name: str, mode: str = "formatted") -> str:
    key = (name, mode)
    if key not in _PLAN_CACHE:
        df = QUERIES[name].fn(spark, SF_DIR)
        _PLAN_CACHE[key] = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), mode
        )
    return _PLAN_CACHE[key]


def test_filter_pushdown_reaches_scan(spark):
    plan = plan_of(spark, "q02_filter_project")
    assert "PushedFilters" in plan
    assert "l_returnflag" in plan.split("PushedFilters")[1][:300]


def test_column_pruning(spark):
    plan = plan_of(spark, "q04_group_single_key")
    read_schema = plan.split("ReadSchema")[1][:200]
    assert "l_suppkey" in read_schema
    assert "l_returnflag" not in read_schema  # unused column pruned


def test_dim_join_broadcasts(spark):
    # q13 carries NO broadcast hint: Catalyst's size estimate must pick
    # the broadcast on its own (and may fall back to a shuffled join at
    # a scale where part outgrows autoBroadcastJoinThreshold — the safe
    # 100× behavior a forced hint would destroy).
    plan = plan_of(spark, "q13_join_broadcast")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_multiway_join_broadcasts_all_dims(spark):
    plan = plan_of(spark, "q14_join_multiway")
    # customer/nation/region all fit the broadcast threshold at test
    # scale and must be chosen WITHOUT hints; only orders↔lineitem may
    # shuffle.
    assert plan.count("BroadcastHashJoin") >= 3


def test_unhinted_broadcasts_hold_at_sf01(spark):
    """The round-10 verdict flagged forced F.broadcast on
    row-count-proportional tables as the one 100×-scale hazard. The
    hints are gone; this pins that the OPTIMIZER still chooses
    broadcast at sf0.1 (the bench scale) from size estimates alone, so
    dropping the hints cost no performance where broadcast is right."""
    from vinum_spark.inventory import QUERIES

    for name in ("q13_join_broadcast", "q14_join_multiway"):
        df = QUERIES[name].fn(spark, "/root/testdata/sf0.1")
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        assert "BroadcastHashJoin" in plan, name
        assert "ResolvedHint" not in plan, name
    assert plan.count("BroadcastHashJoin") >= 3  # q14: all three dims


def test_partial_aggregation(spark):
    plan = plan_of(spark, "q01_pricing_summary")
    assert "HashAggregate" in plan
    # partial + final pair
    assert plan.count("HashAggregate") >= 2


def test_topk_fuses(spark):
    plan = plan_of(spark, "q31_cosine_topk")
    assert "TakeOrderedAndProject" in plan


def test_media_decode_pipelines_shuffle_free(spark):
    """The multimodal decode family's 100 TB story is 'embarrassingly
    parallel over assets': scan -> Arrow-batched Python stage, with NO
    Exchange anywhere in the plan. Pin that for the sample-decode gate
    (q81 builds assets AND decodes them in one pipeline) and for the
    operator surface (decode_audio / probe_media / resample_audio /
    sample_frames over a parquet scan) — a shuffle creeping into any
    of these would silently turn per-asset work into a repartition of
    the full binary corpus."""
    import vinum_spark.operators.multimodal as mm

    plan = plan_of(spark, "q81_audio_decode", mode="simple")
    body = plan.split("== Physical Plan ==")[-1]
    # q81 allows exactly two Exchanges: the final ORDER BY range sort
    # ABOVE the decode, and the deliberate 8-byte-id repartition BELOW
    # the build kernel (parallelizing the CPU-bound Python stage; the
    # binary payloads themselves are never shuffled — both MapInPandas
    # stages sit between the two Exchanges). Simple-mode plans print
    # top-down, so the id repartition is the only Exchange after the
    # last MapInPandas, and it must feed directly from the scan. Since
    # round 12 the builders use dedup._spread (hash on doc_id, sized to
    # defaultParallelism) instead of a hard-coded repartition(64), so
    # the Exchange is a hashpartitioning, and on a bigger cluster the
    # build stage scales with the cluster instead of capping at 64.
    python_stage = body.rfind("MapInPandas")
    assert python_stage != -1
    below = body[python_stage:]
    assert below.count("Exchange") == 1
    assert "hashpartitioning(doc_id" in below  # the id repartition
    assert body.count("Exchange") == 2  # plus only the final sort

    # q84 (Vorbis mux/demux gate) pins the identical shape
    plan84 = plan_of(spark, "q84_vorbis_decode", mode="simple")
    body84 = plan84.split("== Physical Plan ==")[-1]
    python_stage = body84.rfind("MapInPandas")
    assert python_stage != -1
    assert body84[python_stage:].count("Exchange") == 1
    assert body84.count("Exchange") == 2

    df = spark.read.parquet(f"{SF_DIR}/documents.parquet").selectExpr(
        "doc_id AS asset_id", "CAST(text AS BINARY) AS content"
    )
    for op in (
        lambda d: mm.decode_audio(d),
        lambda d: mm.probe_media(d),
        lambda d: mm.resample_audio(d, 8000),
        lambda d: mm.sample_frames(d, every_n=4),
        lambda d: mm.extract_features(d),
    ):
        out = op(df)
        text = out._sc._jvm.PythonSQLUtils.explainString(
            out._jdf.queryExecution(), "formatted"
        )
        assert "Exchange" not in text, text.split("\n")[0]


def test_codegen_present(spark):
    # AQE's formatted mode hides codegen spans pre-execution; the codegen
    # explain mode lists the compiled subtrees.
    plan = plan_of(spark, "q01_pricing_summary", mode="codegen")
    assert "WholeStageCodegen" in plan


def test_no_cartesian_products_anywhere(spark):
    for name in QUERIES:
        plan = plan_of(spark, name)
        assert "CartesianProduct" not in plan, name


def test_no_nested_loop_joins_anywhere(spark):
    # every join in the inventory must be an equi-join (hash or
    # sort-merge, possibly broadcast); BroadcastNestedLoopJoin enumerates
    # O(n*m) pairs against a full-table broadcast and dies at scale
    for name in QUERIES:
        plan = plan_of(spark, name)
        assert "BroadcastNestedLoopJoin" not in plan, name


def test_no_row_at_a_time_python(spark):
    # Python may appear only as Arrow-batched evaluation (pandas_udf /
    # mapInPandas / GROUPED_AGG) — never BatchEvalPython (row-at-a-time).
    for name in QUERIES:
        plan = plan_of(spark, name)
        assert "BatchEvalPython" not in plan, name


def _hof_in_filters(plan: str, conditions: bool = False) -> list:
    """Return scan-filter lines (DataFilters / PushedFilters) — and, with
    ``conditions=True``, Filter-node Condition lines — that contain a
    higher-order-function call. HOFs legitimately appear in Project nodes
    (that's where shingling happens) and may appear in a Filter whose
    PURPOSE is that computation (q32's Hamming-radius filter computes the
    LSH signature inline). Appearing at the SCAN, though, means Catalyst
    inferred a predicate from a Generate and alias-substituted the full
    expression into it — the shape that made q29 evaluate shingling
    twice (once single-threaded below the repartition Exchange) in
    round 4.
    """
    markers = ("DataFilters:", "PushedFilters:") + (
        ("Condition :",) if conditions else ()
    )
    bad = []
    for line in plan.splitlines():
        stripped = line.strip()
        if stripped.startswith(markers):
            if "transform(" in stripped or "array_distinct(" in stripped:
                bad.append(stripped)
    return bad


def test_no_hof_in_scan_filters_dedup_family(spark):
    # the regression class that shipped in round 4: an inferred
    # size(shingles) > 0 filter expanded to the full shingling HOF and
    # pushed below the repartition into the FileScan. In the dedup family
    # no Filter node ever legitimately re-evaluates shingling, so check
    # Filter conditions too, not just the scan.
    for name in ("q28_ngram_jaccard", "q29_minhash_lsh_dedup", "q30_simhash"):
        plan = plan_of(spark, name)
        found = _hof_in_filters(plan, conditions=True)
        assert not found, (name, found)


def test_no_hof_in_scan_filters_anywhere(spark):
    for name in QUERIES:
        plan = plan_of(spark, name)
        found = _hof_in_filters(plan)
        assert not found, (name, found)


def test_minhash_candidates_no_inferred_shingle_filter(spark):
    # the lazy (no precomputed-shingles) path must keep the direct
    # explode-of-expression shape: generate from a non-trivial child, so
    # InferFiltersFromGenerate declines and DataFilters stays empty
    from vinum_spark.operators.dedup import minhash_candidate_pairs

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    df = minhash_candidate_pairs(docs, n_hashes=64, bands=16)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert not _hof_in_filters(plan), _hof_in_filters(plan)


def test_minhash_partial_aggregates(spark):
    # q29's final plan starts from the checkpointed candidate set, so
    # assert the map-side combine on the candidate pipeline itself
    from vinum_spark.operators.dedup import minhash_candidate_pairs

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    df = minhash_candidate_pairs(docs, n_hashes=64, bands=16)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "partial_min" in plan  # map-side combine before the shuffle


def test_semi_join_planned(spark):
    plan = plan_of(spark, "q16_semi_join")
    assert "LeftSemi" in plan


def test_anti_join_planned(spark):
    plan = plan_of(spark, "q15_anti_join")
    assert "LeftAnti" in plan


def test_decontamination_broadcasts_eval_grams(spark):
    # q68: the eval/benchmark gram set must be the BROADCAST side — the
    # 100 TB corpus never shuffles for the membership probe
    plan = plan_of(spark, "q68_decontamination")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_boilerplate_set_broadcast_anti_join(spark):
    # q69: boilerplate membership is a broadcast LeftAnti probe; only the
    # doc-frequency count and per-doc reassembly shuffle
    plan = plan_of(spark, "q69_boilerplate_removal")
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan


def test_lm_model_broadcast_into_scoring(spark):
    # q70: the bigram model (bounded by charset², not corpus size) is
    # broadcast; the per-document mean partial-aggregates
    plan = plan_of(spark, "q70_lm_quality_score")
    assert "BroadcastHashJoin" in plan
    assert plan.count("HashAggregate") >= 2


def test_pack_sequences_single_shuffle_no_global_sort(spark):
    # q71: one hash partitioning on shard + in-partition sort; a global
    # range sort would be a second full-data shuffle at 100 TB. The
    # final orderBy in the gate query is on the tiny aggregated frame.
    plan = plan_of(spark, "q71_pack_sequences")
    assert "Window" in plan
    win_part = plan.split("Window")[1]
    assert "hashpartitioning(shard" in win_part or "hashpartitioning(shard" in plan


def test_bm25_topk_fuses(spark):
    # q73: the top-10 must be a TakeOrderedAndProject, never a full sort
    plan = plan_of(spark, "q73_bm25_search")
    assert "TakeOrderedAndProject" in plan


def test_aqe_splits_planted_skew_join(spark):
    """q86's 100x hazard, pinned end-to-end: ~86% of events collapse
    onto cust_key 0, so one shuffle partition carries the bulk of the
    sort-merge join input. At 100 TB that partition is thousands of
    map blocks, and AQE's skew-join rule splits it into advisory-sized
    slices at runtime. Emulate the two scale conditions local test
    data lacks — many mappers (the sf0.01 parquet is one row group, so
    a skewed reduce partition would have nothing to split below one
    map block: repartition(16) stands in for the thousands of input
    splits a real corpus scans as) and partition sizes above the skew
    thresholds (lowered to KB) — then pin SortMergeJoin(skew=true) +
     'AQEShuffleRead skewed' in the executed adaptive plan. Broadcast
    is disabled because at this scale BOTH sides outgrow the driver;
    under the driver's default session q86 instead broadcasts the dim
    side (no shuffle to skew), which test_dim_join_broadcasts pins for
    the join family."""
    from pyspark.sql import functions as F

    conf = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "1KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "1KB",
    }
    saved = {k: spark.conf.get(k, None) for k in conf}
    try:
        for k, v in conf.items():
            spark.conf.set(k, v)
        sf = "/root/testdata/sf0.01"
        e = (
            spark.read.parquet(f"{sf}/events.parquet")
            .repartition(16)
            .select(
                F.when(F.col("user_id") % 7 == 0, F.col("user_id"))
                .otherwise(F.lit(0))
                .alias("cust_key"),
                "event_type",
            )
        )
        o = spark.read.parquet(f"{sf}/orders.parquet").select(
            "o_custkey", "o_totalprice"
        )
        df = (
            e.join(o, e.cust_key == o.o_custkey)
            .groupBy("event_type")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n"),
                F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
            )
        )
        rows = {r["event_type"]: r["n"] for r in df.collect()}
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin(skew=true)" in plan
        assert "AQEShuffleRead skewed" in plan
        # results must be the plain-join answer, split or not: compare
        # against the same query under the session's default config
        for k, v in saved.items():
            spark.conf.unset(k) if v is None else spark.conf.set(k, v)
        from vinum_spark.inventory import QUERIES

        want = {
            r["event_type"]: r["n"]
            for r in QUERIES["q86_skew_join_aqe"].fn(spark, sf).collect()
        }
        assert rows == want and len(rows) == 5
    finally:
        for k, v in saved.items():
            spark.conf.unset(k) if v is None else spark.conf.set(k, v)


@pytest.mark.parametrize(
    "name", ["q89_bpe_tokenize", "q91_bpe_byte_tokenize", "q93_bpe_token_ids"]
)
def test_bpe_tokenize_python_is_vocab_sized_and_broadcast(spark, name):
    """The tokenizer family's 100 TB contract, pinned in the plan: the
    pandas rank-loop (ArrowEvalPython) consumes the DISTINCT-word
    aggregate (its direct child is the distinct HashAggregate — Python
    never sees corpus-sized data), and its output feeds a
    BroadcastExchange, so the corpus-side join is a BroadcastHashJoin,
    never a sort-merge of the exploded corpus against Python output."""
    import re

    tree = plan_of(spark, name).split("\n\n")[0]
    sites = list(re.finditer(r"ArrowEvalPython \(\d+\)", tree))
    assert sites, "expected the rank-loop Python stage in the plan"
    for m in sites:
        after = tree[m.end(): m.end() + 200]
        assert re.match(r"\n[\s:+|-]*HashAggregate", after), (
            "Python stage must consume the distinct-word aggregate"
        )
        before = tree[max(0, m.start() - 250): m.start()]
        assert "BroadcastExchange" in before, (
            "Python output must broadcast into the corpus join"
        )
    assert "BroadcastHashJoin" in tree


def test_prepare_corpus_projection_stages_shuffle_free(spark):
    """The pipeline's map prefix (quality rules) + tokenize stage are
    PURE PROJECTIONS: with dedup/shard off, the whole prepare_corpus
    plan must contain no Exchange — the property that makes the
    identical stages streamable (prepare_corpus_stream) and lets
    Catalyst fuse them into the scan at 100 TB. The rank-loop pandas
    UDF must also appear exactly ONCE per output column set (Spark
    dedups equal PythonUDF expressions in one projection), not once
    per referencing expression."""
    from vinum_spark.operators.pipeline import CorpusConfig, prepare_corpus
    from vinum_spark.operators.text import learn_bpe_merges

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    merges = learn_bpe_merges(
        docs, n_merges=4, byte_level=True, token_pattern="[^ ]+"
    )
    out = prepare_corpus(
        docs,
        CorpusConfig(
            quality_filter=True,
            dedup=False,
            tokenize_with=merges,
            tokenize_byte_level=True,
            tokenize_pattern="[^ ]+",
            tokenize_emit_ids=True,
        ),
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    assert plan.count("tokenize_words") <= 2  # tokens + n_tokens refs share one eval


def test_bucketed_store_anti_join_shuffles_only_the_batch(spark, tmp_path):
    """The store-side scale contract of run_stream_dedup_against_store
    with store_buckets (and of any dedup_against_store over a bucketed
    store): post-compaction, the anti-join plan against the BASE
    contains EXACTLY ONE Exchange — the batch side hashing into the
    store's bucket layout — and EXACTLY ONE Sort below the join (the
    batch side again): the base is one fingerprint-SORTED file per
    bucket, so its scan reports the sort order and the merge join
    reads it in place. Broadcast is disabled so the pin exercises the
    100 TB shape (a 2 TB store never broadcasts); at real scale the
    elided exchange is the O(batch)-vs-O(store) shuffle difference
    per micro-batch and the elided sort is the O(store log store)
    per-batch CPU the round-16 base/delta split removes."""
    import re

    from pyspark.sql import functions as F

    from vinum_spark.io.bucketing import (
        append_fingerprints,
        compact_fingerprint_store,
        ensure_fingerprint_store,
        store_delta_frame,
    )
    from vinum_spark.operators.dedup import dedup_against_store

    root = str(tmp_path / "store")
    tbl = ensure_fingerprint_store(spark, root, buckets=4)
    append_fingerprints(
        spark.range(200).select(
            F.md5(F.col("id").cast("string")).alias("fingerprint")
        ),
        root,
        buckets=4,
    )
    # twice: the first compaction keeps its snapshot in the delta for
    # a grace cycle (concurrent-reader safety); the second ages it out
    compact_fingerprint_store(spark, root, buckets=4)
    compact_fingerprint_store(spark, root, buckets=4)
    assert store_delta_frame(spark, root) is None  # all merged into base
    batch = spark.range(100, 400).select(
        F.col("id").alias("doc_id"), F.col("id").cast("string").alias("text")
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        out = dedup_against_store(batch, spark.table(tbl))
        plan = out._sc._jvm.PythonSQLUtils.explainString(
            out._jdf.queryExecution(), "formatted"
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    # one Exchange node: the batch side. (The survivor-choice window
    # after the join reuses the join's fingerprint partitioning.)
    exchanges = re.findall(r"\(\d+\) Exchange", plan)
    assert len(exchanges) == 1, plan
    assert "Bucketed: true" in plan, plan
    assert "SelectedBucketsCount: 4 out of 4" in plan, plan
    # sort census: batch side of the SMJ + the survivor window's sort —
    # and NO store-side sort (three Sorts would mean the base scan
    # stopped reporting its order, i.e. a bucket grew a second file)
    sorts = re.findall(r"\(\d+\) Sort\b", plan)
    assert len(sorts) == 2, plan


def test_bucketed_store_delta_join_is_delta_sized(spark, tmp_path):
    """With appends pending in the delta, the batch anti-joins base
    THEN delta: the base side still has no Exchange and no Sort, and
    the only added shuffle work is the delta itself (one Exchange +
    one Sort on a delta-sized input) — O(delta), never O(store)."""
    import re

    from pyspark.sql import functions as F

    from vinum_spark.io.bucketing import (
        append_fingerprints,
        compact_fingerprint_store,
        ensure_fingerprint_store,
        store_delta_frame,
    )
    from vinum_spark.operators.dedup import dedup_against_store

    root = str(tmp_path / "store")
    tbl = ensure_fingerprint_store(spark, root, buckets=4)
    append_fingerprints(
        spark.range(200).select(
            F.md5(F.col("id").cast("string")).alias("fingerprint")
        ),
        root,
        buckets=4,
    )
    compact_fingerprint_store(spark, root, buckets=4, keep_grace=False)
    append_fingerprints(  # post-compaction append -> lands in delta
        spark.range(200, 250).select(
            F.md5(F.col("id").cast("string")).alias("fingerprint")
        ),
        root,
        buckets=4,
    )
    delta = store_delta_frame(spark, root)
    assert delta is not None
    batch = spark.range(100, 400).select(
        F.col("id").alias("doc_id"), F.col("id").cast("string").alias("text")
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        out = dedup_against_store(
            batch, spark.table(tbl), extra_stores=[delta]
        )
        plan = out._sc._jvm.PythonSQLUtils.explainString(
            out._jdf.queryExecution(), "formatted"
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    # exchanges: batch -> bucket layout, delta -> batch's layout.
    # sorts: batch side, delta side, survivor window. The base
    # contributes NEITHER.
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 2, plan
    assert len(re.findall(r"\(\d+\) Sort\b", plan)) == 3, plan
    assert "Bucketed: true" in plan, plan


@pytest.mark.parametrize("op", ["semantic_dedup", "knn_join"])
def test_semantic_dedup_edges_are_grouped_blas_kernel(spark, op):
    """The 100 TB contract of the Gram-kernel operators: semantic_dedup's
    within-cluster pairs and knn_join's local top-k come from the shared
    Arrow Gram kernel — ONE FlatMapGroupsInArrow fed by a single hash
    Exchange on the group key, and no pandas kernel; never a
    BroadcastNestedLoopJoin or cartesian product
    (all-pairs-by-accident), and never the retired pair-expression
    self-join (its per-pair Get/cast chain measured ~14 µs/pair and
    sank the 100× anchor)."""
    import re as _re

    from pyspark.sql import functions as F

    from vinum_spark.operators.similarity import (
        _semantic_edges,
        ivf_index,
        knn_join,
        semantic_dedup,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    if op == "semantic_dedup":
        # the full operator's lazy plan hides the edge stage behind the
        # connected-components checkpoint, so pin the edges frame itself
        # (the exact construction semantic_dedup runs)
        cells = ivf_index(
            emb.select("vec_id", "embedding"), 64, n_cells=16,
            out="sem_cluster",
        )
        kernel = _semantic_edges(cells, 0.95)
        out = semantic_dedup(
            emb.select("vec_id", "embedding"), dim=64, n_clusters=16
        )
    else:
        kernel = out = knn_join(
            emb.filter(F.col("vec_id") % 50 == 0),
            emb.filter(F.col("vec_id") % 50 != 0),
            k=5,
        )
    plan = kernel._sc._jvm.PythonSQLUtils.explainString(
        kernel._jdf.queryExecution(), "simple"
    )
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "FlatMapGroupsInArrow" in plan, plan
    assert "FlatMapGroupsInPandas" not in plan, plan
    # ONE Exchange feeds the kernel: the groupBy's hash partitioning on
    # the group key (the plan prints the kernel's subtree below it)
    below = plan.split("FlatMapGroupsInArrow", 1)[1]
    assert len(_re.findall(r"Exchange hashpartitioning", below)) == 1, plan
    # and the full operator still shows no accidental all-pairs join
    full = out._sc._jvm.PythonSQLUtils.explainString(
        out._jdf.queryExecution(), "simple"
    )
    assert "BroadcastNestedLoopJoin" not in full, full
    assert "CartesianProduct" not in full, full


#: the shapes of the benchmark's ``sql_analyst`` NumPy queries: np.* in
#: SELECT and GROUP BY, and one register_numpy UDF
_NUMPY_SQL = (
    "SELECT np.floor(l_quantity / 5) AS bucket, count(*) AS n, "
    "round(sum(np.log(l_extendedprice)), 4) AS log_rev FROM lineitem "
    "WHERE l_tax <= 0.05 GROUP BY np.floor(l_quantity / 5) ORDER BY bucket"
)
_UDF_SQL = (
    "SELECT l_linestatus, round(sum(plan_disc_price(l_extendedprice, "
    "l_discount)), 2) AS rev FROM lineitem WHERE l_quantity < 25 "
    "GROUP BY l_linestatus ORDER BY l_linestatus"
)


def _table_sql_plan(sql: str) -> str:
    import vinum_spark as vs

    df = vs.read_parquet(f"{SF_DIR}/lineitem.parquet").sql(sql).df
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


@pytest.mark.parametrize("sql", [_NUMPY_SQL, _UDF_SQL], ids=["numpy", "udf"])
def test_traceable_numpy_sql_stays_in_jvm(spark, sql):
    """np.floor, np.log and an arithmetic register_numpy fn compile to
    Catalyst expressions: no Python worker in the plan."""
    import vinum_spark as vs

    vs.register_numpy("plan_disc_price", lambda p, d: p * (1.0 - d), "double")
    plan = _table_sql_plan(sql)
    assert "ArrowEvalPython" not in plan
    assert "BatchEvalPython" not in plan


def test_untraceable_numpy_udf_keeps_arrow_python(spark):
    import numpy as np

    import vinum_spark as vs

    # a data-dependent branch cannot be traced
    vs.register_numpy("plan_branchy", lambda x: np.where(x > 0, x, -x), "double")
    plan = _table_sql_plan("SELECT plan_branchy(l_quantity) AS b FROM lineitem")
    assert "ArrowEvalPython" in plan


@pytest.mark.parametrize(
    "timeout_ms, root",
    [(0, "Deduplicate"), (None, "FlatMapGroupsInPandasWithState")],
    ids=["exact", "default_timeout"],
)
def test_stream_distinct_exact_retention_is_native_dedup(
    spark, timeout_ms, root
):
    """timeout_ms=0 plans as Spark's streaming Deduplicate (no Python
    worker); the default inactivity timeout keeps the pandas operator."""
    from vinum_spark.streaming import stream_events
    from vinum_spark.streaming.stateful import stream_distinct

    kw = {} if timeout_ms is None else {"timeout_ms": timeout_ms}
    df = stream_distinct(stream_events(spark, f"{SF_DIR}/events.parquet"), **kw)
    assert df._jdf.queryExecution().analyzed().nodeName() == root
