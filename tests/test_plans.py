"""Plan-shape assertions: the scale story. These fail if a filter stops
reaching the parquet scan, a projection stops pruning columns, or the
flagship agg leaves whole-stage codegen."""

from __future__ import annotations

from pyspark.sql import functions as F

from rq_spark.queries import core


def _physical_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _formatted(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    df = core.filter_predicate(spark, sf_dir)
    plan = _formatted(df)
    assert "PushedFilters: [" in plan
    # quantity/discount predicates must appear in the pushed set
    pushed = plan.split("PushedFilters: [", 1)[1].split("]", 1)[0]
    assert "l_quantity" in pushed and "l_discount" in pushed


def test_projection_prunes_columns(spark, sf_dir):
    df = core.project_compute(spark, sf_dir)
    plan = _formatted(df)
    read_schema = plan.split("ReadSchema: ", 1)[1].splitlines()[0]
    # only the 4 referenced columns are read, not all 11
    for col in ("l_orderkey", "l_linenumber", "l_extendedprice", "l_discount", "l_quantity"):
        assert col in read_schema
    for col in ("l_shipdate", "l_returnflag", "l_tax", "l_partkey"):
        assert col not in read_schema


def test_q1_uses_wholestage_codegen_and_partial_agg(spark, sf_dir):
    df = core.q1_pricing_summary(spark, sf_dir)
    df.collect()  # materialize so AQE finalizes the plan
    plan = _physical_plan(df)
    # "*(n)" prefixes mark whole-stage-codegen spans in the plan string
    assert "*(1)" in plan and "*(2)" in plan
    # partial aggregation before the shuffle (map-side combine)
    assert plan.count("HashAggregate") >= 2


def test_sort_limit_is_take_ordered(spark, sf_dir):
    plan = _physical_plan(core.sort_limit(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan, "global sort+limit should not full-sort"


def test_embedding_near_pairs_has_no_nested_loop(spark, sf_dir):
    """Exact all-pairs cosine must run as the block-grid equi-cogroup,
    never as a BroadcastNestedLoopJoin on a_id < b_id (the one join
    shape that cannot distribute: one driver-fed nested loop)."""
    from rq_spark.queries import dedup

    df = dedup.dedup_embedding_cosine(spark, sf_dir)
    plan = _physical_plan(df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "FlatMapCoGroupsInPandas" in plan


def test_curation_trees_evaluated_once_behind_barrier(spark, sf_dir):
    """r8: corpus_curation's expensive lang/quality trees live in ONE
    persisted projection; the keep-filter reads cached columns above
    the InMemoryTableScan. No nondeterministic taint guard remains,
    and each expensive tree appears exactly once in the whole physical
    plan (were the filter inlined+pushed, the trees would print twice:
    once in the filter, once in the project)."""
    from rq_spark.queries import text

    df = text.corpus_curation(spark, sf_dir)
    plan = _physical_plan(df)
    assert "monotonically" not in plan, "the r7 taint hack is back"
    assert "InMemoryTableScan" in plan, "evaluation barrier missing"
    # the quality tree (punct char class) prints exactly once; the lang
    # tree prints per REFERENCE inside one Project (when() shows the
    # argmax struct for condition and value — one evaluation under
    # per-operator CSE), so the invariant there is placement, not count
    assert plan.count("[^.,;:!?]") == 1, "quality tree evaluated more than once"
    # every expensive-tree print sits BELOW the cached relation — the
    # consumer side (filter/window/packing) never re-evaluates them
    i_relation = plan.index("InMemoryRelation")
    assert plan.index(" der ") > i_relation, "lang tree leaked above the barrier"
    assert plan.index("[^.,;:!?]") > i_relation, "quality tree leaked above the barrier"
    # and the keep-filter itself is plain column comparisons
    filter_line = next(
        ln for ln in plan.splitlines() if "Filter " in ln and "lang_guess" in ln
    )
    assert "replace(" not in filter_line and "regexp" not in filter_line


def test_ann_broadcasts_queries_not_corpus(spark, sf_dir):
    """Banded-LSH ANN (r15 fused probe): the corpus streams through
    ONE mapInPandas probe — never exploded ×bands (no Generate), never
    broadcast, never nested-looped, and never hash-shuffled before the
    probe. The driver-sized query vectors ride the probe's broadcast
    variable into the exact JVM cosine, so the plan has no join and no
    broadcast exchange at all."""
    from rq_spark.queries import similarity

    df = similarity.sim_ann_lsh_topk(spark, sf_dir)
    plan = _physical_plan(df)
    assert "MapInPandas" in plan
    assert "Generate" not in plan  # the old posexplode ×bands is gone
    assert "Join" not in plan  # no q_vec attach, no nested loop
    assert "BroadcastExchange" not in plan
    assert "CartesianProduct" not in plan
    # the corpus reaches the Python probe without any hash exchange
    lines = plan.splitlines()
    probe_idx = min(i for i, l in enumerate(lines) if "MapInPandas" in l)
    scan_idx = min(
        i for i, l in enumerate(lines) if i > probe_idx and "Scan" in l
    )
    assert not any(
        "Exchange hashpartitioning" in l
        for l in lines[probe_idx + 1 : scan_idx]
    ), "corpus was shuffled before the ANN probe"


def test_minhash_has_no_nested_loop_and_partial_agg(spark, sf_dir):
    from rq_spark.operators.dedup import minhash_dedup_pairs
    from rq_spark.queries.helpers import table

    df = minhash_dedup_pairs(
        table(spark, sf_dir, "documents"), "text", "doc_id", threshold=0.5
    )
    plan = _physical_plan(df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    # signature agg computes map-side partial minima
    assert plan.count("HashAggregate") >= 2


def test_dedup_text_exact_branch_is_prefix_filtered(spark, sf_dir):
    """The merged dedup_text plan must contain no quadratic fallback:
    no nested-loop/cartesian joins anywhere, and every shingle-keyed
    equi-join must feed the prefix-candidate pipeline (its plan carries
    the positional min(i)/min(j) aggregate), not a raw Σdf² self-join
    of the full posting lists."""
    from rq_spark.queries import dedup

    df = dedup.dedup_text(spark, sf_dir)
    plan = _physical_plan(df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    # the positional filter's min-position aggregate is the marker of
    # the prefix pipeline; the brute self-join has no such aggregate
    assert "min(ia" in plan or "min(ia#" in plan.replace(" ", "") or "i0" in plan


def test_dedup_incremental_probe_shape(spark, sf_dir):
    """Batch-vs-corpus probe: the candidate join must broadcast the
    batch band table (corpus side never shuffles for candidates), and
    nothing may fall back to a nested loop."""
    from rq_spark.queries import dedup

    df = dedup.dedup_incremental(spark, sf_dir)
    plan = _physical_plan(df)
    # the only tolerated nested-loop join is the bloom_stats row's
    # deliberate 1x1 cross of scalar aggregates — every BNLJ in the
    # plan must be that Cross shape, and no row-relation may ever
    # fall back to a nested loop
    for line in plan.splitlines():
        if "BroadcastNestedLoopJoin" in line:
            assert ", Cross" in line, f"non-cross nested loop: {line.strip()}"
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_connected_groups_edges_are_candidate_bounded(spark, sf_dir):
    """The clusters query must generate edges via MinHash-LSH (band-hash
    equi-join), never the quadratic shingle self-join: a join keyed
    solely on `shingle` is the Σdf² verification twin, which cannot
    survive 100×."""
    import re

    from rq_spark.operators import dedup as D
    from rq_spark.queries import dedup
    from rq_spark.queries.helpers import table

    # the key localCheckpoints the shared pairs relation (r14 opt — the
    # six branches re-embedded its plan ~50×, costing seconds of
    # driver-side re-optimization), so the band-hash join is asserted
    # on the SAME builder call the key makes, pre-truncation
    pairs_plan = (
        D.minhash_dedup_pairs(
            table(spark, sf_dir, "documents"),
            "text",
            "doc_id",
            threshold=dedup._JACCARD_T,
        )
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    assert not re.search(
        r"Join \[shingle#\d+L?\], \[shingle#\d+L?\]", pairs_plan
    ), "edge generation fell back to the quadratic shingle self-join"
    assert "bhash" in pairs_plan, "LSH band-hash candidate join missing"

    df = dedup.dedup_connected_groups(spark, sf_dir)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert not re.search(r"Join \[shingle#\d+L?\], \[shingle#\d+L?\]", plan), (
        "edge generation fell back to the quadratic shingle self-join"
    )


def test_embedding_lsh_pairs_candidate_bounded(spark, sf_dir):
    """High-threshold embedding near-dup: candidates must come from a
    (band, bucket) self-equi-join — never a nested loop or cartesian
    pair enumeration."""
    import re

    from rq_spark.queries import dedup

    df = dedup.dedup_embedding_lsh(spark, sf_dir)
    plan = _physical_plan(df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    opt = df._jdf.queryExecution().optimizedPlan().toString()
    join_lines = [ln for ln in opt.splitlines() if "Join Inner" in ln]
    assert any(
        re.search(r"band#\d+ = band#\d+", ln)
        and re.search(r"bucket#\d+ = bucket#\d+", ln)
        for ln in join_lines
    ), "band/bucket equi-join missing from candidate generation"


def test_ivf_broadcasts_queries_not_corpus(spark, sf_dir):
    """IVF ANN search join: cell-id equi-join with the probed query
    side broadcast — the corpus is never broadcast or nested-looped."""
    from rq_spark.queries import similarity

    df = similarity.sim_ann_ivf_topk(spark, sf_dir)
    plan = _physical_plan(df)
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_bucketed_join_has_no_exchange(spark, sf_dir):
    """Big⋈big co-location: identically-bucketed tables join as a
    SortMergeJoin with zero Exchange on either side — the write-once
    shuffle that every downstream join on the key then skips."""
    from rq_spark import bucketing

    o = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        F.col("l_orderkey").alias("o_orderkey"), "l_quantity"
    )
    spark.sql("CREATE DATABASE IF NOT EXISTS bktest")
    try:
        bucketing.write_bucketed(o, "bktest.orders_b", "o_orderkey", buckets=4)
        bucketing.write_bucketed(li, "bktest.lineitem_b", "o_orderkey", buckets=4)
        thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            j = spark.table("bktest.orders_b").join(
                spark.table("bktest.lineitem_b"), "o_orderkey"
            )
            assert j.count() > 0
            plan = _physical_plan(j)
            assert "SortMergeJoin" in plan
            assert "Exchange" not in plan, "bucketed join still shuffles"
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)
    finally:
        spark.sql("DROP DATABASE IF EXISTS bktest CASCADE")


def test_spread_gates_on_file_count_not_rdd(spark, sf_dir):
    """r6: spread() must not force a plan->RDD conversion to measure
    scan width — it gates on the scan's file count (r5 judge note)."""
    import inspect

    from pyspark.sql import functions as F

    from rq_spark.util import spread

    src = inspect.getsource(spread)
    assert ".rdd" not in src
    d = spread(spark.read.parquet(f"{sf_dir}/documents.parquet"))
    # single local file -> widened to the session's parallelism
    assert "Exchange RoundRobinPartitioning" in _physical_plan(d)
    assert d.count() > 0


def test_bloom_probe_corpus_reaches_bit_test_without_exchange(spark, sf_dir):
    """The bloom prefilter's scale contract: corpus grams flow from
    the scan to the bit-test filter with NO exchange (per-doc
    array_distinct + inline literal-array probe), and the exact
    verify joins are broadcast (survivors and eval side are the small
    relations). The only exchanges in the pair plan belong to the
    final (train, eval) count aggregation."""
    from rq_spark.operators.dedup import bloom_decontaminate

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pairs, stats = bloom_decontaminate(
        docs.filter(F.col("doc_id") % 11 != 0),
        docs.filter(F.col("doc_id") % 11 == 0),
        "text",
        "doc_id",
        n=5,
    )
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    lines = plan.splitlines()
    # r14: grams are never shuffled at all — the old shape's one
    # tolerated gram exchange (the survivors distinct) is gone, since
    # the pairs path filters the probed stream directly instead of
    # re-deriving the gram relation and semi-joining the survivors
    gram_ex = [i for i, l in enumerate(lines) if "Exchange hashpartitioning(gram" in l]
    assert not gram_ex, f"unexpected gram shuffles: {len(gram_ex)}"
    # the probe side (first bit-test filter in print order) reaches
    # its corpus scan with no hash exchange in between — only
    # spread()'s RoundRobin local-input fix may appear
    probe_idx = min(i for i, l in enumerate(lines) if "Filter" in l and "shiftright" in l)
    scan_idx = min(i for i, l in enumerate(lines) if i > probe_idx and "FileScan" in l)
    between = lines[probe_idx + 1 : scan_idx]
    assert not any("Exchange hashpartitioning" in l for l in between), (
        "corpus grams were hash-shuffled before the bloom bit test"
    )


def test_dsir_weight_is_single_scan_expression(spark, sf_dir):
    """DSIR scoring is pure expression work: one scan of documents, no
    exchange, no Python (the model is a literal map)."""
    from rq_spark.operators.text import dsir_model, dsir_weight
    from rq_spark.operators.dedup import normalize_text

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    model = dsir_model(docs, "text", F.col("lang") == "en", buckets=64)
    scored = docs.select(
        "doc_id",
        dsir_weight(
            model, F.split(normalize_text(F.col("text")), " ")
        ).alias("w"),
    )
    plan = scored._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert plan.count("ReadSchema") == 1  # exactly one scan
    assert "PythonUDF" not in plan and "ArrowEval" not in plan


def _uncached_scans(node) -> int:
    """File scans reachable WITHOUT crossing a cache boundary — a tree
    walk, because toString() re-prints every cached plan at each of
    its consumers, making textual FileScan counts meaningless."""
    name = node.nodeName()
    if name.startswith("InMemoryTableScan"):
        return 0
    n = 1 if ("Scan" in name and "InMemory" not in name) else 0
    if name == "AdaptiveSparkPlan":
        return n + _uncached_scans(node.initialPlan())
    ch = node.children()
    for i in range(ch.size()):
        n += _uncached_scans(ch.apply(i))
    return n


def test_dedup_text_single_shared_tokenization(spark, sf_dir):
    """r8: every dedup_text branch (exact, bundle shingles, span
    windows, excision) reads the ONE persisted tokenized relation —
    no branch re-scans the parquet or re-runs the normalize regex
    outside the shared caches."""
    from rq_spark.queries import dedup

    df = dedup.dedup_text(spark, sf_dir)
    assert _uncached_scans(df._jdf.queryExecution().executedPlan()) == 0


def test_dedup_incremental_single_shared_tokenization(spark, sf_dir):
    """r8: all four dedup_incremental branches (probe corpus/batch,
    decontam and bloom train/eval) read filters of the ONE persisted
    tokenization — no uncached corpus scan anywhere in the plan."""
    from rq_spark.queries import dedup

    df = dedup.dedup_incremental(spark, sf_dir)
    assert _uncached_scans(df._jdf.queryExecution().executedPlan()) == 0


def test_curation_single_shared_tokenization(spark, sf_dir):
    """r8: corpus_curation's scoring projection reads the persisted
    tokenization (the LM/DSIR model scans consumed it at train time);
    the consumer plan contains no uncached corpus scan."""
    from rq_spark.queries import text

    df = text.corpus_curation(spark, sf_dir)
    assert _uncached_scans(df._jdf.queryExecution().executedPlan()) == 0


def test_bm25_probe_broadcasts_into_corpus(spark, sf_dir):
    """BM25's query probe must reach the tf relation as a broadcast
    hash join — the corpus-sized posting side never shuffles for the
    probe (the per-term df and per-query term sets ride the small
    side). The unavoidable shuffles are the index-build groupBys."""
    from rq_spark.operators.retrieval import bm25_topk

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    df = bm25_topk(docs, "text", "doc_id", ["hash join", "vector"], k=5)
    df.collect()  # AQE finalizes join strategies
    plan = df._jdf.queryExecution().executedPlan().toString()
    plan = plan.split("== Initial Plan ==", 1)[0]  # AQE final plan only
    assert "BroadcastHashJoin" in plan
    # the only nested-loop join allowed is the broadcast CROSS join
    # that ships the 1-row (N, total_len) stats aggregate
    assert plan.count("BroadcastNestedLoopJoin") == 1
    assert "BuildRight, Cross" in plan
    assert "CartesianProduct" not in plan


def test_funnel_step_scans_are_type_filtered(spark, sf_dir):
    """Each funnel level reads ONLY its step's event type: the
    event_type equality predicate must reach every parquet scan
    (pushdown), so a deep funnel over a large corpus reads per-type
    fractions, not the whole stream per level."""
    from rq_spark.operators.funnel import funnel_levels

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    df = funnel_levels(ev, ["view", "click", "purchase"], "1 hour")
    plan = _formatted(df)
    pushed = [
        seg.split("]", 1)[0]
        for seg in plan.split("PushedFilters: [")[1:]
    ]
    typed = [p for p in pushed if "event_type" in p]
    assert len(typed) >= 3, pushed


def test_key_skew_report_is_single_scan(spark, sf_dir):
    """All analyzed key columns profile off ONE table scan (the map
    explode), not one scan per column."""
    from rq_spark.operators.profiling import key_skew_report

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    df = key_skew_report(li, ["l_orderkey", "l_suppkey", "l_partkey"])
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    plan = plan.split("== Initial Plan ==", 1)[0]  # AQE final plan only
    assert plan.count("Scan parquet") == 1


def test_mm_real_decode_is_one_fused_python_stage(spark, sf_dir):
    """The multimodal decode key runs EVERY codec kernel inside ONE
    MapInPandas (r9 fusion). The previous 29-stage chain held 29
    Python worker processes per task slot (each re-importing
    pandas/numpy) and re-shipped every surviving binary column through
    Arrow at every stage boundary — a regression back to chaining
    multiplies both."""
    from rq_spark.queries.dedup import mm_real_decode

    df = mm_real_decode(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInPandas") == 1
    assert plan.count("ArrowEvalPython") == 0
    assert plan.count("BatchEvalPython") == 0
