"""Dedup operators: LSH pipelines must agree with exact ground truth."""

from __future__ import annotations

from rq_spark.operators import dedup as D
from rq_spark.queries import dedup as DQ
from rq_spark.queries.helpers import table

SF = "/root/testdata/sf0.01"  # documents table is small; planted dups live here
JACCARD_T = 0.5  # the catalog's dedup_text threshold


def _pairs(df):
    return {(r.a_id, r.b_id) for r in df.select("a_id", "b_id").collect()}


def _ngram_pairs(spark):
    return D.ngram_jaccard_pairs(
        table(spark, SF, "documents"), "text", "doc_id", threshold=JACCARD_T
    )


def test_minhash_lsh_equals_exact_jaccard(spark):
    exact = _pairs(_ngram_pairs(spark))
    lsh = _pairs(D.minhash_dedup_pairs(
        table(spark, SF, "documents"), "text", "doc_id", threshold=JACCARD_T
    ))
    assert len(exact) > 0, "test corpus should contain planted near-dups"
    # 32 bands x 4 rows → P(miss) ≈ 5e-8 per true pair; exact-verify
    # removes false positives, so the sets must be identical here.
    assert lsh == exact


def test_simhash_finds_most_planted_dups(spark):
    from rq_spark.operators.dedup import simhash_near_pairs

    exact = _pairs(_ngram_pairs(spark))
    sim = simhash_near_pairs(
        table(spark, SF, "documents"), "text", "doc_id", max_hamming=3
    ).collect()
    simp = {(r.a_id, r.b_id) for r in sim}
    assert all(r.hamming <= 3 for r in sim)
    # different similarity notion (token multiset vs 3-gram sets):
    # expect substantial but not perfect agreement
    assert len(exact & simp) >= len(exact) // 2


def test_simhash_assertion_query_flags_true(spark):
    """The catalog's dedup_simhash emits the assertions the oracle
    expects — both flags must genuinely hold on the corpus."""
    [row] = DQ.dedup_simhash(spark, SF).collect()
    assert row.n_exact_pairs > 0
    assert row.hamming_within_radius is True
    assert row.recall_ge_half is True


def test_exact_dedup_partitions_corpus(spark):
    total = table(spark, SF, "documents").count()
    groups = D.exact_dedup_groups(
        table(spark, SF, "documents"), "text", "doc_id"
    ).collect()
    assert sum(r.n_dups for r in groups) == total
    assert all(r.n_dups >= 1 for r in groups)


def test_jaccard_values_bounded(spark):
    rows = _ngram_pairs(spark).collect()
    assert all(0.5 <= r.jaccard <= 1.0 for r in rows)


def test_prefix_filter_is_lossless_vs_brute_self_join(spark):
    """The All-Pairs/PPJoin prefix+positional filter must reproduce
    the brute Σdf² self-join EXACTLY — same pairs, same jaccard
    values — at two thresholds (0.5 and a non-dyadic 0.7 exercising
    the ⌈t·n⌉ float guards) under BOTH token orders (df and hash).
    Also asserts the filter actually prunes: candidate pairs from
    prefix tokens < candidate pairs from all tokens."""
    from rq_spark.operators.dedup import (
        ngram_jaccard_pairs,
        prefix_filter_candidates,
        shingle_sets,
        verify_jaccard_arrays,
    )

    docs = table(spark, SF, "documents")
    sets = (
        shingle_sets(docs, "text", "doc_id")
        .filter(DQ.F.size("sh_arr") > 0)
        .persist()
    )
    try:
        for t in (0.5, 0.7):
            brute = {
                (r.a_id, r.b_id): r.jaccard
                for r in ngram_jaccard_pairs(
                    docs, "text", "doc_id", threshold=t, prefix_filter=False
                ).collect()
            }
            assert len(brute) > 0
            for order in ("df", "hash"):
                cand = prefix_filter_candidates(sets, t, order=order)
                fast = {
                    (r.a_id, r.b_id): r.jaccard
                    for r in verify_jaccard_arrays(cand, sets, t).collect()
                }
                assert fast == brute, (
                    f"prefix filter lost/invented pairs at t={t} order={order}"
                )

        n_pruned = prefix_filter_candidates(sets, 0.5).count()
        sh = sets.select("doc", DQ.F.explode("sh_arr").alias("shingle"))
        a = sh.select(DQ.F.col("doc").alias("a_id"), "shingle")
        b = sh.select(DQ.F.col("doc").alias("b_id"), "shingle")
        n_all = (
            a.join(b, "shingle")
            .filter(DQ.F.col("a_id") < DQ.F.col("b_id"))
            .select("a_id", "b_id")
            .distinct()
            .count()
        )
        assert n_pruned < n_all, "prefix filter generated no pruning benefit"
    finally:
        sets.unpersist()


def test_incremental_dedup_equals_cross_side_exact(spark):
    """Batch-vs-corpus probe must find exactly the cross-parity subset
    of the exact Jaccard pairs (LSH miss probability is measure-zero
    at the catalog parameters), and the candidate probe must broadcast
    the batch band table — the corpus side never shuffles for
    candidate generation."""
    from rq_spark.operators.dedup import (
        incremental_minhash_pairs,
        ngram_jaccard_pairs,
    )

    docs = table(spark, SF, "documents")
    got = {
        (r.new_id, r.corpus_id): round(r.jaccard, 9)
        for r in incremental_minhash_pairs(
            docs.filter(DQ.F.col("doc_id") % 2 == 0),
            docs.filter(DQ.F.col("doc_id") % 2 == 1),
            "text",
            "doc_id",
        ).collect()
    }
    exact = ngram_jaccard_pairs(docs, "text", "doc_id").collect()
    want = {}
    for r in exact:
        a, b = r.a_id, r.b_id
        if a % 2 != b % 2:  # cross-parity only, keyed (odd, even)
            k = (a, b) if a % 2 == 1 else (b, a)
            want[k] = round(r.jaccard, 9)
    assert len(want) > 0, "test corpus should contain cross-parity dups"
    assert got == want

    plan = incremental_minhash_pairs(
        docs.filter(DQ.F.col("doc_id") % 2 == 0),
        docs.filter(DQ.F.col("doc_id") % 2 == 1),
        "text",
        "doc_id",
    )._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_repeated_spans_exact_positions(spark):
    """Known repeated passage: an 8-word run embedded in two docs at
    different offsets yields exactly the window positions covering it
    in both docs; unique text yields nothing."""
    from rq_spark.operators.dedup import repeated_spans

    passage = "p1 p2 p3 p4 p5 p6 p7 p8 p9"  # 9 words -> two 8-windows
    docs = spark.createDataFrame(
        [
            (1, f"a b c {passage} x y"),       # passage at positions 4..5
            (2, f"{passage} q r s t"),          # passage at positions 1..2
            (3, "entirely different words only here nothing shared at all"),
        ],
        "doc_id long, text string",
    )
    got = {
        (r.doc_id, r.pos): r.n_docs
        for r in repeated_spans(docs, "text", "doc_id", n=8).collect()
    }
    assert got == {(1, 4): 2, (1, 5): 2, (2, 1): 2, (2, 2): 2}

    # severity: a window in three docs reports n_docs=3
    docs3 = spark.createDataFrame(
        [(i, passage) for i in range(3)], "doc_id long, text string"
    )
    got3 = {r.n_docs for r in repeated_spans(docs3, "text", "doc_id", n=8).collect()}
    assert got3 == {3}


def test_decontaminate_hand_built_overlap(spark):
    """Known contamination: a train doc embedding an eval doc's 5-gram
    run is flagged with the exact shared-gram count; disjoint docs and
    sub-threshold overlap are not."""
    from rq_spark.operators.dedup import decontaminate

    train = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta eta theta"),  # 4 shared 5-grams
            (2, "one two three four five six"),                    # disjoint
            (3, "x alpha beta gamma delta epsilon y z"),           # exactly 1
        ],
        "doc_id long, text string",
    )
    ev = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon zeta eta theta")],
        "doc_id long, text string",
    )
    got = {
        (r.train_id, r.eval_id): r.n_shared
        for r in decontaminate(train, ev, "text", "doc_id", n=5).collect()
    }
    assert got == {(1, 100): 4, (3, 100): 1}

    # min_overlap raises the severity floor
    got2 = {
        r.train_id
        for r in decontaminate(train, ev, "text", "doc_id", n=5, min_overlap=2).collect()
    }
    assert got2 == {1}

    # scale shape: the eval side must be the broadcast build side
    plan = (
        decontaminate(train, ev, "text", "doc_id", n=5)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan


def test_connected_components_chain_and_nonconvergence(spark, label_tier):
    """The loop tier (forced): a path converges to its minimum, and
    max_iter rounds short of the diameter raise."""
    import pytest

    from rq_spark.errors import IllegalStateError
    from rq_spark.operators.dedup import connected_components

    # path graph 0-1-2-...-5: one component, diameter 5
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(5)], "a_id long, b_id long"
    )
    nodes = spark.createDataFrame([(i,) for i in range(7)], "node long")
    with label_tier("loop"):
        got = {
            (r.node, r.rep)
            for r in connected_components(edges, nodes).collect()
        }
    assert got == {(i, 0) for i in range(6)} | {(6, 6)}

    # unconverged labels must raise, never be returned silently
    with label_tier("loop"):
        with pytest.raises(IllegalStateError, match="converge"):
            connected_components(edges, nodes, max_iter=2).collect()


def _cc_reference(edges, nodes):
    """Plain-Python min-label components by BFS: every non-NULL
    endpoint and every non-NULL node, each labelled with the smallest
    id it reaches."""
    adj: dict = {}
    for a, b in edges:
        for x, y in ((a, b), (b, a)):
            if x is not None:
                adj.setdefault(x, set())
                if y is not None:
                    adj[x].add(y)
    todo = set(adj) | {v for v in nodes or () if v is not None}
    out = []
    while todo:
        comp, stack = set(), [min(todo)]
        while stack:
            x = stack.pop()
            if x not in comp:
                comp.add(x)
                stack.extend(adj.get(x, ()))
        out += [(x, min(comp)) for x in comp]
        todo -= comp
    return sorted(out)


def _random_graph(seed):
    """Disconnected clusters over ids 0..39 plus duplicate edges,
    self-loops, NULL endpoints, endpoints missing from the node set
    and edgeless nodes (a NULL node on even seeds)."""
    import random

    rng = random.Random(seed)
    ids = rng.sample(range(40), 24)
    edges = []
    for lo in range(0, 24, 6):  # four candidate clusters of six ids
        grp = ids[lo:lo + 6]
        edges += [tuple(rng.sample(grp, 2)) for _ in range(rng.randint(0, 5))]
    edges += rng.sample(edges, min(3, len(edges)))  # duplicates
    edges += [(x, x) for x in rng.sample(ids, 2)]  # self-loops
    edges += [(rng.choice(ids), None), (None, rng.choice(ids)), (None, None)]
    rng.shuffle(edges)
    nodes = rng.sample(ids, 16) + rng.sample(range(40, 50), 3)
    if seed % 2 == 0:
        nodes.append(None)
    return edges, nodes


def test_connected_components_tiers_match_reference(spark, label_tier):
    """Both tiers of connected_components return exactly the rows of a
    plain-Python BFS on degenerate and random graphs: self-loop-only
    endpoints and the non-NULL end of a NULL edge are labelled, NULL
    is never a node, nodes missing from the edges come back as
    singletons, endpoints missing from ``nodes`` still get labels, and
    ``nodes`` None means the endpoints. The loop tier is checked here
    against an independent answer, not against the driver tier."""
    from rq_spark.operators.dedup import connected_components
    from rq_spark.util import local_frame

    cases = [
        ([(1, 2), (3, None), (5, 5)], [1, 2, 4]),
        ([], [3, 1, None]),
        ([], None),
        ([(7, 7), (None, 8)], None),
        *(_random_graph(seed) for seed in range(4)),
        (_random_graph(4)[0], None),
    ]
    for edges, nodes in cases:
        want = _cc_reference(edges, nodes)
        e = local_frame(spark, edges, "a_id long, b_id long")
        n = None if nodes is None else local_frame(
            spark, [(v,) for v in nodes], "node long"
        )
        for tier in ("graph", "loop"):
            with label_tier(tier):
                got = sorted(
                    (r.node, r.rep)
                    for r in connected_components(e, n, scope="cc_ref").collect()
                )
            assert got == want, (tier, edges, nodes)


def test_connected_components_long_path_diameter_30(spark, label_tier):
    """Worst-case geometry for min-label propagation: a 31-node path
    (diameter 30) with shuffled ids, so labels must travel the full
    chain and the minimum sits at an arbitrary position. Converges
    within max_iter = diameter + margin and labels every node with the
    component minimum (the loop tier, forced)."""
    import random

    from rq_spark.operators.dedup import connected_components

    rng = random.Random(7)
    ids = list(range(1000, 1031))
    rng.shuffle(ids)
    edges = spark.createDataFrame(
        [(ids[i], ids[i + 1]) for i in range(30)], "a_id long, b_id long"
    )
    nodes = spark.createDataFrame([(i,) for i in ids], "node long")
    with label_tier("loop"):
        got = {
            (r.node, r.rep)
            for r in connected_components(edges, nodes, max_iter=35).collect()
        }
    assert got == {(i, min(ids)) for i in ids}


def test_persist_registry_is_scope_isolated(spark):
    """Pipeline B's cache cleanup must not unpersist pipeline A's
    still-lazy working set (the r2-r4 global-registry hazard, fixed r5
    with per-pipeline scopes)."""
    from rq_spark.util import persist_tracked, release_caches

    a = persist_tracked(spark.range(10), scope="_test_pipeA")
    b = persist_tracked(spark.range(5), scope="_test_pipeB")
    try:
        release_caches("_test_pipeB")
        assert a.storageLevel.useMemory, "scope B release unpersisted scope A"
        assert not b.storageLevel.useMemory
    finally:
        release_caches("_test_pipeA")
    assert not a.storageLevel.useMemory


def test_token_hash_vectors_match_python_reference(spark):
    """The hashing-trick featurizer anchors dedup_embedding_lsh's
    oracle agreement: pin its bucketing (md5 % dim), 3-gram
    construction, short-doc exclusion, and dense assembly against a
    direct Python reference on adversarial texts."""
    import hashlib as _h
    import re as _re

    from rq_spark.operators.text import token_hash_vectors

    texts = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox jumps over the lazy dog"),  # exact dup
        (2, "  the   quick\tbrown\nfox  "),  # whitespace noise, 4 words
        (3, "one two"),          # < 3 words -> no 3-grams -> excluded
        (4, ""),                 # empty -> excluded
        (5, "a b c a b c a b c"),  # repeated grams -> counts > 1
    ]
    df = spark.createDataFrame(texts, "doc_id long, text string")
    got = {
        r.doc_id: list(r.embedding)
        for r in token_hash_vectors(df, "text", "doc_id", dim=32, ngram=3).collect()
    }

    def ref(t, dim=32, n=3):
        words = _re.sub(r"\s+", " ", t.lower()).strip(" ").split(" ")
        grams = [" ".join(words[i : i + n]) for i in range(len(words) - n + 1)]
        v = [0.0] * dim
        for g in grams:
            v[int(_h.md5(g.encode()).hexdigest()[:4], 16) % dim] += 1.0
        return v

    assert set(got) == {0, 1, 2, 5}, "short/empty docs must be excluded"
    for i, t in texts:
        if i in got:
            assert got[i] == ref(t), f"doc {i} vector mismatch"
    assert got[0] == got[1]
    assert sum(got[5]) == 7.0  # 9 words -> 7 grams incl. repeats


def test_bloom_decontaminate_equals_exact(spark, sf_dir):
    """The bloom-prefiltered path must produce EXACTLY the plain
    decontaminate result (no false negatives + exact verify), while
    the stats row proves the filter actually prunes."""
    from pyspark.sql import functions as F

    from rq_spark.operators.dedup import bloom_decontaminate, decontaminate

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    train = docs.filter(F.col("doc_id") % 11 != 0)
    ev = docs.filter(F.col("doc_id") % 11 == 0)

    exact = {
        (r.train_id, r.eval_id): r.n_shared
        for r in decontaminate(train, ev, "text", "doc_id", n=5).collect()
    }
    pairs, stats = bloom_decontaminate(train, ev, "text", "doc_id", n=5)
    got = {(r.train_id, r.eval_id): r.n_shared for r in pairs.collect()}
    assert got == exact

    s = stats.collect()[0]
    assert s["n_passed"] <= s["n_probed"]
    # every truly-shared gram survives, so passed >= the shared-gram count;
    # and with m=65536 bits over a few thousand eval grams the false-positive
    # rate must keep the pass-through small
    assert s["n_passed"] < 0.1 * s["n_probed"]
    assert s["n_eval"] > 0


def test_bloom_decontaminate_tiny_filter_degrades_to_exact(spark):
    """With a deliberately tiny filter (m=64, so false positives are
    rampant) the result still equals exact — the bloom pass is
    pruning-only, never correctness-bearing — and no truly-shared gram
    is ever pruned."""
    from rq_spark.operators.dedup import bloom_decontaminate, decontaminate

    train = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta eta theta"),
            (2, "one two three four five six"),
            (3, "x alpha beta gamma delta epsilon y z"),
        ],
        "doc_id long, text string",
    )
    ev = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon zeta eta theta")],
        "doc_id long, text string",
    )
    exact = {
        (r.train_id, r.eval_id): r.n_shared
        for r in decontaminate(train, ev, "text", "doc_id", n=5).collect()
    }
    pairs, stats = bloom_decontaminate(train, ev, "text", "doc_id", n=5, m_bits=64)
    got = {(r.train_id, r.eval_id): r.n_shared for r in pairs.collect()}
    assert got == exact
    s = stats.collect()[0]
    # 4 distinct grams are truly shared (train1's four, one of which is
    # also train3's single overlap) — all must survive the prefilter
    assert 4 <= s["n_passed"] <= s["n_probed"]


def test_excise_spans_hand_built(spark):
    """Known repeated passage: the shared 8-token run is cut from both
    carriers, untouched docs are absent, and the cleaned text is the
    exact remaining-token join."""
    from pyspark.sql import functions as F  # noqa: F401

    from rq_spark.operators.dedup import excise_spans, repeated_spans

    shared = "one two three four five six seven eight"
    docs = spark.createDataFrame(
        [
            (1, f"aa bb {shared} cc dd"),
            (2, f"xx {shared} yy zz qq"),
            (3, "totally different words with no overlap at all kept intact"),
        ],
        "doc_id long, text string",
    )
    spans = repeated_spans(docs, "text", "doc_id", n=8)
    got = {
        r["doc_id"]: (r["n_removed"], r["n_kept"], r["clean_text"])
        for r in excise_spans(docs, spans, "text", "doc_id", n=8).collect()
    }
    assert got == {
        1: (8, 4, "aa bb cc dd"),
        2: (8, 4, "xx yy zz qq"),
    }


def test_excise_spans_overlapping_windows_and_full_excision(spark):
    """Overlapping repeated windows union their covered positions; a
    doc that is ONE big repeated run excises to the empty string."""
    from rq_spark.operators.dedup import excise_spans, repeated_spans

    nine = "w1 w2 w3 w4 w5 w6 w7 w8 w9"  # 9 tokens -> two 8-windows
    docs = spark.createDataFrame(
        [
            (1, nine),                    # fully covered by both windows
            (2, f"intro {nine} outro"),   # the 9-token run is cut, rest kept
        ],
        "doc_id long, text string",
    )
    spans = repeated_spans(docs, "text", "doc_id", n=8)
    got = {
        r["doc_id"]: (r["n_removed"], r["clean_text"])
        for r in excise_spans(docs, spans, "text", "doc_id", n=8).collect()
    }
    assert got == {1: (9, ""), 2: (9, "intro outro")}


def test_bloom_misaligned_width_raises(spark):
    """ADVICE r7: a non-64-multiple filter width must raise ValueError
    (an assert is stripped under python -O and would silently corrupt
    word indexing)."""
    import pytest

    from rq_spark.operators.dedup import bloom_decontaminate

    df = spark.createDataFrame([(1, "a b c d e f")], "doc_id long, text string")
    with pytest.raises(ValueError, match="multiple of 64"):
        bloom_decontaminate(df, df, "text", "doc_id", m_bits=100)


def test_connected_components_reliable_checkpoint_branch(
    spark, tmp_path, label_tier
):
    """r8 (r7 verdict task #8): with a checkpoint dir set, the
    RELIABLE-checkpoint branch of connected_components' loop tier
    (forced) runs (the
    fault-tolerant choice on a real cluster), produces identical
    components, and each round's plan is lineage-truncated (the
    per-round relation scans the checkpoint, not a per-iteration
    deepening join tree)."""
    from rq_spark.operators.dedup import connected_components

    sc = spark.sparkContext
    assert sc.getCheckpointDir() is None  # test env default: local branch
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 23)],
        "a_id long, b_id long",
    )
    nodes = spark.createDataFrame(
        [(n,) for n in (1, 2, 3, 10, 11, 20, 21, 22, 23, 99)], "node long"
    )
    with label_tier("loop"):
        want = {
            (r.node, r.rep) for r in connected_components(edges, nodes).collect()
        }
    sc.setCheckpointDir(str(tmp_path / "ckpt"))
    try:
        with label_tier("loop"):
            got_df = connected_components(edges, nodes)
            got = {(r.node, r.rep) for r in got_df.collect()}
        assert got == want
        assert {r for r in got if r[0] in (20, 21, 22, 23)} == {
            (20, 20), (21, 20), (22, 20), (23, 20)
        }
        assert (99, 99) in got
        # reliable checkpoint files were actually written
        import os

        ckpt_root = str(tmp_path / "ckpt")
        found = any(files for _, _, files in os.walk(ckpt_root))
        assert found, "no reliable checkpoint data written"
    finally:
        # clear so later tests see the default local-checkpoint branch
        getattr(sc._jsc.sc(), "checkpointDir_$eq")(
            sc._jvm.scala.Option.apply(None)
        )
        assert sc.getCheckpointDir() is None


def test_checkpoint_adaptive_picks_reliable_with_dir(spark, tmp_path):
    """r15 (r14 verdict #8): the query-layer lineage truncations
    (connected-groups pairs/labels, append_labels delta) route through
    util.checkpoint_adaptive — executor-local in local mode, RELIABLE
    checkpoint when the app sets a checkpoint dir, so an executor loss
    on a cluster recomputes from storage instead of failing the job."""
    import os

    from rq_spark.util import checkpoint_adaptive

    sc = spark.sparkContext
    assert sc.getCheckpointDir() is None
    df = spark.range(0, 100, 1, 4).selectExpr("id", "id * 2 AS v")
    local = checkpoint_adaptive(df)
    assert local.count() == 100
    sc.setCheckpointDir(str(tmp_path / "ck_adaptive"))
    try:
        rel = checkpoint_adaptive(df)
        assert rel.count() == 100
        root = str(tmp_path / "ck_adaptive")
        assert any(files for _, _, files in os.walk(root)), (
            "no reliable checkpoint data written with a dir set"
        )
    finally:
        getattr(sc._jsc.sc(), "checkpointDir_$eq")(
            sc._jvm.scala.Option.apply(None)
        )
        assert sc.getCheckpointDir() is None


def test_minhash_index_probe_matches_inquery_and_reads_bucketed(spark, tmp_path):
    """r9 (r8 verdict task #3): the persisted band index — write the
    corpus LSH index as bucketed tables once, probe a batch against it,
    get EXACTLY the in-query operator's pairs; in the non-broadcast
    probe the corpus band table must read zero-Exchange from its
    (band, bhash) bucketing while only the batch side shuffles — the
    daily-ingest shape at 100 TB."""
    from rq_spark.operators.dedup import (
        incremental_minhash_pairs,
        incremental_minhash_pairs_from_index,
        write_minhash_index,
    )

    docs = table(spark, SF, "documents")
    corpus = docs.filter(DQ.F.col("doc_id") % 2 == 0)
    batch = docs.filter(DQ.F.col("doc_id") % 2 == 1)
    base = "t_mh_index"
    try:
        write_minhash_index(corpus, "text", "doc_id", base)
        want = {
            (r.new_id, r.corpus_id): round(r.jaccard, 9)
            for r in incremental_minhash_pairs(
                corpus, batch, "text", "doc_id"
            ).collect()
        }
        got_df = incremental_minhash_pairs_from_index(
            spark, batch, "text", "doc_id", base
        )
        got = {
            (r.new_id, r.corpus_id): round(r.jaccard, 9)
            for r in got_df.collect()
        }
        assert len(want) > 0 and got == want

        # broadcast probe: corpus bands never shuffle
        plan = got_df._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan

        # non-broadcast probe (batch outgrew the broadcast budget):
        # the candidate join must consume the table's bucketing —
        # bucketed scan on the corpus side, Exchange ONLY on the batch
        # side of that join. Kill auto-broadcast so the tiny test batch
        # actually exercises the big-batch shuffle shape.
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        # FileScan metadata (Bucketed/SelectedBucketsCount) prints near
        # the line end — keep the default field cap from truncating it
        spark.conf.set("spark.sql.debug.maxToStringFields", "1000")
        big_df = incremental_minhash_pairs_from_index(
            spark, batch, "text", "doc_id", base, broadcast_batch=False
        )
        big_df.collect()  # AQE finalizes the plan only after an action
        # NOTE: cached InMemoryRelations embed their own NESTED
        # "== Initial Plan ==" markers deep in the tree, so split on
        # the OUTER marker only — the one at column 0
        plan = (
            big_df._jdf.queryExecution().executedPlan().toString()
            .split("\n+- == Initial Plan ==")[0]
        )
        assert "Bucketed: true" in plan, "corpus bands not bucket-read"
        assert "SelectedBucketsCount" in plan
        assert "SortMergeJoin [band" in plan, "probe should bucket-merge-join"
        scan_lines = [
            ln for ln in plan.splitlines()
            if "Scan parquet" in ln and "_bands" in ln
        ]
        assert scan_lines, "corpus band table scan missing"
        # zero-Exchange corpus side: exactly ONE Exchange
        # hashpartitioning(band, bhash) in the final plan — the batch
        # side shuffling INTO the table's bucket layout; a second one
        # would mean the bucketed corpus scan got re-shuffled
        import re

        band_ex = re.findall(r"Exchange hashpartitioning\(band", plan)
        assert len(band_ex) == 1, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
        spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
        for t in (f"{base}_bands", f"{base}_shingles", f"{base}_meta",
                  f"{base}_state", f"{base}_tombstones"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_simhash_uint16_kernel_matches_scalar_reference(monkeypatch):
    """The batched vote kernel must reproduce the original per-text
    uint64 kernel bit-for-bit — including empty/whitespace texts,
    None, repeated tokens (multiset votes), astral-plane unicode, a
    70k-token text (well past any Arrow batch norm), and BOTH
    alternate code paths: the byte-histogram branch (T·V over the
    dense-matrix bound) and the giant-text reference fallback, each
    forced by lowering its threshold — a real 2^23-token fallback
    input would need a ~4 GB bit matrix just to check."""
    import random

    from rq_spark.operators import dedup as DD
    from rq_spark.operators.dedup import (
        _simhash64_batch,
        _simhash64_batch_ref,
    )

    rng = random.Random(7)
    words = ["w%d" % i for i in range(500)] + ["émoji🌍", "Ω≈ç", "𝔘𝔫𝔦"]
    texts = [None, "", "   ", "one", "dup dup dup dup", "a b a b a"]
    for _ in range(200):
        n = rng.choice([1, 2, 3, 17, 64, 65, 300])
        texts.append(" ".join(rng.choice(words) for _ in range(n)))
    got = list(_simhash64_batch(texts))
    want = _simhash64_batch_ref(texts)
    assert got == want
    giant = [" ".join(rng.choice(words) for _ in range(70_000)), "x y"]
    assert list(_simhash64_batch(giant)) == _simhash64_batch_ref(giant)
    # force the giant-text fallback branch (reference per-text path)
    monkeypatch.setattr(DD, "_FLOAT32_SAFE_TOKENS", 64)
    assert list(_simhash64_batch(texts)) == want
    monkeypatch.undo()
    # force the byte-histogram branch by shrinking the dense T*V bound
    monkeypatch.setattr(DD, "_DENSE_COUNTS_MAX", 1)
    assert list(_simhash64_batch(texts)) == want
    monkeypatch.undo()
    # force the dense path to run one-or-two-texts-per-slab bincounts
    # (r11, ADVICE r10: the slabbed counting that bounds the int64
    # bincount intermediate) — 1024 still admits this corpus's ~500
    # distinct tokens (so the dense path runs, not the byte-histogram
    # reroute) while slab_t collapses to 1-2 texts per slab; row
    # blocks assembled across ~100+ slabs must equal the
    # single-bincount result
    monkeypatch.setattr(DD, "_DENSE_BINCOUNT_SLAB", 1024)
    assert list(_simhash64_batch(texts)) == want
    monkeypatch.undo()
    # vocabulary wider than one slab: the dense path's int64 bound
    # would be void (a single text's slab is V entries), so the batch
    # must reroute to the vocabulary-independent byte-histogram path
    # and still match
    monkeypatch.setattr(DD, "_DENSE_BINCOUNT_SLAB", 8)
    assert list(_simhash64_batch(texts)) == want


def test_simhash_vote_kernel_outruns_scalar_reference():
    """Load-immune throughput floor (the test_cdc.py pattern): the
    batched vote kernel must beat the per-text uint64 unpack/vote/pack
    reference by ≥2x on the SAME token-hash input (the kernel boundary
    the r9 verdict flagged — measured ~10x; tokenization is shared by
    both paths and excluded, exactly as test_cdc compares scan kernels
    on the same bytes). Interleaved best-of-3 so ambient load hits
    both sides."""
    import random
    import time

    import numpy as np

    from rq_spark.operators.dedup import _simhash_votes, _simhash_votes_ref

    rng = random.Random(11)
    V = 2000
    lens = np.array(
        [rng.randrange(40, 400) for _ in range(800)], dtype=np.int64
    )
    total = int(lens.sum())
    codes = np.array(
        [rng.randrange(V) for _ in range(total)], dtype=np.int64
    )
    hs = np.array(
        [rng.getrandbits(64) for _ in range(V)], dtype=np.uint64
    )
    per_text = np.split(hs[codes], np.cumsum(lens)[:-1])
    _simhash_votes(codes[:100], lens[:1] * 0 + 100, hs)  # warm
    _simhash_votes_ref(per_text[:4])
    fast_t, ref_t = [], []
    # best-of-5, not 3: the fast side's BLAS matmul can stall under a
    # transient thread-pool contention burst that the pure-numpy
    # reference side doesn't feel (observed once under load avg ~7) —
    # two extra interleaved pairs make an all-samples-hit run
    # vanishingly unlikely while the ~10x margin absorbs the rest
    for _ in range(5):
        t0 = time.perf_counter()
        fast = list(_simhash_votes(codes, lens, hs))
        t1 = time.perf_counter()
        ref = _simhash_votes_ref(per_text)
        t2 = time.perf_counter()
        fast_t.append(t1 - t0)
        ref_t.append(t2 - t1)
    assert fast == ref
    assert min(ref_t) >= 2.0 * min(fast_t), (
        f"vote kernel {min(fast_t):.3f}s vs reference {min(ref_t):.3f}s — "
        "regressed toward the per-text uint64 shape"
    )
