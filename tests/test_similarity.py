"""Similarity search: brute-force agrees with numpy; ANN has useful
recall and never invents neighbors."""

from __future__ import annotations

import numpy as np

from rq_spark.operators import similarity as S
from rq_spark.queries import similarity as SQ
from rq_spark.queries.helpers import table

SF = "/root/testdata/sf0.01"


def test_brute_topk_matches_numpy(spark):
    emb = table(spark, SF, "embeddings").collect()
    ids = np.array([r.vec_id for r in emb])
    m = np.stack([np.array(r.embedding, dtype=np.float64) for r in emb])
    mn = m / np.linalg.norm(m, axis=1, keepdims=True)

    got = SQ._brute_cosine(spark, SF).collect()
    by_query = {}
    for r in got:
        by_query.setdefault(r.query_id, []).append(r)

    for qid, rows in by_query.items():
        rows.sort(key=lambda r: r.rk)
        qi = int(np.where(ids == qid)[0][0])
        sims = mn @ mn[qi]
        sims[qi] = -np.inf
        want = set(ids[np.argsort(-sims)[:10]].tolist())
        assert {r.neighbor_id for r in rows} == want
        assert [r.rk for r in rows] == list(range(1, 11))


def test_ann_never_invents_and_has_recall(spark):
    brute = {
        (r.query_id, r.neighbor_id)
        for r in SQ._brute_cosine(spark, SF).collect()
    }
    ann = SQ.sim_ann_lsh_topk(spark, SF).collect()
    ann_pairs = {(r.query_id, r.neighbor_id) for r in ann}
    # banded OR-amplification (16 bands × 4 bits): 1-(1-p⁴)¹⁶ ≥ 0.95
    # even for neighbors down at cos 0.45
    recall = len(brute & ann_pairs) / len(brute)
    assert recall >= 0.9, f"ANN recall below bound: {recall}"
    assert all(-1.0 <= r.cos_sim <= 1.0 for r in ann)


def test_ann_multiprobe_recall_not_below_single_probe(spark):
    corpus = table(spark, SF, "embeddings")
    queries = corpus.filter(corpus.vec_id < 5)
    brute = {
        (r.query_id, r.neighbor_id)
        for r in S.brute_topk(corpus, queries, k=10).collect()
    }
    single = {
        (r.query_id, r.neighbor_id)
        for r in S.ann_topk(corpus, queries, k=10).collect()
    }
    multi = {
        (r.query_id, r.neighbor_id)
        for r in S.ann_topk(corpus, queries, k=10, probe_hamming=1).collect()
    }
    assert len(brute & multi) >= len(brute & single)


def test_ann_bands_double_queries_at_double_precision(spark):
    """array<double> queries band at float64, like the corpus batches:
    for a vector whose float32 rounding flips a hyperplane sign bit, a
    float32-banded query misses its identical corpus twin (one band,
    no multi-probe: the twin is never even a candidate)."""
    dim, rows = 8, 4
    planes = S.hyperplanes(rows, dim)
    for seed in range(200):
        v = np.random.default_rng(seed).standard_normal(dim)
        # slide v onto plane 0, then a hair off it
        v = v - (v @ planes[0]) / (planes[0] @ planes[0]) * planes[0]
        v = v + 1e-12 * planes[0]
        if ((planes @ v > 0) != (planes @ v.astype(np.float32) > 0)).any():
            break
    else:
        raise AssertionError("no sign-flipping vector among the seeds")
    vec = [float(x) for x in v]
    schema = "vec_id long, embedding array<double>"
    corpus = spark.createDataFrame([(1, vec), (2, vec)], schema)
    queries = spark.createDataFrame([(1, vec)], schema)
    got = S.ann_topk(
        corpus, queries, k=1, bands=1, rows_per_band=rows, dim=dim,
        probe_hamming=0,
    ).collect()
    assert [(r.query_id, r.neighbor_id) for r in got] == [(1, 2)]


def test_ann_topk_evaluates_query_side_once(spark, tmp_path):
    """The query side is collected once at build time and its vectors
    ride the probe's broadcast: the executed plan never reads the
    query relation again, and scores stay the brute-force operator's
    bit-identical cosine fold."""
    corpus = table(spark, SF, "embeddings")
    path = str(tmp_path / "ann_query_side.parquet")
    corpus.filter(corpus.vec_id < 5).write.parquet(path)
    queries = spark.read.parquet(path)
    got = S.ann_topk(corpus, queries, k=10)
    rows = got.collect()
    # the final plan; a scan's location is cut at 100 characters, so
    # count scans rather than look for the query path
    plan = got._jdf.queryExecution().executedPlan().toString()
    scans = plan.split("== Initial Plan ==", 1)[0].count("FileScan parquet")
    assert scans == 1  # the corpus
    brute = {
        (r.query_id, r.neighbor_id): r.cos_sim
        for r in S.brute_topk(corpus, queries, k=10).collect()
    }
    common = [r for r in rows if (r.query_id, r.neighbor_id) in brute]
    assert common
    assert all(r.cos_sim == brute[(r.query_id, r.neighbor_id)] for r in common)


def test_embedding_near_pairs_symmetric_bound(spark):
    emb = table(spark, SF, "embeddings")
    pairs = S.embedding_near_pairs(emb, 0.45).collect()
    assert all(r.a_id < r.b_id for r in pairs)
    assert all(r.cos_sim >= 0.45 for r in pairs)


def test_lsh_near_pairs_equals_exact_at_high_threshold(spark):
    """In the ≥0.9 regime the banded-LSH candidate path must reproduce
    the exact pair set — pair-for-pair AND cosine-for-cosine (both
    paths use the same fold order) — on ORGANIC geometry: token-hash
    count vectors of the documents corpus, whose real near-duplicates
    form a continuum through the threshold (~1000 qualifying pairs).
    A recall regression here would otherwise surface only at the
    oracle gate."""
    from rq_spark.queries.dedup import (
        _LSH_EMB_BANDS,
        _LSH_EMB_DIM,
        _LSH_EMB_ROWS,
        _token_hash_corpus,
    )

    corpus = _token_hash_corpus(spark, SF)
    lsh = {
        (r.a_id, r.b_id): r.cos_sim
        for r in S.lsh_near_pairs(
            corpus,
            0.9,
            dim=_LSH_EMB_DIM,
            bands=_LSH_EMB_BANDS,
            rows_per_band=_LSH_EMB_ROWS,
            verify_unrolled=False,
        ).collect()
    }
    exact = {
        (r.a_id, r.b_id): r.cos_sim
        for r in S.embedding_near_pairs(corpus, 0.9, dim=_LSH_EMB_DIM).collect()
    }
    assert set(lsh) == set(exact)
    # organic near-dup pairs must actually exist
    assert len(lsh) >= 10
    for k, v in lsh.items():
        assert v >= 0.9
        assert abs(v - exact[k]) < 1e-12


def test_ivf_never_invents_and_has_recall(spark):
    brute = {
        (r.query_id, r.neighbor_id)
        for r in SQ._brute_cosine(spark, SF).collect()
    }
    ivf = SQ.sim_ann_ivf_topk(spark, SF).collect()
    ivf_pairs = {(r.query_id, r.neighbor_id) for r in ivf}
    # This testdata is ADVERSARIAL for partitioning ANN: embeddings are
    # near-uniform on the sphere (qualifying pairs at cos 0.4501 vs
    # background 0.4497), so recall tracks the scanned fraction. The
    # meaningful assertions: recall clearly beats the random-subset
    # baseline (nprobe/n_centroids = 0.5), i.e. the quantizer carries
    # signal even here; clustered real embeddings do far better.
    recall = len(brute & ivf_pairs) / len(brute)
    assert recall >= 0.65, f"IVF recall below bound: {recall}"
    assert all(-1.0 <= r.cos_sim <= 1.0 for r in ivf)
    # every reported neighbor's similarity must be exact (it is a
    # rerank, not an estimate): spot-check against numpy
    emb = {r.vec_id: np.array(r.embedding, dtype=np.float64)
           for r in table(spark, SF, "embeddings").collect()}
    for r in ivf[:20]:
        a, b = emb[r.query_id], emb[r.neighbor_id]
        want = float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))
        assert abs(r.cos_sim - want) < 1e-9


def test_pq_recall_compression_and_exact_rerank(spark):
    """PQ/ADC: recall over the floor, reported similarities exact
    (re-rank, not the ADC estimate), and the search relation really is
    the compressed one — m ints per corpus row."""
    from rq_spark.operators.similarity import pq_codebooks, pq_encode_udf

    brute = {
        (r.query_id, r.neighbor_id)
        for r in SQ._brute_cosine(spark, SF).collect()
    }
    pq = SQ.sim_ann_pq_topk(spark, SF).collect()
    pq_pairs = {(r.query_id, r.neighbor_id) for r in pq}
    recall = len(brute & pq_pairs) / len(brute)
    assert recall >= 0.75, f"PQ recall below bound: {recall}"
    emb = {r.vec_id: np.array(r.embedding, dtype=np.float64)
           for r in table(spark, SF, "embeddings").collect()}
    for r in pq[:20]:
        a, b = emb[r.query_id], emb[r.neighbor_id]
        want = float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))
        assert abs(r.cos_sim - want) < 1e-9

    corpus = table(spark, SF, "embeddings")
    cb = pq_codebooks(corpus, m=8, n_codes=16, iters=1)
    assert cb.shape == (8, 16, 8)  # dim 64 -> 8 subspaces of 8
    from pyspark.sql import functions as F

    codes = corpus.select(pq_encode_udf(cb)(F.col("embedding")).alias("c")).collect()
    assert all(len(r.c) == 8 for r in codes)
    assert all(0 <= v < 16 for r in codes for v in r.c)
    # quantization must use MORE than one code per subspace (signal,
    # not a collapsed codebook)
    assert len({tuple(r.c) for r in codes}) > 10


def test_ivfpq_recall_and_exact_rerank(spark):
    """The IVF+PQ composition: recall over the IVF-pruning-bounded
    floor, similarities exact after re-rank."""
    brute = {
        (r.query_id, r.neighbor_id)
        for r in SQ._brute_cosine(spark, SF).collect()
    }
    got = SQ.sim_ann_ivfpq_topk(spark, SF).collect()
    pairs = {(r.query_id, r.neighbor_id) for r in got}
    recall = len(brute & pairs) / len(brute)
    assert recall >= 0.65, f"IVFPQ recall below bound: {recall}"
    emb = {r.vec_id: np.array(r.embedding, dtype=np.float64)
           for r in table(spark, SF, "embeddings").collect()}
    for r in got[:20]:
        a, b = emb[r.query_id], emb[r.neighbor_id]
        want = float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))
        assert abs(r.cos_sim - want) < 1e-9


def test_ivfpq_join_matches_collected_path_and_is_collect_free(spark):
    """r8 (r7 verdict task #4): the join-based ADC variant — LUTs as a
    joined column — returns the SAME top-k as the driver-collected
    closure path (identical model, candidates, float64 add order), and
    its source contains no query collect; the search join is a
    broadcast-hash equi-join on cell, never a nested loop."""
    import inspect

    from pyspark.sql import functions as F  # noqa: F401

    from rq_spark.operators import similarity as S

    collected = {
        (r.query_id, r.neighbor_id)
        for r in SQ.sim_ann_ivfpq_topk(spark, SF).collect()
    }
    join_df = SQ.sim_ann_ivfpq_join_topk(spark, SF)
    joined = {(r.query_id, r.neighbor_id) for r in join_df.collect()}
    assert joined == collected

    import ast

    # the operator and the search body it shares with the saved-index
    # probe (`_ivfpq_search`, ending in the `_adc_rerank` tail)
    tree = ast.parse(
        "\n".join(
            inspect.getsource(f)
            for f in (S.ivfpq_topk_join, S._ivfpq_search, S._adc_rerank)
        )
    )
    calls = [
        n.func.attr
        for n in ast.walk(tree)
        if isinstance(n, ast.Call) and isinstance(n.func, ast.Attribute)
    ]
    assert "collect" not in calls
    plan = join_df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan

    # degraded mode: broadcast hint off -> same answer via a shuffle
    # equi-join (the corpus-vs-corpus shape), still no nested loop
    from rq_spark.queries.helpers import table as _table

    corpus = _table(spark, SF, "embeddings")
    queries = corpus.filter(F.col("vec_id") < 5)
    df2 = S.ivfpq_topk_join(
        corpus, queries, k=10, n_centroids=8, nprobe=6, m=8, n_codes=32,
        iters=2, rerank=150, broadcast_queries=False,
    )
    assert {(r.query_id, r.neighbor_id) for r in df2.collect()} == collected


def test_knn_graph_recall_and_shape(spark):
    """r8: the self-join kNN graph — k rows per vector, exact-cosine
    values, recall vs the brute-force graph over the IVF pruning
    floor, and no nested loop in the plan (shuffle cell equi-join)."""
    import numpy as np

    from pyspark.sql import functions as F
    from rq_spark.operators.similarity import knn_graph
    from rq_spark.queries.helpers import table as _table

    corpus = _table(spark, SF, "embeddings")
    n = corpus.count()
    got = knn_graph(corpus, k=5, n_centroids=8, nprobe=6, rerank=60).collect()
    per_q = {}
    for r in got:
        per_q.setdefault(r.query_id, []).append(r)
    assert len(per_q) == n
    assert all(len(v) == 5 for v in per_q.values())
    assert all(r.query_id != r.neighbor_id for r in got)

    # brute-force ground-truth graph
    emb = {r.vec_id: np.array(r.embedding, dtype=np.float64)
           for r in corpus.collect()}
    ids = sorted(emb)
    mat = np.stack([emb[i] for i in ids])
    mat = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    sims = mat @ mat.T
    np.fill_diagonal(sims, -np.inf)
    brute = set()
    for qi, q in enumerate(ids):
        # same deterministic tiebreak as the engine: cos desc, id asc
        order = sorted(range(len(ids)), key=lambda j: (-sims[qi, j], ids[j]))
        for j in order[:5]:
            brute.add((q, ids[j]))
    pairs = {(r.query_id, r.neighbor_id) for r in got}
    recall = len(brute & pairs) / len(brute)
    assert recall >= 0.65, f"knn_graph recall below IVF floor: {recall}"
    # reported similarities are the exact re-ranked cosines
    for r in got[:50]:
        a, b = emb[r.query_id], emb[r.neighbor_id]
        want = float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))
        assert abs(r.cos_sim - want) < 1e-9

    plan = knn_graph(corpus, k=5, n_centroids=8, nprobe=6, rerank=60)\
        ._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_semantic_dedup_composition_knn_to_components(spark):
    """r8 end-to-end composition: knn_graph edges above a cosine
    threshold -> connected_components -> cluster representatives. The
    full graph-dedup pipeline a training corpus runs at embedding
    level, on organic near-dup geometry (token-hash 3-gram vectors of
    the documents corpus, bimodal: near-dups >= 0.95, background
    < 0.5). Verified against the exact pair set: thresholded knn edges
    must yield the same components as exact all-pairs edges."""
    from pyspark.sql import functions as F
    from rq_spark.operators.dedup import connected_components
    from rq_spark.operators.similarity import knn_graph
    from rq_spark.queries.dedup import _token_hash_corpus, _LSH_EMB_DIM

    corpus = _token_hash_corpus(spark, SF)
    edges = (
        knn_graph(corpus, k=5, n_centroids=8, nprobe=8, rerank=60)
        .filter(F.col("cos_sim") >= 0.95)
        .select(
            F.col("query_id").alias("a_id"), F.col("neighbor_id").alias("b_id")
        )
    )
    nodes = corpus.select(F.col("vec_id").alias("node"))
    comp = {
        (r.node, r.rep) for r in connected_components(edges, nodes).collect()
    }
    exact_edges = S.embedding_near_pairs(corpus, 0.95, dim=_LSH_EMB_DIM).select(
        "a_id", "b_id"
    )
    want = {
        (r.node, r.rep)
        for r in connected_components(exact_edges, nodes).collect()
    }
    assert comp == want
    # and real clusters exist (organic near-dups, not all singletons)
    n_nodes = len(comp)
    n_clusters = len({rep for _, rep in comp})
    assert n_clusters < n_nodes


def test_semantic_decontaminate_pairs_and_broadcast_plan(spark):
    """sem decontam: exact verify keeps only true cross-side pairs, and
    the corpus never shuffles to meet the benchmark suite — since the
    r14 fusion the train path is ONE MapInPandas pass with the eval
    band table broadcast inside it: no Exchange, no join at all."""
    dim = 8
    train = spark.createDataFrame(
        [
            (1, [2.0, 2.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0]),   # ∥ eval 100
            (2, [0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 3.0, 3.0]),   # ⊥ eval 100
        ],
        ["vec_id", "embedding"],
    )
    evals = spark.createDataFrame(
        [(100, [1.0, 1.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0])],
        ["vec_id", "embedding"],
    )
    out = S.semantic_decontaminate(
        train, evals, threshold=0.9, dim=dim, bands=4, rows_per_band=2
    )
    rows = {(r.train_id, r.eval_id): r.cos_sim for r in out.collect()}
    assert set(rows) == {(1, 100)}
    assert abs(rows[(1, 100)] - 1.0) < 1e-12

    plan = (
        out._jdf.queryExecution()
        .executedPlan()
        .toString()
        .split("== Initial Plan ==")[0]
    )
    assert "MapInPandas" in plan
    assert "Exchange" not in plan
    assert "SortMergeJoin" not in plan


def test_adc_auto_dispatch_routes_large_query_sets(spark, monkeypatch):
    """r9 (r8 verdict task #2): pq_topk / ivfpq_topk with a query set
    over COLLECT_DISPATCH_MAX auto-route to the collect-free LUT-column
    join path — same top-k as calling ivfpq_topk_join directly, and the
    dispatched plan carries NO MapInPandas (the collected-closure ADC
    marker); the collected path does. The bound is read at call time,
    so the test moves it."""
    from pyspark.sql import functions as F

    from rq_spark.operators import similarity as S
    from rq_spark.queries.helpers import table as _table

    corpus = _table(spark, SF, "embeddings")
    queries = corpus.filter(F.col("vec_id") < 5)

    kw = dict(k=10, n_centroids=8, nprobe=6, m=8, n_codes=32, iters=2,
              rerank=150)
    direct = {
        (r.query_id, r.neighbor_id)
        for r in S.ivfpq_topk_join(
            corpus, queries, broadcast_queries=False, **kw
        ).collect()
    }
    # 5 queries > COLLECT_DISPATCH_MAX=3 -> dispatched
    monkeypatch.setattr(S, "COLLECT_DISPATCH_MAX", 3)
    routed_df = S.ivfpq_topk(corpus, queries, **kw)
    plan = routed_df._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" not in plan, "dispatch failed: collected ADC ran"
    assert {(r.query_id, r.neighbor_id) for r in routed_df.collect()} == direct

    # under the threshold: the collected path runs
    monkeypatch.setattr(S, "COLLECT_DISPATCH_MAX", 10**9)
    kept_df = S.ivfpq_topk(corpus, queries, **kw)
    plan = kept_df._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan

    # pq_topk's large-query route goes to the same join path (IVF
    # pruning added — the production composition), also MapInPandas-free
    monkeypatch.setattr(S, "COLLECT_DISPATCH_MAX", 3)
    routed_pq = S.pq_topk(
        corpus, queries, k=10, m=8, n_codes=32, iters=2, rerank=150,
    )
    plan = routed_pq._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" not in plan
    # pq has no IVF params of its own: the dispatch uses the join
    # path's defaults (n_centroids=8, nprobe=4)
    pq_direct = {
        (r.query_id, r.neighbor_id)
        for r in S.ivfpq_topk_join(
            corpus, queries, k=10, m=8, n_codes=32, iters=2, rerank=150,
            broadcast_queries=False,
        ).collect()
    }
    assert {(r.query_id, r.neighbor_id) for r in routed_pq.collect()} == pq_direct


def test_ann_training_rejects_empty_corpus(spark):
    """Quantizer/codebook training on zero vectors must fail with a
    clear ValueError, not surface later as a numpy AxisError inside
    the assignment UDF (found by the r9 empty-table probe)."""
    import pytest as _pt

    from rq_spark.operators.similarity import ivf_centroids, pq_codebooks

    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    with _pt.raises(ValueError, match="no vectors"):
        ivf_centroids(empty, n_centroids=4)
    with _pt.raises(ValueError, match="no vectors"):
        pq_codebooks(empty, m=4, n_codes=4)


def test_null_vectors_drop_and_small_corpus_codebook(spark):
    """NULL embeddings are EXCLUDED from every vector operator (the
    embedding analogue of the zero-shingle drop) instead of crashing
    the numpy kernels, and a corpus SMALLER than n_codes trains a
    shrunken codebook whose stride the ADC join must follow (both
    found by the r9 NULL/small-corpus probes)."""
    import pyspark.sql.functions as F

    from rq_spark.operators.similarity import (
        brute_topk,
        embedding_near_pairs,
        ivfpq_topk_join,
    )

    vecs = spark.range(1, 30).select(
        F.col("id").alias("vec_id"),
        F.when(F.col("id") == 3, None).otherwise(
            F.transform(
                F.sequence(F.lit(1), F.lit(16)),
                lambda j: ((F.col("id") * j % 7) - 3).cast("float"),
            )
        ).alias("embedding"),
    )
    # near-pairs: must run, and the NULL row never appears on any side
    pairs = embedding_near_pairs(vecs, threshold=0.9).collect()
    assert all(r["a_id"] != 3 and r["b_id"] != 3 for r in pairs)
    # brute: the NULL row is neither a query nor a neighbor
    bt = brute_topk(vecs, vecs.limit(5), k=3, dim=16).collect()
    assert bt and all(r["neighbor_id"] != 3 for r in bt)
    # ADC join path: 28 usable vectors < n_codes=32 --> shrunken
    # codebook; the LUT stride must follow or element_at walks off the
    # end of the LUT array
    top = ivfpq_topk_join(
        vecs, vecs.limit(4), k=3, n_centroids=4, m=4, n_codes=32
    ).collect()
    assert top and all(r["neighbor_id"] != 3 for r in top)


def test_semantic_decontaminate_unusable_eval_embedding_raises(spark):
    """ADVICE r10: a NULL/zero-norm embedding on the BENCHMARK side of
    semantic_decontaminate must fail LOUD — silently dropping it makes
    that eval row's contamination undetectable with no signal. Train
    rows still drop quietly (they only exclude themselves)."""
    import pytest

    def vecs(rows):
        return spark.createDataFrame(
            rows, "vec_id long, embedding array<double>"
        )

    train = vecs([(1, [1.0, 0.0, 0.0, 1.0]), (2, [0.5, 0.5, 1.0, 0.0])])
    with pytest.raises(ValueError, match="zero-norm"):
        S.semantic_decontaminate(
            train, vecs([(10, [0.0, 0.0, 0.0, 0.0])]), 0.9, dim=4
        )
    with pytest.raises(ValueError, match="zero-norm"):
        S.semantic_decontaminate(train, vecs([(10, None)]), 0.9, dim=4)
    # NULL ELEMENTS make F.exists three-valued NULL — a plain ~pred
    # filter drops the row instead of matching it (fail-open); the
    # guard must still fire (r11 self-review)
    with pytest.raises(ValueError, match="zero-norm"):
        S.semantic_decontaminate(
            train, vecs([(10, [0.0, None, 0.0, 0.0])]), 0.9, dim=4
        )
    # ADVICE r11: the MIXED case — a NONZERO element AND a NULL
    # element. exists(x != 0) is TRUE here, so the old guard passed it;
    # the NULL element then nulls every cosine and the threshold
    # filter silently drops the eval row's pairs — fail-open. The
    # hardened _nonzero_vec rejects any NULL element at intake.
    with pytest.raises(ValueError, match="zero-norm"):
        S.semantic_decontaminate(
            train, vecs([(10, [1.0, None, 0.0, 0.0])]), 0.9, dim=4
        )
    # zero-norm TRAIN rows drop quietly; identical vectors still pair
    got = S.semantic_decontaminate(
        vecs([(1, [1.0, 0.0, 0.0, 1.0]), (2, [0.0, 0.0, 0.0, 0.0])]),
        vecs([(10, [1.0, 0.0, 0.0, 1.0])]),
        0.9,
        dim=4,
    ).collect()
    assert [(r.train_id, r.eval_id) for r in got] == [(1, 10)]


def test_ann_index_probe_matches_inline_and_reads_bucketed(spark):
    """r10 (r9 verdict task #1): the persisted ANN index — train IVF
    centroids + PQ codebooks once, save (codes, vectors, model, meta)
    as bucketed catalog tables, probe a query batch from the index,
    and get EXACTLY the in-query ivfpq_topk_join's top-k (same
    deterministic training, same candidates, same float64 ADC order).
    In the non-broadcast probe the corpus codes table must read
    zero-Exchange from its cell bucketing — the daily batch-scoring
    shape at 100 TB, with zero per-call Lloyd retraining."""
    import ast
    import inspect
    import re

    from pyspark.sql import functions as F

    from rq_spark.operators import similarity as S

    corpus = table(spark, SF, "embeddings")
    queries = corpus.filter(F.col("vec_id") < 5)
    base = "t_ann_index"
    params = dict(n_centroids=8, m=8, n_codes=32, iters=2)
    try:
        S.write_ann_index(corpus, base, **params)
        want = {
            (r.query_id, r.neighbor_id, r.rk, round(r.cos_sim, 9))
            for r in S.ivfpq_topk_join(
                corpus, queries, k=10, nprobe=4, rerank=40, **params
            ).collect()
        }
        got_df = S.ivfpq_topk_join_from_index(
            spark, queries, base, k=10, nprobe=4, rerank=40
        )
        got = {
            (r.query_id, r.neighbor_id, r.rk, round(r.cos_sim, 9))
            for r in got_df.collect()
        }
        assert len(want) == 50 and got == want

        # the probe itself never trains or collects anything
        # corpus-sized: no Lloyd calls, no collect of a corpus relation
        # ... nor does the search body it shares with the in-query
        # operator
        src = "\n".join(
            inspect.getsource(f)
            for f in (
                S.ivfpq_topk_join_from_index, S._ivfpq_search, S._adc_rerank
            )
        )
        assert "ivf_centroids" not in src and "pq_codebooks" not in src
        tree = ast.parse(src)
        calls = [
            n.func.attr
            for n in ast.walk(tree)
            if isinstance(n, ast.Call) and isinstance(n.func, ast.Attribute)
        ]
        assert "collect" not in calls  # model load lives in _read_ann_model

        # serving shape: probed queries broadcast, index never shuffles
        plan = got_df._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan
        assert "BroadcastNestedLoopJoin" not in plan

        # batch shape (broadcast off): the query side shuffles INTO the
        # codes table's cell bucketing; the index side reads bucketed,
        # zero-Exchange
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.debug.maxToStringFields", "1000")
        big_df = S.ivfpq_topk_join_from_index(
            spark, queries, base, k=10, nprobe=4, rerank=40,
            broadcast_queries=False,
        )
        assert {
            (r.query_id, r.neighbor_id, r.rk, round(r.cos_sim, 9))
            for r in big_df.collect()
        } == want
        plan = (
            big_df._jdf.queryExecution().executedPlan().toString()
            .split("\n+- == Initial Plan ==")[0]
        )
        assert "Bucketed: true" in plan, "codes table not bucket-read"
        assert "SelectedBucketsCount" in plan
        assert "SortMergeJoin [cell" in plan, "probe should bucket-merge-join"
        scan_lines = [
            ln for ln in plan.splitlines()
            if "Scan parquet" in ln and "_codes" in ln
        ]
        assert scan_lines, "corpus codes table scan missing"
        # exactly ONE Exchange hashpartitioning(cell...) — the query
        # side shuffling into the bucket layout; a second would mean
        # the bucketed index scan got re-shuffled
        cell_ex = re.findall(r"Exchange hashpartitioning\(cell", plan)
        assert len(cell_ex) == 1, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
        spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
        for t in ("codes", "vectors", "centroids", "codebooks", "meta",
                  "state", "tombstones"):
            spark.sql(f"DROP TABLE IF EXISTS {base}_{t}")


def test_knn_graph_from_index_matches_inline(spark):
    """r10: the kNN graph built from the persisted ANN index must equal
    the in-query knn_graph under the same trained model — the nightly
    corpus-vs-self rebuild pays only the probe, never Lloyd rounds or
    corpus re-encoding."""
    from pyspark.sql import functions as F  # noqa: F401

    from rq_spark.operators import similarity as S

    corpus = table(spark, SF, "embeddings")
    base = "t_knn_index"
    try:
        S.write_ann_index(corpus, base, n_centroids=8, m=8, n_codes=32,
                          iters=2)
        want = {
            (r.query_id, r.neighbor_id, r.rk)
            for r in S.knn_graph(
                corpus, k=5, n_centroids=8, nprobe=4, m=8, n_codes=32,
                iters=2, rerank=60,
            ).collect()
        }
        got = {
            (r.query_id, r.neighbor_id, r.rk)
            for r in S.knn_graph_from_index(
                spark, base, k=5, nprobe=4, rerank=60
            ).collect()
        }
        assert len(want) > 0 and got == want
    finally:
        for t in ("codes", "vectors", "centroids", "codebooks", "meta",
                  "state", "tombstones"):
            spark.sql(f"DROP TABLE IF EXISTS {base}_{t}")
