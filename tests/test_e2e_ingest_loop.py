"""The daily-ingest loop exercised END TO END (r12, r11 verdict
task #1 — its top_next item).

Every arrow of the loop was individually parity-pinned in r11 (probe,
absorb, append, compact), but composition bugs live in the seams:
cache scopes across calls, bucketing surviving append → compact →
append, day-1 absorb output fed back as day-2 standing labels. Here
one standing corpus and TWO consecutive daily batches run the WHOLE
loop per index family —

    day 1: probe the standing index → absorb the probe pairs into the
           standing labels → append the batch → compact
    day 2: probe (now against corpus ∪ batch1) → absorb into DAY 1's
           OUTPUT → append → compact

— asserting, per the verdict's DONE criteria:

(a) the final labels equal `connected_components` over ALL edges ever
    seen (standing-graph pairs ∪ day-1 edges ∪ day-2 edges, every node);
(b) the final probe results equal a probe of a FROM-SCRATCH rebuild
    over corpus ∪ batch1 ∪ batch2 (under the day-0 pinned model where
    one exists);
(c) the zero-Exchange corpus-side read survives the full chain
    (append → compact → append → compact), plan-asserted.
"""

from __future__ import annotations

import random
import re

from pyspark.sql import functions as F

from rq_spark.operators import dedup as D
from rq_spark.operators import similarity as S
from rq_spark.queries.helpers import table
from rq_spark.util import local_frame

SF = "/root/testdata/sf0.01"


def _drop(spark, base, suffixes):
    for t in tuple(suffixes) + ("state", "tombstones"):
        spark.sql(f"DROP TABLE IF EXISTS {base}_{t}")


def _labels(df):
    return {(r.node, r.rep) for r in df.collect()}


def _edges(df, a, b):
    return df.select(F.col(a).alias("a_id"), F.col(b).alias("b_id"))


def _zero_exchange_corpus_read(df, key_prefix):
    """The corpus/index side must still read its bucketing after the
    full chain: exactly ONE Exchange (the probe side shuffling INTO
    the layout), never one on the corpus scan."""
    df.collect()
    plan = (
        df._jdf.queryExecution().executedPlan().toString()
        .split("\n+- == Initial Plan ==")[0]
    )
    assert "Bucketed: true" in plan
    n_ex = len(re.findall(rf"Exchange hashpartitioning\({key_prefix}", plan))
    return plan, n_ex


def test_minhash_ingest_loop_two_days(spark):
    docs = table(spark, SF, "documents")
    corpus = docs.filter(F.col("doc_id") % 4 == 0)
    batch1 = docs.filter(F.col("doc_id") % 4 == 1)
    batch2 = docs.filter(F.col("doc_id") % 4 == 2)
    heldout = docs.filter(F.col("doc_id") % 4 == 3)
    b_live, b_ref = "t_loop_mh", "t_loop_mh_ref"
    mh = ("bands", "shingles", "meta")

    def day_edges(batch, tag):
        """What a real pipeline feeds the absorb step: batch-vs-standing
        probe pairs plus the batch's own internal near-dup pairs."""
        probe = D.incremental_minhash_pairs_from_index(
            spark, batch, "text", "doc_id", b_live
        )
        within = D.minhash_dedup_pairs(batch, "text", "doc_id", threshold=0.5)
        return (
            _edges(probe, "new_id", "corpus_id")
            .unionByName(_edges(within, "a_id", "b_id"))
            .localCheckpoint()  # pin the pre-append probe: edges are
            # "what day N saw", not a lazy plan re-read after append
        )

    def probe_pairs(base):
        return {
            (r.new_id, r.corpus_id): round(r.jaccard, 9)
            for r in D.incremental_minhash_pairs_from_index(
                spark, heldout, "text", "doc_id", base
            ).collect()
        }

    try:
        # day 0: standing index + standing labels
        D.write_minhash_index(corpus, "text", "doc_id", b_live)
        pairs0 = D.minhash_dedup_pairs(
            corpus, "text", "doc_id", threshold=0.5
        ).localCheckpoint()
        nodes0 = corpus.select(F.col("doc_id").alias("node"))
        labels0 = D.connected_components(
            _edges(pairs0, "a_id", "b_id"), nodes0, scope="e2e_cc0"
        ).localCheckpoint()

        # day 1
        e1 = day_edges(batch1, "d1")
        labels1 = D.absorb_edges(
            labels0,
            e1,
            new_nodes=batch1.select(F.col("doc_id").alias("node")),
            scope="e2e_d1",
        ).localCheckpoint()
        D.append_to_minhash_index(batch1, "text", "doc_id", b_live)
        D.compact_minhash_index(spark, b_live)

        # day 2: probe sees corpus ∪ batch1; absorb into DAY 1's output
        e2 = day_edges(batch2, "d2")
        assert any(
            cid % 4 == 1
            for cid in [r.b_id for r in e2.collect()]
        ), "day-2 probe must be able to hit day-1 docs (append visible)"
        labels2 = D.absorb_edges(
            labels1,
            e2,
            new_nodes=batch2.select(F.col("doc_id").alias("node")),
            scope="e2e_d2",
        ).localCheckpoint()
        D.append_to_minhash_index(batch2, "text", "doc_id", b_live)
        D.compact_minhash_index(spark, b_live)

        # (a) composed labels == full recompute over ALL edges ever seen
        all_edges = pairs0.select("a_id", "b_id").unionByName(e1).unionByName(e2)
        all_nodes = (
            corpus.select(F.col("doc_id").alias("node"))
            .unionByName(batch1.select(F.col("doc_id").alias("node")))
            .unionByName(batch2.select(F.col("doc_id").alias("node")))
        )
        want_labels = D.connected_components(
            all_edges, all_nodes, scope="e2e_cc_full"
        )
        assert _labels(labels2) == _labels(want_labels)

        # (b) probing the twice-appended, twice-compacted index equals
        # probing a from-scratch rebuild over corpus ∪ batch1 ∪ batch2
        D.write_minhash_index(
            corpus.unionByName(batch1).unionByName(batch2),
            "text",
            "doc_id",
            b_ref,
        )
        assert probe_pairs(b_live) == probe_pairs(b_ref) != {}

        # (c) zero-Exchange corpus read survives the full chain
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.debug.maxToStringFields", "1000")
        big = D.incremental_minhash_pairs_from_index(
            spark, heldout, "text", "doc_id", b_live, broadcast_batch=False
        )
        _plan, n_ex = _zero_exchange_corpus_read(big, "band")
        assert n_ex == 1  # only the probe side shuffles into the layout
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
        spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
        _drop(spark, b_live, mh)
        _drop(spark, b_ref, mh)


def _s64(v: int) -> int:
    return v - (1 << 64) if v >= (1 << 63) else v


def _sig_splits():
    """corpus/batch1/batch2 signature rows with planted cross-slice
    near-dups: batch1 docs 2000+i near-dup corpus docs i (1 flip);
    batch2 docs 4000+i near-dup BATCH-1 docs 2000+i (1 more flip — a
    chain that only closes if day 2 probes see day 1's append) and
    4100+j near-dup corpus docs 50+j."""
    rnd = random.Random(23)
    base = [rnd.getrandbits(64) for _ in range(80)]
    corpus = [(i, _s64(v)) for i, v in enumerate(base)]
    batch1 = [
        (2000 + i, _s64(base[i] ^ (1 << (i % 64)))) for i in range(20)
    ] + [(2500 + i, _s64(rnd.getrandbits(64))) for i in range(10)]
    batch2 = [
        (4000 + i, _s64(base[i] ^ (1 << (i % 64)) ^ (1 << ((i + 9) % 64))))
        for i in range(20)
    ] + [(4100 + j, _s64(base[50 + j] ^ (1 << ((j * 3) % 64)))) for j in range(10)]
    return corpus, batch1, batch2


def test_hamming_ingest_loop_two_days(spark):
    corpus_rows, b1_rows, b2_rows = _sig_splits()
    mk = lambda rows: local_frame(spark, rows, "doc long, sig long")  # noqa: E731
    corpus, batch1, batch2 = mk(corpus_rows), mk(b1_rows), mk(b2_rows)
    b_live, b_ref = "t_loop_ham", "t_loop_ham_ref"
    try:
        D.write_hamming_index(corpus, b_live, bands=4)
        pairs0 = D.hamming_near_pairs_from_index(
            spark, b_live, max_hamming=3
        ).localCheckpoint()
        labels0 = D.connected_components(
            _edges(pairs0, "a_id", "b_id"),
            corpus.select(F.col("doc").alias("node")),
            scope="e2e_hcc0",
        ).localCheckpoint()

        def day(batch, labels, scope):
            probe = D.hamming_probe_from_index(
                spark, batch, b_live, max_hamming=3
            ).filter(F.col("new_id") != F.col("corpus_id"))
            within = D.hamming_near_pairs(
                batch.select(F.col("doc"), F.col("sig")), max_hamming=3
            )
            e = (
                _edges(probe, "new_id", "corpus_id")
                .unionByName(_edges(within, "a_id", "b_id"))
                .localCheckpoint()
            )
            out = D.absorb_edges(
                labels,
                e,
                new_nodes=batch.select(F.col("doc").alias("node")),
                scope=scope,
            ).localCheckpoint()
            D.append_to_hamming_index(batch, b_live)
            D.compact_hamming_index(spark, b_live)
            return e, out

        e1, labels1 = day(batch1, labels0, "e2e_h1")
        e2, labels2 = day(batch2, labels1, "e2e_h2")
        # the planted 3-hop chain (corpus i — batch1 2000+i — batch2
        # 4000+i) requires day 2 to see day 1's append: check one hop
        assert any(
            r.a_id >= 4000 and 2000 <= r.b_id < 2500
            or r.b_id >= 4000 and 2000 <= r.a_id < 2500
            for r in e2.collect()
        )

        # (a) labels parity over every edge ever seen
        all_edges = pairs0.select("a_id", "b_id").unionByName(e1).unionByName(e2)
        all_nodes = (
            corpus.select(F.col("doc").alias("node"))
            .unionByName(batch1.select(F.col("doc").alias("node")))
            .unionByName(batch2.select(F.col("doc").alias("node")))
        )
        want = D.connected_components(all_edges, all_nodes, scope="e2e_hccf")
        assert _labels(labels2) == _labels(want)

        # (b) the standing self-scan equals a from-scratch rebuild
        D.write_hamming_index(
            corpus.unionByName(batch1).unionByName(batch2), b_ref, bands=4
        )
        live = {
            (r.a_id, r.b_id, r.hamming)
            for r in D.hamming_near_pairs_from_index(spark, b_live).collect()
        }
        ref = {
            (r.a_id, r.b_id, r.hamming)
            for r in D.hamming_near_pairs_from_index(spark, b_ref).collect()
        }
        assert live == ref and len(live) >= 40

        # (c) the pair scan's candidate self-join is STILL zero-Exchange
        # after append → compact → append → compact
        spark.conf.set("spark.sql.debug.maxToStringFields", "1000")
        df = D.hamming_near_pairs_from_index(spark, b_live)
        _plan, n_ex = _zero_exchange_corpus_read(df, "band")
        assert n_ex == 0

        # (d) mutation INSIDE the loop: a day-1 doc gets re-crawled
        # after day 2 — reingest + compact, and the standing scan must
        # equal a rebuild with that doc's signature replaced (the
        # tombstone riding on a twice-appended twice-compacted layout)
        re_id, new_sig = b1_rows[0][0], _s64(corpus_rows[70][1] ^ (1 << 2))
        D.append_to_hamming_index(
            local_frame(spark, [(re_id, new_sig)], "doc long, sig long"),
            b_live,
            reingest=True,
        )
        D.compact_hamming_index(spark, b_live)
        rebuilt = (
            corpus.unionByName(batch1).unionByName(batch2)
            .filter(F.col("doc") != re_id)
            .unionByName(
                local_frame(
                    spark, [(re_id, new_sig)], "doc long, sig long"
                )
            )
        )
        D.write_hamming_index(rebuilt, b_ref, bands=4)
        live2 = {
            (r.a_id, r.b_id, r.hamming)
            for r in D.hamming_near_pairs_from_index(spark, b_live).collect()
        }
        ref2 = {
            (r.a_id, r.b_id, r.hamming)
            for r in D.hamming_near_pairs_from_index(spark, b_ref).collect()
        }
        assert live2 == ref2 and (70, re_id, 1) in live2
    finally:
        _drop(spark, b_live, ("hbands", "meta"))
        _drop(spark, b_ref, ("hbands", "meta"))


def test_ann_ingest_loop_two_days(spark):
    vecs = table(spark, SF, "embeddings")
    corpus = vecs.filter(F.col("vec_id") % 4 == 0)
    batch1 = vecs.filter(F.col("vec_id") % 4 == 1)
    batch2 = vecs.filter(F.col("vec_id") % 4 == 2)
    heldout = vecs.filter((F.col("vec_id") % 4 == 3) & (F.col("vec_id") < 40))
    b_live, b_ref = "t_loop_ann", "t_loop_ann_ref"
    ann = ("codes", "vectors", "centroids", "codebooks", "meta")

    def topk(base, q):
        return {
            (r.query_id, r.neighbor_id, r.rk, round(r.cos_sim, 9))
            for r in S.ivfpq_topk_join_from_index(
                spark, q, base, k=5, nprobe=4, rerank=20
            ).collect()
        }

    try:
        S.write_ann_index(corpus, b_live, n_centroids=8, m=8, n_codes=32, iters=2)
        _meta, cents, cb = S._read_ann_model(spark, b_live)
        # standing labels: every corpus vector a singleton cluster
        labels0 = corpus.select(
            F.col("vec_id").alias("node"), F.col("vec_id").alias("rep")
        ).localCheckpoint()

        def day(batch, labels, scope):
            k1 = S.ivfpq_topk_join_from_index(
                spark, batch, b_live, k=1, nprobe=4, rerank=8
            )
            e = _edges(k1, "query_id", "neighbor_id").localCheckpoint()
            out = D.absorb_edges(
                labels,
                e,
                new_nodes=batch.select(F.col("vec_id").alias("node")),
                scope=scope,
            ).localCheckpoint()
            S.append_to_ann_index(batch, b_live)
            S.compact_ann_index(spark, b_live)
            return e, out

        e1, labels1 = day(batch1, labels0, "e2e_a1")
        e2, labels2 = day(batch2, labels1, "e2e_a2")
        # day-2 nearest neighbors can be day-1 vectors (append visible)
        assert any(r.b_id % 4 == 1 for r in e2.collect())

        # (a) labels parity over every edge ever seen
        all_edges = e1.unionByName(e2)
        all_nodes = (
            corpus.select(F.col("vec_id").alias("node"))
            .unionByName(batch1.select(F.col("vec_id").alias("node")))
            .unionByName(batch2.select(F.col("vec_id").alias("node")))
        )
        want = D.connected_components(all_edges, all_nodes, scope="e2e_accf")
        assert _labels(labels2) == _labels(want)

        # (b) serving parity vs a from-scratch rebuild under the DAY-0
        # pinned model (what append promises: no retraining, ever)
        S.write_ann_index(
            corpus.unionByName(batch1).unionByName(batch2),
            b_ref,
            pretrained=(cents, cb),
        )
        assert topk(b_live, heldout) == topk(b_ref, heldout) != set()

        # (c) zero-Exchange index read survives the full chain
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.debug.maxToStringFields", "1000")
        big = S.ivfpq_topk_join_from_index(
            spark, heldout, b_live, k=5, nprobe=4, rerank=20,
            broadcast_queries=False,
        )
        _plan, n_ex = _zero_exchange_corpus_read(big, "cell")
        assert n_ex == 1
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
        spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
        _drop(spark, b_live, ann)
        _drop(spark, b_ref, ann)


def test_hamming_loop_midloop_takedown_and_reingest(spark):
    """r13 (r12 verdict task #2): DELETION composed INTO the loop, not
    just pinned per family in isolation. Day 1 ingests a batch that
    forms cross-day near-dup edges; day 2 is a TAKEDOWN of one of those
    day-1 docs — tombstoned from the index, EVICTED from the standing
    labels (evict_nodes: its component must split/rename, not filter),
    physically purged by compaction — plus a REINGEST of a second day-1
    doc under a new signature. Day 3 then probes/absorbs/appends
    normally. Final assertions: the index self-scan equals a
    from-scratch rebuild without the taken-down doc (and with the
    re-crawled doc's NEW signature), and the final labels equal a full
    CC recompute over exactly the surviving edge ledger."""
    corpus_rows, b1_rows, b2_rows = _sig_splits()
    mk = lambda rows: local_frame(spark, rows, "doc long, sig long")  # noqa: E731
    corpus, batch1, batch2 = mk(corpus_rows), mk(b1_rows), mk(b2_rows)
    b_live, b_ref = "t_loop_takedown", "t_loop_takedown_ref"
    victim, re_id = 2000, 2001  # day-1 docs with cross-day edges
    new_sig = _s64(corpus_rows[70][1] ^ (1 << 2))  # re-crawl: near dup 70

    def scan(base):
        return {
            (r.a_id, r.b_id, r.hamming)
            for r in D.hamming_near_pairs_from_index(spark, base).collect()
        }

    try:
        from rq_spark.bucketing import add_tombstones

        # day 0 + day 1: the standard loop
        D.write_hamming_index(corpus, b_live, bands=4)
        pairs0 = D.hamming_near_pairs_from_index(spark, b_live).localCheckpoint()
        labels0 = D.connected_components(
            _edges(pairs0, "a_id", "b_id"),
            corpus.select(F.col("doc").alias("node")),
            scope="e2e_tcc0",
        ).localCheckpoint()
        probe1 = D.hamming_probe_from_index(
            spark, batch1, b_live, max_hamming=3
        ).filter(F.col("new_id") != F.col("corpus_id"))
        e1 = (
            _edges(probe1, "new_id", "corpus_id")
            .unionByName(_edges(D.hamming_near_pairs(batch1, max_hamming=3), "a_id", "b_id"))
            .localCheckpoint()
        )
        labels1 = D.absorb_edges(
            labels0, e1,
            new_nodes=batch1.select(F.col("doc").alias("node")),
            scope="e2e_t1",
        ).localCheckpoint()
        D.append_to_hamming_index(batch1, b_live)
        D.compact_hamming_index(spark, b_live)
        # the victim really is wired into a cross-day component
        ledger = pairs0.select("a_id", "b_id").unionByName(e1).localCheckpoint()
        assert any(
            victim in (r.a_id, r.b_id) for r in ledger.collect()
        )

        # day 2: TAKEDOWN of `victim` + REINGEST of `re_id`
        add_tombstones(
            spark, b_live,
            local_frame(spark, [(victim,)], "doc long"), "doc",
        )
        labels_ev = D.evict_nodes(
            labels1, ledger,
            local_frame(spark, [(victim,)], "node long"),
            scope="e2e_tev1",
        ).localCheckpoint()
        surv1 = ledger.filter(
            (F.col("a_id") != victim) & (F.col("b_id") != victim)
        ).localCheckpoint()
        D.append_to_hamming_index(
            local_frame(spark, [(re_id, new_sig)], "doc long, sig long"),
            b_live, reingest=True,
        )
        # the re-crawled doc re-enters day 3 as a fresh node: evict its
        # OLD identity from the labels (its old edges are stale)
        labels_ev2 = D.evict_nodes(
            labels_ev, surv1,
            local_frame(spark, [(re_id,)], "node long"),
            scope="e2e_tev2",
        ).localCheckpoint()
        surv2 = surv1.filter(
            (F.col("a_id") != re_id) & (F.col("b_id") != re_id)
        ).localCheckpoint()
        D.compact_hamming_index(spark, b_live)  # physical purge

        # day 3: normal loop over batch2 ∪ the re-crawled doc
        batch3 = batch2.unionByName(
            local_frame(spark, [(re_id, new_sig)], "doc long, sig long")
        )
        probe3 = D.hamming_probe_from_index(
            spark, batch3, b_live, max_hamming=3
        ).filter(F.col("new_id") != F.col("corpus_id"))
        e3 = (
            _edges(probe3, "new_id", "corpus_id")
            .unionByName(_edges(D.hamming_near_pairs(batch3, max_hamming=3), "a_id", "b_id"))
            .localCheckpoint()
        )
        # the taken-down doc is invisible to day-3 probes ...
        assert not any(victim in (r.a_id, r.b_id) for r in e3.collect())
        # ... and the re-crawled doc matches under its NEW identity
        assert any(
            {a, b} == {re_id, 70}
            for a, b in [(r.a_id, r.b_id) for r in e3.collect()]
        )
        labels3 = D.absorb_edges(
            labels_ev2, e3,
            new_nodes=batch3.select(F.col("doc").alias("node")),
            scope="e2e_t3",
        ).localCheckpoint()
        D.append_to_hamming_index(batch2, b_live)
        D.compact_hamming_index(spark, b_live)

        # (a) index parity: scan == from-scratch rebuild without the
        # victim, with the re-crawled doc under its new signature
        rebuilt = (
            corpus.unionByName(batch1).unionByName(batch2)
            .filter(~F.col("doc").isin(victim, re_id))
            .unionByName(
                local_frame(
                    spark, [(re_id, new_sig)], "doc long, sig long"
                )
            )
        )
        D.write_hamming_index(rebuilt, b_ref, bands=4)
        assert scan(b_live) == scan(b_ref)

        # (b) label parity: final labels == full CC over exactly the
        # surviving edge ledger and surviving nodes
        all_edges = surv2.unionByName(e3)
        all_nodes = (
            corpus.select(F.col("doc").alias("node"))
            .unionByName(batch1.select(F.col("doc").alias("node")))
            .filter(F.col("node") != victim)
            .filter(F.col("node") != re_id)
            .unionByName(batch3.select(F.col("doc").alias("node")))
        )
        want = D.connected_components(
            all_edges, all_nodes, scope="e2e_tccf"
        )
        assert _labels(labels3) == _labels(want)
        # the victim is gone from the labels; the re-crawled doc is
        # present under its new component (with corpus doc 70)
        final = _labels(labels3)
        assert all(n != victim and r != victim for n, r in final)
        rep70 = {r for n, r in final if n == 70}
        assert {r for n, r in final if n == re_id} == rep70
    finally:
        _drop(spark, b_live, ("hbands", "meta"))
        _drop(spark, b_ref, ("hbands", "meta"))


def _simulate_catalog_restart(spark, tmp_path, bucketed, plain):
    """A metastore-less restart, honestly simulated (r14, r13 verdict
    task #3): the in-memory catalog forgets every table while the data
    directories survive. Each table's files are copied out of the
    warehouse, the catalog entries dropped (which deletes the managed
    originals — exactly why the copies stand in for 'surviving dirs'),
    and a NEW session re-registers them the documented way
    (`bucketing.register_parquet_table` /
    `register_bucketed_table` with the family's declared bucket
    spec). Returns the new session."""
    import shutil

    from rq_spark.bucketing import (
        register_bucketed_table,
        register_parquet_table,
    )
    from rq_spark.session import apply_runtime_confs

    locs = {}
    for t in list(plain) + list(bucketed):
        if not spark.catalog.tableExists(t):
            continue
        loc = (
            spark.sql(f"DESCRIBE FORMATTED {t}")
            .filter("col_name = 'Location'")
            .collect()[0]
            .data_type
        )
        src = loc.replace("file:", "")
        dst = str(tmp_path / f"survived_{t}")
        shutil.copytree(src, dst)
        spark.sql(f"DROP TABLE {t}")
        locs[t] = dst
    ns = spark.newSession()
    apply_runtime_confs(ns)
    for t in plain:
        if t in locs:
            register_parquet_table(ns, t, locs[t])
    for t, (key, buckets) in bucketed.items():
        if t in locs:
            register_bucketed_table(ns, t, locs[t], key, buckets)
    return ns


def test_full_loop_restart_gate(spark, tmp_path):
    """The composed restart gate (r14, r13 verdict task #3): the daily
    loop — now carrying ALL its durable state (index + labels + edge
    ledger) and running takedowns through `lifecycle.takedown` — is
    killed after day 1 and restarted as a NEW session against the
    surviving warehouse directories, catalog re-registered the
    documented way. Day 2 (a composed takedown + a normal ingest) runs
    PURELY from persisted state, and the final index scan, labels, and
    ledger are all EQUAL to an identical loop that never restarted —
    plus the labels equal an independent CC recompute over the
    surviving edge set."""
    from rq_spark import lifecycle as L

    corpus_rows, b1_rows, b2_rows = _sig_splits()
    victim = 2000  # a day-1 doc wired into cross-day components

    def run_loop(sess, ibase, lbase, ebase, restart, tmp):
        mk = lambda rows: local_frame(sess, rows, "doc long, sig long")  # noqa: E731
        corpus, batch1, batch2 = mk(corpus_rows), mk(b1_rows), mk(b2_rows)

        # day 0: all three durable pieces
        D.write_hamming_index(corpus, ibase, bands=4)
        pairs0 = D.hamming_near_pairs_from_index(spark, ibase).select(
            "a_id", "b_id"
        )
        D.write_labels(
            D.connected_components(
                pairs0,
                corpus.select(F.col("doc").alias("node")),
                scope=f"rg_cc0_{ibase}",
            ),
            lbase,
        )
        D.write_edge_ledger(pairs0, ebase)

        def ingest_day(s, batch, tag):
            probe = D.hamming_probe_from_index(
                s, batch, ibase, max_hamming=3
            ).filter(F.col("new_id") != F.col("corpus_id"))
            e = (
                _edges(probe, "new_id", "corpus_id")
                .unionByName(
                    _edges(D.hamming_near_pairs(batch, max_hamming=3), "a_id", "b_id")
                )
                .localCheckpoint()
            )
            labels = D.absorb_edges(
                D.read_labels(s, lbase),
                e,
                new_nodes=batch.select(F.col("doc").alias("node")),
                scope=f"rg_{tag}_{ibase}",
            )
            D.write_labels(labels, lbase)
            D.append_edge_ledger(e, ebase)
            D.append_to_hamming_index(batch, ibase)
            D.compact_hamming_index(s, ibase)

        ingest_day(sess, batch1, "d1")

        if restart:
            sess = _simulate_catalog_restart(
                sess,
                tmp,
                bucketed={
                    f"{ibase}_hbands": (["band", "bval"], 8),
                    f"{lbase}_labels": ("node", 8),
                    f"{ebase}_edges": ("a_id", 8),
                },
                plain=[
                    f"{ibase}_meta", f"{ibase}_state", f"{ibase}_tombstones",
                    f"{lbase}_meta", f"{lbase}_state",
                    f"{ebase}_meta", f"{ebase}_state", f"{ebase}_tombstones",
                ],
            )

        # day 2, purely from persisted state: composed takedown, then
        # a normal ingest of batch2
        L.takedown(
            sess,
            local_frame(sess, [(victim,)], "node long"),
            {ibase: "doc"},
            labels_base=lbase,
            ledger_base=ebase,
        )
        ingest_day(sess, local_frame(sess, b2_rows, "doc long, sig long"), "d2")

        scan = {
            (r.a_id, r.b_id, r.hamming)
            for r in D.hamming_near_pairs_from_index(sess, ibase).collect()
        }
        return (
            scan,
            {(r.node, r.rep) for r in D.read_labels(sess, lbase).collect()},
            {(r.a_id, r.b_id) for r in D.read_edge_ledger(sess, ebase).collect()},
        )

    def drop_all(ibase, lbase, ebase):
        _drop(spark, ibase, ("hbands", "meta"))
        for t in ("labels", "meta", "state", "tombstones", "tdlog"):
            spark.sql(f"DROP TABLE IF EXISTS {lbase}_{t}")
        _drop(spark, ebase, ("edges", "meta"))
        for b, t in ((lbase, "labels"), (lbase, "meta"), (ebase, "edges"), (ebase, "meta")):
            for extra in ("__rewrite", "__prewrite"):
                spark.sql(f"DROP TABLE IF EXISTS {b}_{t}{extra}")

    try:
        got_r = run_loop(
            spark, "t_rg_idx", "t_rg_lbl", "t_rg_led", True, tmp_path
        )
        got_n = run_loop(
            spark, "t_rgn_idx", "t_rgn_lbl", "t_rgn_led", False, tmp_path
        )
        assert got_r == got_n  # restart changed NOTHING
        scan, labels, ledger = got_r
        assert all(victim not in (a, b) for a, b, _h in scan)
        # independent oracle: labels == CC over the surviving ledger
        surv = local_frame(
            spark, sorted(ledger), "a_id long, b_id long"
        )
        nodes = (
            local_frame(
                spark, [(d,) for d, _s in corpus_rows + b1_rows + b2_rows],
                "node long",
            ).filter(F.col("node") != victim)
        )
        want = D.connected_components(surv, nodes, scope="rg_ccf")
        assert labels == {(r.node, r.rep) for r in want.collect()}
        assert all(n != victim and r != victim for n, r in labels)
    finally:
        drop_all("t_rg_idx", "t_rg_lbl", "t_rg_led")
        drop_all("t_rgn_idx", "t_rgn_lbl", "t_rgn_led")
