"""Deletion / upsert for the persisted indexes (r12, r11 verdict
task #2).

The bucketed index tables were INSERT-only: a takedown or a re-crawled
document meant a full corpus-sized rewrite. Now every index row
carries a generation stamp, deletions append (id, gen) rows to a
``{base}_tombstones`` table (cost ∝ deletions, nothing corpus-sized
moves), probes anti-join the broadcast tombstone relation map-side,
``reingest=True`` on append tombstones-then-appends so a re-crawled
doc is immediately served with only its NEW signature, and the family
``compact_*_index`` wrappers physically purge dead rows during the
(zero-shuffle) compaction rewrite and clear the tombstone table.

Pinned here, per the r11 verdict's DONE criteria and per family:
probe after delete equals a probe over a from-scratch rebuild without
the id; re-append of a changed doc yields exactly the new signature's
pairs; compaction purges tombstoned rows and resets the tombstone
table (with probe results unchanged by the purge).
"""

from __future__ import annotations

import random

import numpy as np
from pyspark.sql import functions as F

from rq_spark.operators import dedup as D
from rq_spark.operators import similarity as S
from rq_spark.bucketing import (
    add_tombstones,
    current_gen,
    filter_tombstoned,
    refresh_base_tables,
)
from rq_spark.queries.helpers import table
from rq_spark.util import local_frame

SF = "/root/testdata/sf0.01"


def _drop(spark, base, suffixes):
    for t in tuple(suffixes) + ("state", "tombstones"):
        spark.sql(f"DROP TABLE IF EXISTS {base}_{t}")


def _s64(v: int) -> int:
    return v - (1 << 64) if v >= (1 << 63) else v


def _sig_corpus():
    """100 random 64-bit signatures plus 20 planted 2-bit-flip
    near-dups (ids 1000+i near-dup ids 0..19) — every expected pair is
    computable by brute-force popcount."""
    rnd = random.Random(11)
    base = [rnd.getrandbits(64) for _ in range(100)]
    rows = [(i, _s64(v)) for i, v in enumerate(base)]
    for i in range(20):
        v = base[i] ^ (1 << (i % 64)) ^ (1 << ((i * 7 + 3) % 64))
        rows.append((1000 + i, _s64(v)))
    return rows, base


def _pairs(df):
    return {(r.a_id, r.b_id, r.hamming) for r in df.collect()}


def test_hamming_delete_reingest_and_purge(spark):
    rows, base = _sig_corpus()
    sig = local_frame(spark, rows, "doc long, sig long")
    b_live, b_ref = "t_tomb_ham", "t_tomb_ham_ref"
    try:
        D.write_hamming_index(sig, b_live, bands=4)
        baseline = _pairs(D.hamming_near_pairs_from_index(spark, b_live))
        assert any(1000 in (a, b) for a, b, _h in baseline)

        # DELETE id 1000: the pair scan must equal a from-scratch
        # rebuild without the id — and the deleted doc must vanish
        # from probes in BOTH roles (corpus side here, both sides of
        # the self-join)
        add_tombstones(
            spark, b_live, local_frame(spark, [(1000,)], "doc long"), "doc"
        )
        D.write_hamming_index(
            sig.filter(F.col("doc") != 1000), b_ref, bands=4
        )
        want = _pairs(D.hamming_near_pairs_from_index(spark, b_ref))
        got = _pairs(D.hamming_near_pairs_from_index(spark, b_live))
        assert got == want and not any(1000 in (a, b) for a, b, _h in got)
        probe = D.hamming_probe_from_index(
            spark,
            local_frame(spark, [(9000, rows[100][1])], "doc long, sig long"),
            b_live,
            max_hamming=3,
        ).collect()
        # rows[100] IS doc 1000's signature: its strong matches are
        # doc 0 (2 flips) — doc 1000 itself must NOT appear
        assert {r.corpus_id for r in probe} and all(
            r.corpus_id != 1000 for r in probe
        )

        # REINGEST doc 0 with a completely new signature: probes see
        # exactly the new signature's pairs (equals a rebuild where
        # doc 0 carries the new value)
        new0 = _s64(base[50] ^ (1 << 5))  # now a near-dup of doc 50
        D.append_to_hamming_index(
            local_frame(spark, [(0, new0)], "doc long, sig long"),
            b_live,
            reingest=True,
        )
        rebuilt = sig.filter(~F.col("doc").isin(0, 1000)).unionByName(
            local_frame(spark, [(0, new0)], "doc long, sig long")
        )
        D.write_hamming_index(rebuilt, b_ref, bands=4)
        want2 = _pairs(D.hamming_near_pairs_from_index(spark, b_ref))
        got2 = _pairs(D.hamming_near_pairs_from_index(spark, b_live))
        assert got2 == want2
        assert (0, 50, 1) in got2  # the NEW pair
        assert not any(
            a == 0 and h == 2 for a, _b, h in got2
        )  # the OLD near-dup pair (0, 1000+0 was deleted) is gone

        # PURGE: compaction physically drops dead rows and clears the
        # tombstone table; the pair scan is unchanged by it.
        # 120 docs written; 1000 deleted; doc 0's old rows dead, its
        # reingested rows live -> 119 live docs x 4 bands
        D.compact_hamming_index(spark, b_live)
        assert spark.table(f"{b_live}_hbands").count() == 119 * 4
        assert not spark.catalog.tableExists(f"{b_live}_tombstones")
        assert _pairs(D.hamming_near_pairs_from_index(spark, b_live)) == want2
    finally:
        _drop(spark, b_live, ("hbands", "meta"))
        _drop(spark, b_ref, ("hbands", "meta"))


def test_minhash_delete_reingest_and_purge(spark):
    docs = table(spark, SF, "documents")
    corpus = docs.filter(F.col("doc_id") % 3 == 0)
    probe = docs.filter(F.col("doc_id") % 3 == 2)
    b_live, b_ref = "t_tomb_mh", "t_tomb_mh_ref"
    mh = ("bands", "shingles", "meta")

    def probe_pairs(base):
        return {
            (r.new_id, r.corpus_id): round(r.jaccard, 9)
            for r in D.incremental_minhash_pairs_from_index(
                spark, probe, "text", "doc_id", base
            ).collect()
        }

    try:
        D.write_minhash_index(corpus, "text", "doc_id", b_live)
        baseline = probe_pairs(b_live)
        assert baseline
        victim = next(iter(baseline))[1]  # a corpus doc with matches

        add_tombstones(
            spark,
            b_live,
            local_frame(spark, [(victim,)], "doc_id long"),
            "doc_id",
        )
        D.write_minhash_index(
            corpus.filter(F.col("doc_id") != victim), "text", "doc_id", b_ref
        )
        assert probe_pairs(b_live) == probe_pairs(b_ref)
        assert all(cid != victim for (_n, cid) in probe_pairs(b_live))

        # REINGEST the victim with NEW text (another doc's words):
        # probes match it under the new shingles only
        # longest probe text: guaranteed to shingle (>= 3 words)
        donor_text = (
            probe.orderBy(F.length("text").desc(), "doc_id")
            .select("text")
            .limit(1)
            .collect()[0]
            .text
        )
        changed = local_frame(
            spark, [(victim, donor_text)], "doc_id long, text string"
        )
        D.append_to_minhash_index(changed, "text", "doc_id", b_live, reingest=True)
        D.write_minhash_index(
            corpus.filter(F.col("doc_id") != victim)
            .select("doc_id", "text")
            .unionByName(changed),
            "text",
            "doc_id",
            b_ref,
        )
        want = probe_pairs(b_ref)
        got = probe_pairs(b_live)
        assert got == want
        # the new text IS a probe doc's text, so the victim now matches
        # it at jaccard 1.0 under its new identity
        assert any(cid == victim for (_n, cid) in got)

        # PURGE + clear; probe unchanged
        g_new = current_gen(spark, b_live)  # the reingest append's gen
        D.compact_minhash_index(spark, b_live)
        assert not spark.catalog.tableExists(f"{b_live}_tombstones")
        assert probe_pairs(b_live) == want
        # physically gone: only the victim's REINGESTED rows remain
        assert (
            spark.table(f"{b_live}_shingles")
            .filter((F.col("doc") == victim) & (F.col("gen") < g_new))
            .count()
            == 0
        )
    finally:
        _drop(spark, b_live, mh)
        _drop(spark, b_ref, mh)


def test_ann_delete_reingest_and_purge(spark):
    vecs = table(spark, SF, "embeddings")
    corpus = vecs.filter(F.col("vec_id") % 2 == 0)
    queries = vecs.filter(F.col("vec_id") < 5)
    b_live, b_ref = "t_tomb_ann", "t_tomb_ann_ref"
    ann = ("codes", "vectors", "centroids", "codebooks", "meta")

    def topk(base):
        return {
            (r.query_id, r.neighbor_id, r.rk, round(r.cos_sim, 9))
            for r in S.ivfpq_topk_join_from_index(
                spark, queries, base, k=5, nprobe=4, rerank=20
            ).collect()
        }

    try:
        S.write_ann_index(corpus, b_live, n_centroids=8, m=8, n_codes=32, iters=2)
        _meta, cents, cb = S._read_ann_model(spark, b_live)
        baseline = topk(b_live)
        victim = next(n for (_q, n, rk, _c) in baseline if rk == 1)

        # DELETE: equals a rebuild WITHOUT the victim under the SAME
        # pinned model (training on the reduced corpus would move the
        # centroids — that would test the trainer, not the tombstone)
        add_tombstones(
            spark,
            b_live,
            local_frame(spark, [(victim,)], "vec_id long"),
            "vec_id",
        )
        S.write_ann_index(
            corpus.filter(F.col("vec_id") != victim),
            b_ref,
            pretrained=(cents, cb),
        )
        got = topk(b_live)
        assert got == topk(b_ref)
        assert all(n != victim for (_q, n, _rk, _c) in got)

        # REINGEST the victim with a different embedding (vec_id 1's —
        # an odd id, so it is NOT otherwise in the corpus)
        donor = vecs.filter(F.col("vec_id") == 1).select("embedding").collect()[
            0
        ].embedding
        changed = local_frame(
            spark, [(victim, list(donor))], "vec_id long, embedding array<double>"
        )
        S.append_to_ann_index(changed, b_live, reingest=True)
        S.write_ann_index(
            corpus.filter(F.col("vec_id") != victim)
            .select(
                "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
            )
            .unionByName(changed),
            b_ref,
            pretrained=(cents, cb),
        )
        want = topk(b_ref)
        assert topk(b_live) == want

        # PURGE + clear; serving unchanged; dead rows physically gone
        before = spark.table(f"{b_live}_codes").count()
        S.compact_ann_index(spark, b_live)
        after = spark.table(f"{b_live}_codes").count()
        assert after == before - 1  # exactly the victim's gen-0 code row
        assert not spark.catalog.tableExists(f"{b_live}_tombstones")
        assert topk(b_live) == want
        # the kNN graph also excludes nothing it shouldn't: victim
        # appears only under its NEW embedding
        g = S.knn_graph_from_index(spark, b_live, k=3).collect()
        assert any(r.query_id == victim or r.neighbor_id == victim for r in g)
    finally:
        _drop(spark, b_live, ann)
        _drop(spark, b_ref, ann)


def test_tombstone_degenerate_inputs(spark):
    """The adversarial-gate policy applied to the mutation path: an
    EMPTY tombstone batch is a harmless no-op (it bumps the generation
    — ids appended later must still outlive earlier deletions), an
    empty-batch reingest neither deletes nor appends anything, the
    non-broadcast probe honors tombstones identically to the broadcast
    one, and purging with zero live tombstones leaves the table
    byte-identical in content."""
    rows, _ = _sig_corpus()
    sig = local_frame(spark, rows[:30], "doc long, sig long")
    empty_ids = local_frame(spark, [], "doc long")
    empty_sig = local_frame(spark, [], "doc long, sig long")
    base = "t_tomb_degen"
    try:
        D.write_hamming_index(sig, base, bands=4)
        want = _pairs(D.hamming_near_pairs_from_index(spark, base))

        g0 = current_gen(spark, base)  # the full write's (bumped) gen
        add_tombstones(spark, base, empty_ids, "doc")  # +1, zero rows
        assert current_gen(spark, base) == g0 + 1
        assert _pairs(D.hamming_near_pairs_from_index(spark, base)) == want

        D.append_to_hamming_index(empty_sig, base, reingest=True)
        assert _pairs(D.hamming_near_pairs_from_index(spark, base)) == want

        # real delete, then: broadcast and non-broadcast probes agree
        add_tombstones(
            spark, base, local_frame(spark, [(0,)], "doc long"), "doc"
        )
        probe = local_frame(spark, [(9000, rows[0][1])], "doc long, sig long")
        bc = {
            (r.new_id, r.corpus_id, r.hamming)
            for r in D.hamming_probe_from_index(spark, probe, base).collect()
        }
        nobc = {
            (r.new_id, r.corpus_id, r.hamming)
            for r in D.hamming_probe_from_index(
                spark, probe, base, broadcast_batch=False
            ).collect()
        }
        assert bc == nobc and all(cid != 0 for (_n, cid, _h) in bc)

        # purge, then purge AGAIN with no tombstones left: content fixed
        D.compact_hamming_index(spark, base)
        n = spark.table(f"{base}_hbands").count()
        D.compact_hamming_index(spark, base)
        assert spark.table(f"{base}_hbands").count() == n == 29 * 4
    finally:
        _drop(spark, base, ("hbands", "meta"))


def test_tombstone_anti_join_is_broadcast_and_keeps_bucketed_scan(spark):
    """Pin the scale claim, not just state it (repo convention): with
    tombstones PRESENT and auto-broadcast disabled, the pair scan's
    plan must show the deletion-sized tombstone side as a
    BroadcastHashJoin LeftAnti (the explicit hint, not the planner's
    statistics) while the corpus side still reads its (band, bval)
    bucketing with zero Exchange — deletions may never cost the corpus
    a shuffle."""
    import re

    rows, _ = _sig_corpus()
    sig = local_frame(spark, rows, "doc long, sig long")
    base = "t_tomb_plan"
    try:
        D.write_hamming_index(sig, base, bands=4)
        add_tombstones(
            spark, base, local_frame(spark, [(5,)], "doc long"), "doc"
        )
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.debug.maxToStringFields", "1000")
        df = D.hamming_near_pairs_from_index(spark, base)
        df.collect()  # AQE finalizes the plan only after an action
        plan = (
            df._jdf.queryExecution().executedPlan().toString()
            .split("\n+- == Initial Plan ==")[0]
        )
        assert "Bucketed: true" in plan
        assert re.search(r"BroadcastHashJoin .*LeftAnti", plan), plan
        assert not re.findall(r"Exchange hashpartitioning\(band", plan)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
        spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
        _drop(spark, base, ("hbands", "meta"))


def test_reingest_crash_leaves_duplicates_never_deletes(spark, monkeypatch):
    """r12 review: reingest appends FIRST and tombstones after (stamped
    one generation below the new rows). Inject a crash at the tombstone
    step and assert the failure mode is visible DUPLICATES (old + new
    rows both probe — the documented plain-INSERT state, repaired by
    retrying), never a silent delete of the ids; then retry and assert
    the clean upsert state."""
    import pytest

    import rq_spark.bucketing as B

    rows, base_sigs = _sig_corpus()
    sig = local_frame(spark, rows, "doc long, sig long")
    base = "t_tomb_crash"
    try:
        D.write_hamming_index(sig, base, bands=4)
        new0 = _s64(base_sigs[20] ^ (1 << 7))  # near-dup of doc 20 now
        changed = local_frame(spark, [(0, new0)], "doc long, sig long")

        real_add = B.add_tombstones

        def dying_add(*a, **kw):
            raise RuntimeError("injected crash before the tombstone write")

        monkeypatch.setattr(B, "add_tombstones", dying_add)
        with pytest.raises(RuntimeError, match="injected crash"):
            D.append_to_hamming_index(changed, base, reingest=True)
        monkeypatch.setattr(B, "add_tombstones", real_add)

        # crash state: BOTH signatures of doc 0 are probe-visible —
        # duplicates, not a deletion (the old tombstone-first order
        # left doc 0 dead here with nothing written)
        got = _pairs(D.hamming_near_pairs_from_index(spark, base))
        assert (0, 20, 1) in got          # the new signature's pair
        assert any(b == 1000 and a == 0 for a, b, _h in got)  # the old one

        # retry completes the upsert: only the new signature remains
        D.append_to_hamming_index(changed, base, reingest=True)
        got = _pairs(D.hamming_near_pairs_from_index(spark, base))
        assert (0, 20, 1) in got
        assert not any(b == 1000 and a == 0 for a, b, _h in got)
    finally:
        _drop(spark, base, ("hbands", "meta"))


def _drop_rewrite_leftovers(spark, base, suffixes):
    for t in suffixes:
        for extra in ("__rewrite", "__prewrite"):
            spark.sql(f"DROP TABLE IF EXISTS {base}_{t}{extra}")


def test_full_write_crash_keeps_old_index_and_tombstones(spark, monkeypatch):
    """r13 (ADVICE r12, the medium finding): a full rewrite stages its
    tables under ``__rewrite`` names and swaps only at the END — so a
    crash during the (expensive) data write leaves the OLD index fully
    readable WITH its standing tombstones. The old order cleared the
    tombstones up front: the same crash silently resurrected deleted
    rows. A later rewrite then completes normally over the leftovers."""
    import pytest

    from rq_spark import bucketing as B

    rows, _ = _sig_corpus()
    sig = local_frame(spark, rows, "doc long, sig long")
    base = "t_tomb_worder"
    try:
        D.write_hamming_index(sig, base, bands=4)
        add_tombstones(
            spark, base, local_frame(spark, [(3,)], "doc long"), "doc"
        )
        want = _pairs(D.hamming_near_pairs_from_index(spark, base))
        assert want and all(3 not in (a, b) for a, b, _h in want)

        real_wb = B.write_bucketed

        def dying_wb(*a, **kw):
            raise RuntimeError("injected crash during the data write")

        monkeypatch.setattr(B, "write_bucketed", dying_wb)
        with pytest.raises(RuntimeError, match="injected crash"):
            D.write_hamming_index(sig, base, bands=4)
        monkeypatch.setattr(B, "write_bucketed", real_wb)

        # the old index — rows, tombstones, probe results — is intact
        assert spark.catalog.tableExists(f"{base}_tombstones")
        assert _pairs(D.hamming_near_pairs_from_index(spark, base)) == want

        # a completed rewrite resets deletion state by declared intent:
        # the old tombstone no longer applies to the rewritten rows
        D.write_hamming_index(sig, base, bands=4)
        assert not spark.catalog.tableExists(f"{base}_tombstones")
        got = _pairs(D.hamming_near_pairs_from_index(spark, base))
        ref = "t_tomb_worder_ref"
        D.write_hamming_index(sig, ref, bands=4)
        assert got == _pairs(D.hamming_near_pairs_from_index(spark, ref))
        _drop(spark, ref, ("hbands", "meta"))
    finally:
        _drop(spark, "t_tomb_worder_ref", ("hbands", "meta"))
        _drop_rewrite_leftovers(spark, base, ("hbands", "meta"))
        _drop(spark, base, ("hbands", "meta"))


def test_full_write_swap_crash_is_loud_then_rolls_back(spark, monkeypatch):
    """Crash INSIDE the rewrite swap: the meta table goes aside FIRST
    and comes back LAST, so every mid-swap state fails loudly
    (TABLE_OR_VIEW_NOT_FOUND) — probes can never silently join one
    family table's NEW rows against another's OLD rows (the r12
    wrong-jaccard window). Recovery (next begin) rolls BACK to the old
    index with its tombstones still standing and still honored."""
    import pytest

    from rq_spark import bucketing as B

    rows, _ = _sig_corpus()
    sig = local_frame(spark, rows, "doc long, sig long")
    sig2 = local_frame(
        spark, [(d + 5000, s) for d, s in rows], "doc long, sig long"
    )
    base = "t_tomb_swapcrash"
    tables = [f"{base}_meta", f"{base}_hbands"]
    try:
        D.write_hamming_index(sig, base, bands=4)
        add_tombstones(
            spark, base, local_frame(spark, [(3,)], "doc long"), "doc"
        )
        want = _pairs(D.hamming_near_pairs_from_index(spark, base))
        assert want and all(3 not in (a, b) for a, b, _h in want)

        real_rename = B._rename_table

        def dying_rename(s, old, new):
            # die on the LAST phase-2 rename: the data table is already
            # the new one, only the meta swap-in remains — the exact
            # window a silent mixed read would need
            if old == f"{base}_meta__rewrite":
                raise RuntimeError("injected crash inside the swap")
            return real_rename(s, old, new)

        monkeypatch.setattr(B, "_rename_table", dying_rename)
        with pytest.raises(RuntimeError, match="injected crash"):
            D.write_hamming_index(sig2, base, bands=4)
        monkeypatch.setattr(B, "_rename_table", real_rename)

        # mid-swap state is LOUD: the meta read fails, no probe answers
        with pytest.raises(Exception, match="TABLE_OR_VIEW_NOT_FOUND"):
            D.hamming_near_pairs_from_index(spark, base)

        # recovery rolls back to the OLD index; its tombstones were
        # never touched and still delete doc 3
        B._recover_index_rewrite(spark, tables)
        assert spark.catalog.tableExists(f"{base}_tombstones")
        assert _pairs(D.hamming_near_pairs_from_index(spark, base)) == want

        # and a subsequent full rewrite (which re-runs recovery
        # internally) completes and serves the NEW corpus
        D.write_hamming_index(sig2, base, bands=4)
        ref = "t_tomb_swapref"
        D.write_hamming_index(sig2, ref, bands=4)
        assert _pairs(
            D.hamming_near_pairs_from_index(spark, base)
        ) == _pairs(D.hamming_near_pairs_from_index(spark, ref))
        _drop(spark, ref, ("hbands", "meta"))
    finally:
        _drop_rewrite_leftovers(spark, base, ("hbands", "meta"))
        _drop(spark, base, ("hbands", "meta"))
        _drop(spark, "t_tomb_swapref", ("hbands", "meta"))


def test_tombstone_generation_semantics(spark):
    """The generation algebra directly: delete-then-reappend
    resurrects (new rows outlive the tombstone), re-delete kills the
    resurrected rows, deleting an unknown id is harmless, and
    filter_tombstoned without a tombstone table is the identity."""
    rows, _ = _sig_corpus()
    sig = local_frame(spark, rows[:10], "doc long, sig long")
    base = "t_tomb_gen"
    try:
        D.write_hamming_index(sig, base, bands=4)
        # the rewrite stamps its rows at a BUMPED generation (r13:
        # standing tombstones must be inert against them mid-swap)
        g0 = current_gen(spark, base)
        assert g0 == 1
        t = spark.table(f"{base}_hbands")
        # no tombstone table yet: identity, same plan object semantics
        assert filter_tombstoned(spark, base, t, "doc").count() == t.count()

        ids = lambda v: local_frame(spark, [(v,)], "doc long")  # noqa: E731
        add_tombstones(spark, base, ids(3), "doc")  # gen g0 + 1
        assert current_gen(spark, base) == g0 + 1
        live = filter_tombstoned(spark, base, spark.table(f"{base}_hbands"), "doc")
        assert live.filter("doc = 3").count() == 0

        # re-append id 3 (gen 2 > tombstone gen 1): resurrected
        D.append_to_hamming_index(
            local_frame(spark, [(3, rows[3][1])], "doc long, sig long"), base
        )
        live = filter_tombstoned(spark, base, spark.table(f"{base}_hbands"), "doc")
        assert live.filter("doc = 3").count() == 4  # the NEW rows only

        # second delete (gen 3) kills the resurrected rows too
        add_tombstones(spark, base, ids(3), "doc")
        live = filter_tombstoned(spark, base, spark.table(f"{base}_hbands"), "doc")
        assert live.filter("doc = 3").count() == 0

        # deleting an id the index never saw is harmless
        add_tombstones(spark, base, ids(77777), "doc")
        assert D.hamming_near_pairs_from_index(spark, base).count() >= 0
    finally:
        _drop(spark, base, ("hbands", "meta"))


def test_concurrent_writer_detection(spark, monkeypatch):
    """r13 (r12 verdict task #5): the single-writer contract is now
    ENFORCED, not just documented — every bump stamps a random nonce,
    writers re-read it after their data lands, and a rival bump in
    between raises ConcurrentWriterError (a lost-update detector, not a
    transaction protocol) instead of silently clobbering the counter."""
    import pytest

    import rq_spark.bucketing as B
    from rq_spark.bucketing import (
        ConcurrentWriterError,
        bump_gen,
        verify_sole_writer,
    )

    rows, _ = _sig_corpus()
    sig = local_frame(spark, rows[:20], "doc long, sig long")
    base = "t_tomb_writers"
    try:
        D.write_hamming_index(sig, base, bands=4)

        # the primitive: writer A bumps, writer B bumps, A's verify
        # fails (its state row was overwritten), B's passes
        ga, na = bump_gen(spark, base)
        gb, nb = bump_gen(spark, base)
        with pytest.raises(ConcurrentWriterError):
            verify_sole_writer(spark, base, ga, na)
        verify_sole_writer(spark, base, gb, nb)

        # end-to-end: a rival bump injected between an append's data
        # write and its verify is detected by the appender itself —
        # while its batch is still known and re-runnable
        real_wb = B.write_bucketed

        def rival_wb(*a, **kw):
            real_wb(*a, **kw)
            monkeypatch.setattr(B, "write_bucketed", real_wb)
            bump_gen(spark, base)  # the rival writer strikes

        monkeypatch.setattr(B, "write_bucketed", rival_wb)
        with pytest.raises(ConcurrentWriterError):
            D.append_to_hamming_index(
                local_frame(spark, [(999, 7)], "doc long, sig long"), base
            )
        # the single-writer path is unchanged: a clean retry succeeds
        D.append_to_hamming_index(
            local_frame(spark, [(999, 7)], "doc long, sig long"), base
        )
    finally:
        _drop(spark, base, ("hbands", "meta"))


def test_restart_orphan_dirs_fail_loudly_on_mutation(spark):
    """ADVICE r12: in a restarted metastore-less session the warehouse
    directory of the tombstone/state table survives while the catalog
    forgets it. A MUTATION (add_tombstones / bump_gen) must refuse to
    destroy those standing deletion records — loud IllegalStateError,
    never an rmtree — while a FULL REWRITE may reset them (declared
    intent, and they are already invisible to catalog-resolved probes)."""
    import shutil

    import pytest

    from rq_spark.bucketing import _managed_location
    from rq_spark.errors import IllegalStateError

    rows, _ = _sig_corpus()
    sig = local_frame(spark, rows[:20], "doc long, sig long")
    base = "t_tomb_orphan"
    try:
        D.write_hamming_index(sig, base, bands=4)
        add_tombstones(
            spark, base, local_frame(spark, [(3,)], "doc long"), "doc"
        )
        # simulate the restart: catalog forgets the table, dir survives
        loc = _managed_location(spark, f"{base}_tombstones")
        shutil.copytree(loc, loc + ".keep")
        spark.sql(f"DROP TABLE {base}_tombstones")
        shutil.move(loc + ".keep", loc)

        with pytest.raises(IllegalStateError, match="refusing to overwrite"):
            add_tombstones(
                spark, base, local_frame(spark, [(4,)], "doc long"), "doc"
            )

        # the full rewrite path resets deletion state by declared intent
        D.write_hamming_index(sig, base, bands=4)
        assert D.hamming_near_pairs_from_index(spark, base).count() >= 0

        # full-restart shape: the DATA tables' dirs also survive
        # catalog-less — the rewrite must reset those too (their
        # orphans would otherwise occupy the swap renames' target
        # dirs), and serve correctly afterwards
        for t in ("hbands", "meta", "state"):
            loc_t = _managed_location(spark, f"{base}_{t}")
            shutil.copytree(loc_t, loc_t + ".keep")
            spark.sql(f"DROP TABLE {base}_{t}")
            shutil.move(loc_t + ".keep", loc_t)
        D.write_hamming_index(sig, base, bands=4)
        ref = "t_tomb_orphan_ref"
        D.write_hamming_index(sig, ref, bands=4)
        assert _pairs(
            D.hamming_near_pairs_from_index(spark, base)
        ) == _pairs(D.hamming_near_pairs_from_index(spark, ref))
        _drop(spark, ref, ("hbands", "meta"))
    finally:
        import os

        for t in ("tombstones", "state", "hbands", "meta"):
            loc = _managed_location(spark, f"{base}_{t}")
            if not spark.catalog.tableExists(f"{base}_{t}") and os.path.isdir(
                loc
            ):
                shutil.rmtree(loc)
        _drop(spark, base, ("hbands", "meta"))
        _drop(spark, "t_tomb_orphan_ref", ("hbands", "meta"))


def test_reingest_unusable_docs_raise_before_any_write(spark):
    """ADVICE r12: reingest=True used to tombstone ALL batch ids while
    appending rows only for docs passing intake — a re-crawled doc with
    zero shingles / a zero-norm embedding was silently deleted. Now the
    intake guard raises BEFORE anything is written, and the standing
    index is untouched."""
    import pytest

    # minhash: a doc whose new text yields zero 3-gram shingles
    docs = table(spark, SF, "documents")
    corpus = docs.filter(F.col("doc_id") % 5 == 0).limit(40)
    base = "t_tomb_unusable"
    try:
        D.write_minhash_index(corpus, "text", "doc_id", base)
        victim = corpus.select("doc_id").limit(1).collect()[0].doc_id
        before = spark.table(f"{base}_shingles").count()
        bad = local_frame(
            spark, [(victim, "too short")], "doc_id long, text string"
        )
        with pytest.raises(ValueError, match="refusing a silent delete"):
            D.append_to_minhash_index(bad, "text", "doc_id", base, reingest=True)
        assert spark.table(f"{base}_shingles").count() == before
        assert not spark.catalog.tableExists(f"{base}_tombstones")
    finally:
        _drop(spark, base, ("bands", "shingles", "meta"))

    # hamming: a NULL signature
    rows, _ = _sig_corpus()
    sig = local_frame(spark, rows[:20], "doc long, sig long")
    hbase = "t_tomb_unusable_h"
    try:
        D.write_hamming_index(sig, hbase, bands=4)
        nullsig = local_frame(
            spark, [(3, None)], "doc long, sig long"
        )
        with pytest.raises(ValueError, match="refusing a silent delete"):
            D.append_to_hamming_index(nullsig, hbase, reingest=True)
        assert not spark.catalog.tableExists(f"{hbase}_tombstones")
    finally:
        _drop(spark, hbase, ("hbands", "meta"))

    # ann: a zero-norm embedding
    vecs = table(spark, SF, "embeddings")
    corpus_v = vecs.filter(F.col("vec_id") % 2 == 0).limit(40)
    abase = "t_tomb_unusable_a"
    try:
        S.write_ann_index(corpus_v, abase, n_centroids=4, m=4, n_codes=8, iters=1)
        vid = corpus_v.select("vec_id").limit(1).collect()[0].vec_id
        dim = len(corpus_v.select("embedding").limit(1).collect()[0].embedding)
        zero = local_frame(
            spark, [(vid, [0.0] * dim)], "vec_id long, embedding array<double>"
        )
        with pytest.raises(ValueError, match="refusing a silent delete"):
            S.append_to_ann_index(zero, abase, reingest=True)
        assert not spark.catalog.tableExists(f"{abase}_tombstones")
    finally:
        _drop(spark, abase, ("codes", "vectors", "centroids", "codebooks", "meta"))


def test_state_loss_never_regresses_gen_below_tombstones(spark):
    """r13 review: bump_gen's one-row state overwrite is
    drop-then-create — a crash inside it can lose the state table
    while standing tombstones survive, and the missing→0 fallback
    would restart the counter BELOW the tombstones' gens: every future
    append's rows silently hidden (the silent-delete class again).
    bump_gen now floors the counter at the max standing tombstone gen,
    so a re-appended doc outlives old tombstones even after state
    loss. Duplicate gen values across appends are harmless; regression
    below a tombstone is not."""
    rows, _ = _sig_corpus()
    sig = local_frame(spark, rows[:10], "doc long, sig long")
    base = "t_tomb_stateloss"
    try:
        D.write_hamming_index(sig, base, bands=4)
        ids = lambda v: local_frame(spark, [(v,)], "doc long")  # noqa: E731
        add_tombstones(spark, base, ids(3), "doc")
        add_tombstones(spark, base, ids(4), "doc")
        g_before = current_gen(spark, base)

        # simulate the crashed overwrite: state table (and dir) gone,
        # tombstones standing
        spark.sql(f"DROP TABLE {base}_state")
        assert current_gen(spark, base) == 0  # the raw fallback

        # re-append doc 3: its rows must OUTLIVE the standing tombstone
        D.append_to_hamming_index(
            local_frame(spark, [(3, rows[3][1])], "doc long, sig long"),
            base,
        )
        assert current_gen(spark, base) == g_before + 1
        live = filter_tombstoned(
            spark, base, spark.table(f"{base}_hbands"), "doc"
        )
        assert live.filter("doc = 3").count() == 4
        assert live.filter("doc = 4").count() == 0  # still deleted
    finally:
        _drop(spark, base, ("hbands", "meta"))


def test_state_loss_never_regresses_gen_below_data_rows(spark):
    """ADVICE r13 (medium): the state-loss floor used to consider only
    standing TOMBSTONE gens. Lose the state table while NO tombstones
    stand (or they stand below the data rows' gens) and the counter
    restarted at 1 while index rows stood at higher gens — the next
    `add_tombstones` stamped gen 1, `_dead_row_cond` (tomb_gen >=
    row_gen) never killed those rows, and the takedown was silently
    LOST. `bump_gen` now floors at the max standing gen across the
    family's tombstone AND data tables (`_max_standing_gen`)."""
    rows, _ = _sig_corpus()
    base = "t_tomb_stateloss_rows"
    try:
        D.write_hamming_index(
            local_frame(spark, rows[:8], "doc long, sig long"), base, bands=4
        )
        # two appends push data-row gens to 2 and 3; zero tombstones stand
        for doc, i in ((200, 20), (201, 21)):
            D.append_to_hamming_index(
                local_frame(spark, [(doc, rows[i][1])], "doc long, sig long"),
                base,
            )
        g_before = current_gen(spark, base)
        assert not spark.catalog.tableExists(f"{base}_tombstones")

        # the crashed drop-then-create overwrite: state gone, rows standing
        spark.sql(f"DROP TABLE {base}_state")
        assert current_gen(spark, base) == 0  # the raw fallback

        # a takedown AFTER state loss must still kill the gen-2 rows
        add_tombstones(
            spark, base, local_frame(spark, [(200,)], "doc long"), "doc"
        )
        assert current_gen(spark, base) == g_before + 1
        live = filter_tombstoned(
            spark, base, spark.table(f"{base}_hbands"), "doc"
        )
        assert live.filter("doc = 200").count() == 0  # not silently lost
        assert live.filter("doc = 201").count() == 4  # untouched survivor
    finally:
        _drop(spark, base, ("hbands", "meta"))


def test_add_tombstones_refuses_unknown_index(spark):
    """ADVICE r13 (medium): `add_tombstones` never checked the target
    exists — a typo'd base name (or an alias whose ptr table vanished
    mid-flip, which resolves to the alias itself) silently created
    fresh {base}_state/{base}_tombstones tables, landed the takedown
    on tables nothing serves, left the real index serving the deleted
    doc, AND poisoned the alias name for any future
    `set_index_pointer` (which refuses names that own tables). Now it
    fails loudly when ``{base}_meta`` is missing after resolution,
    mirroring `retire_index`'s guard — and writes NOTHING."""
    import pytest

    from rq_spark.errors import IllegalStateError

    base = "t_tomb_typo_nowhere"
    ids = local_frame(spark, [(1,)], "doc long")
    with pytest.raises(IllegalStateError, match="no meta table"):
        add_tombstones(spark, base, ids, "doc")
    # nothing was created: the name stays clean for set_index_pointer
    for t in ("state", "tombstones", "meta"):
        assert not spark.catalog.tableExists(f"{base}_{t}")

    # the alias-with-vanished-ptr shape hits the same guard: the alias
    # resolves to itself and owns no meta
    rows, _ = _sig_corpus()
    real, alias = "t_tomb_typo_real", "t_tomb_typo_serve"
    try:
        from rq_spark.bucketing import set_index_pointer

        D.write_hamming_index(
            local_frame(spark, rows[:8], "doc long, sig long"), real, bands=4
        )
        set_index_pointer(spark, alias, real)
        spark.sql(f"DROP TABLE {alias}_ptr")  # the mid-flip window
        with pytest.raises(IllegalStateError, match="no meta table"):
            add_tombstones(spark, alias, ids, "doc")
        assert not spark.catalog.tableExists(f"{alias}_state")
        # the REAL index kept serving everything — no lost takedown
        assert spark.table(f"{real}_hbands").count() == 32
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {alias}_ptr")
        _drop(spark, real, ("hbands", "meta"))


def test_blue_green_serving_pointer(spark):
    """Blue/green serving (r13): an in-place full rewrite is
    loud-but-DOWN during its swap and is not transparent to in-flight
    plans — the zero-downtime path is write the new index under a NEW
    physical base and flip a one-row serving pointer
    (`bucketing.set_index_pointer`). Pinned: probes, appends, and
    tombstones through the alias follow the flip; the old base stays
    untouched for in-flight readers until retired; alias chains
    refuse; a mid-flip reader fails loudly, never answers mixed."""
    import pytest

    from rq_spark.bucketing import resolve_index_base, set_index_pointer
    from rq_spark.errors import IllegalStateError

    rows, base_sigs = _sig_corpus()
    sig1 = local_frame(spark, rows, "doc long, sig long")
    sig2 = local_frame(
        spark, [(d + 5000, s) for d, s in rows], "doc long, sig long"
    )
    b1, b2, alias = "t_bg_blue", "t_bg_green", "t_bg_serve"
    try:
        D.write_hamming_index(sig1, b1, bands=4)
        D.write_hamming_index(sig2, b2, bands=4)
        set_index_pointer(spark, alias, b1)
        assert resolve_index_base(spark, alias) == b1
        assert _pairs(
            D.hamming_near_pairs_from_index(spark, alias)
        ) == _pairs(D.hamming_near_pairs_from_index(spark, b1))

        # the FLIP: new probes through the alias see the green base;
        # the blue base is untouched (in-flight readers stay consistent)
        blue_before = _pairs(D.hamming_near_pairs_from_index(spark, b1))
        set_index_pointer(spark, alias, b2)
        assert _pairs(
            D.hamming_near_pairs_from_index(spark, alias)
        ) == _pairs(D.hamming_near_pairs_from_index(spark, b2))
        assert _pairs(D.hamming_near_pairs_from_index(spark, b1)) == blue_before

        # mutations through the alias land on the SERVING base
        add_tombstones(
            spark, alias, local_frame(spark, [(5003,)], "doc long"), "doc"
        )
        got = _pairs(D.hamming_near_pairs_from_index(spark, alias))
        assert all(5003 not in (a, b) for a, b, _h in got)
        assert spark.catalog.tableExists(f"{b2}_tombstones")
        assert not spark.catalog.tableExists(f"{b1}_tombstones")
        new0 = _s64(base_sigs[60] ^ (1 << 9))
        D.append_to_hamming_index(
            local_frame(spark, [(9991, new0)], "doc long, sig long"), alias
        )
        probe = D.hamming_probe_from_index(
            spark,
            local_frame(spark, [(9992, new0)], "doc long, sig long"),
            alias,
        ).collect()
        assert any(r.corpus_id == 9991 for r in probe)
        D.compact_hamming_index(spark, alias)  # purge lands on b2
        assert not spark.catalog.tableExists(f"{b2}_tombstones")

        # alias chains refuse (one hop only)
        with pytest.raises(IllegalStateError, match="alias chains"):
            set_index_pointer(spark, "t_bg_serve2", alias)

        # mid-flip window is LOUD: with the ptr dropped, the alias is
        # treated as a physical base and its meta read fails — never a
        # silent answer from a half-flipped state
        spark.sql(f"DROP TABLE {alias}_ptr")
        with pytest.raises(Exception, match="TABLE_OR_VIEW_NOT_FOUND"):
            D.hamming_near_pairs_from_index(spark, alias)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {alias}_ptr")
        spark.sql("DROP TABLE IF EXISTS t_bg_serve2_ptr")
        _drop(spark, b1, ("hbands", "meta"))
        _drop(spark, b2, ("hbands", "meta"))


def test_stream_probe_against_standing_index(spark, tmp_path):
    """Streaming face of the ingest loop (r13,
    `streaming.probe_index_stream`): micro-batches of fresh signatures
    probe the STANDING index via foreachBatch over the exact batch
    operator. Pinned: (a) per-batch results equal the batch probe of
    the same rows; (b) a tombstone added BETWEEN micro-batches is
    honored by the next one without restarting the query — the
    takedown reaches the live stream."""
    from rq_spark.streaming import probe_index_stream

    rows, base_sigs = _sig_corpus()
    sig = local_frame(spark, rows, "doc long, sig long")
    base = "t_tomb_stream"
    src = str(tmp_path / "sigstream")
    try:
        D.write_hamming_index(sig, base, bands=4)

        # batch 1: a probe doc near doc 0 (2 flips from rows[100]'s id
        # 1000 signature = doc 0's near-dup); batch 2: the same probe
        # AFTER doc 0 is taken down
        probe_sig = rows[100][1]
        local_frame(
            spark, [(7001, probe_sig)], "doc long, sig long"
        ).coalesce(1).write.mode("overwrite").parquet(f"{src}/f1")
        stream = (
            spark.readStream.schema("doc long, sig long")
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{src}/*")
        )
        got: dict[int, set] = {}

        def sink(df, epoch):
            got[epoch] = {
                (r.new_id, r.corpus_id, r.hamming) for r in df.collect()
            }

        q = probe_index_stream(stream, base, sink, max_hamming=3)
        try:
            q.processAllAvailable()
            batch1 = set().union(*got.values()) if got else set()
            want1 = {
                (r.new_id, r.corpus_id, r.hamming)
                for r in D.hamming_probe_from_index(
                    spark,
                    local_frame(
                        spark, [(7001, probe_sig)], "doc long, sig long"
                    ),
                    base,
                    max_hamming=3,
                ).collect()
            }
            assert batch1 == want1 and any(c == 0 for (_n, c, _h) in batch1)

            # takedown BETWEEN micro-batches: doc 0 deleted, then the
            # same signature arrives again as doc 7002
            add_tombstones(
                spark, base, local_frame(spark, [(0,)], "doc long"), "doc"
            )
            got.clear()
            local_frame(
                spark, [(7002, probe_sig)], "doc long, sig long"
            ).coalesce(1).write.mode("overwrite").parquet(f"{src}/f2")
            q.processAllAvailable()
            batch2 = set().union(*got.values()) if got else set()
            assert batch2  # still matches doc 1000 (the planted twin)
            assert all(c != 0 for (_n, c, _h) in batch2)
        finally:
            q.stop()
    finally:
        _drop(spark, base, ("hbands", "meta"))


def test_stream_probe_empty_batches(spark, tmp_path):
    """ADVICE r13 (low): `_probe_stream` used to run ``take(1)`` on
    EVERY micro-batch purely to skip empties — one extra Spark job per
    batch on the hot path, paid by non-empty batches too. The guard is
    gone: all three probe operators already yield empty output for
    empty input, so the sink simply receives an empty result. Pinned:
    an empty micro-batch flows through without error (sink invoked,
    zero rows), and the query keeps serving the NEXT, non-empty
    batch."""
    from rq_spark.streaming import probe_index_stream

    rows, _ = _sig_corpus()
    sig = local_frame(spark, rows, "doc long, sig long")
    base = "t_tomb_stream_empty"
    src = str(tmp_path / "emptystream")
    try:
        D.write_hamming_index(sig, base, bands=4)
        empty = local_frame(spark, [], "doc long, sig long")
        empty.coalesce(1).write.mode("overwrite").parquet(f"{src}/f1")
        stream = (
            spark.readStream.schema("doc long, sig long")
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{src}/*")
        )
        got: dict[int, set] = {}

        def sink(df, epoch):
            got[epoch] = {
                (r.new_id, r.corpus_id, r.hamming) for r in df.collect()
            }

        q = probe_index_stream(stream, base, sink, max_hamming=3)
        try:
            q.processAllAvailable()
            assert got and all(v == set() for v in got.values())
            assert q.exception() is None

            # the query survived: the next (real) batch still probes
            got.clear()
            local_frame(
                spark, [(7001, rows[100][1])], "doc long, sig long"
            ).coalesce(1).write.mode("overwrite").parquet(f"{src}/f2")
            q.processAllAvailable()
            assert any(v for v in got.values())
        finally:
            q.stop()
    finally:
        _drop(spark, base, ("hbands", "meta"))


def test_stream_probe_minhash_documents(spark, tmp_path):
    """The document-corpus streaming probe
    (`streaming.probe_minhash_index_stream`): a micro-batch of crawled
    documents is shingled under the index's PINNED banding and probed
    against the standing MinHash index; results equal the batch probe
    of the same rows, and the serving-alias pointer is honored."""
    from rq_spark.bucketing import set_index_pointer
    from rq_spark.streaming import probe_minhash_index_stream

    docs = table(spark, SF, "documents")
    corpus = docs.filter(F.col("doc_id") % 3 == 0)
    batch = docs.filter(F.col("doc_id") % 3 == 2)
    base, alias = "t_tomb_mhstream", "t_tomb_mhstream_alias"
    src = str(tmp_path / "docstream")
    try:
        D.write_minhash_index(corpus, "text", "doc_id", base)
        set_index_pointer(spark, alias, base)
        batch.coalesce(1).write.mode("overwrite").parquet(f"{src}/f1")
        stream = (
            spark.readStream.schema(batch.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{src}/*")
        )
        got: list = []

        def sink(df, epoch):
            got.extend(
                (r.new_id, r.corpus_id, round(r.jaccard, 9))
                for r in df.collect()
            )

        # probe THROUGH the alias: the pointer resolves per micro-batch
        q = probe_minhash_index_stream(
            stream, "text", "doc_id", alias, sink
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        want = {
            (r.new_id, r.corpus_id, round(r.jaccard, 9))
            for r in D.incremental_minhash_pairs_from_index(
                spark, batch, "text", "doc_id", base
            ).collect()
        }
        assert set(got) == want != set()
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {alias}_ptr")
        _drop(spark, base, ("bands", "shingles", "meta"))


def test_serving_pointer_guards(spark, monkeypatch):
    """r13 review of the blue/green layer — four silent failure shapes
    turned loud: (a) a flip target must EXIST (a typo'd flip would be
    an instant serving outage); (b) an alias may not collide with a
    physical index (a lost ptr would silently serve its stale tables);
    (c) a flip racing a mutation raises ConcurrentWriterError — the
    writes landed on the retired base, and the per-base nonce alone
    cannot see it; (d) a restarted session's orphaned ptr dir fails
    loudly in resolve instead of routing takedowns to tables nothing
    serves; (e) filter_tombstoned / clear_tombstones resolve aliases,
    so an alias-named call can never skip the deletion anti-join."""
    import shutil

    import pytest

    import rq_spark.bucketing as B
    from rq_spark.bucketing import (
        ConcurrentWriterError,
        _managed_location,
        resolve_index_base,
        set_index_pointer,
    )
    from rq_spark.errors import IllegalStateError

    rows, _ = _sig_corpus()
    sig = local_frame(spark, rows[:30], "doc long, sig long")
    b1, b2, alias = "t_ptr_b1", "t_ptr_b2", "t_ptr_serve"
    try:
        D.write_hamming_index(sig, b1, bands=4)
        D.write_hamming_index(sig, b2, bands=4)

        # (a) nonexistent target refuses
        with pytest.raises(IllegalStateError, match="no meta table"):
            set_index_pointer(spark, alias, "t_ptr_missing")
        # (b) alias colliding with a physical index refuses
        with pytest.raises(IllegalStateError, match="already names"):
            set_index_pointer(spark, b1, b2)

        set_index_pointer(spark, alias, b1)

        # (c) a flip racing a mutation is detected by the mutation
        real_bump = B.bump_gen

        def flip_bump(s, base):
            out = real_bump(s, base)
            monkeypatch.setattr(B, "bump_gen", real_bump)
            set_index_pointer(spark, alias, b2)  # the rival flip
            return out

        monkeypatch.setattr(B, "bump_gen", flip_bump)
        with pytest.raises(ConcurrentWriterError, match="flipped"):
            add_tombstones(
                spark, alias, local_frame(spark, [(1,)], "doc long"), "doc"
            )
        # the stranded tombstone sits on b1 (retired); the error told
        # the caller to re-run — doing so lands on the serving base
        add_tombstones(
            spark, alias, local_frame(spark, [(1,)], "doc long"), "doc"
        )
        assert spark.catalog.tableExists(f"{b2}_tombstones")

        # (e) alias-named tombstone helpers resolve to the serving base
        live = B.filter_tombstoned(
            spark, alias, spark.table(f"{b2}_hbands"), "doc"
        )
        assert live.filter("doc = 1").count() == 0
        B.clear_tombstones(spark, alias)
        assert not spark.catalog.tableExists(f"{b2}_tombstones")

        # (d) orphaned ptr dir: catalog forgets it, dir survives —
        # resolve fails loudly instead of routing writes to the alias
        loc = _managed_location(spark, f"{alias}_ptr")
        shutil.copytree(loc, loc + ".keep")
        spark.sql(f"DROP TABLE {alias}_ptr")
        shutil.move(loc + ".keep", loc)
        with pytest.raises(IllegalStateError, match="refusing to overwrite"):
            resolve_index_base(spark, alias)
    finally:
        import os

        loc = _managed_location(spark, f"{alias}_ptr")
        if not spark.catalog.tableExists(f"{alias}_ptr") and os.path.isdir(loc):
            shutil.rmtree(loc)
        spark.sql(f"DROP TABLE IF EXISTS {alias}_ptr")
        _drop(spark, b1, ("hbands", "meta"))
        _drop(spark, b2, ("hbands", "meta"))


def test_stream_probe_ann_vectors(spark, tmp_path):
    """The vector family's streaming probe
    (`streaming.probe_ann_index_stream`): a micro-batch of fresh
    embeddings runs the IVFPQ top-k join against the standing index
    under its pinned model; results equal the batch probe of the same
    rows."""
    from rq_spark.streaming import probe_ann_index_stream

    vecs = table(spark, SF, "embeddings")
    corpus = vecs.filter(F.col("vec_id") % 2 == 0)
    queries = vecs.filter(F.col("vec_id") < 9).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    base = "t_tomb_annstream"
    src = str(tmp_path / "vecstream")
    try:
        S.write_ann_index(corpus, base, n_centroids=8, m=8, n_codes=32, iters=2)
        queries.coalesce(1).write.mode("overwrite").parquet(f"{src}/f1")
        stream = (
            spark.readStream.schema(queries.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{src}/*")
        )
        got: list = []

        def sink(df, epoch):
            got.extend(
                (r.query_id, r.neighbor_id, r.rk, round(r.cos_sim, 9))
                for r in df.collect()
            )

        q = probe_ann_index_stream(stream, base, sink, k=5, nprobe=4, rerank=20)
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        want = {
            (r.query_id, r.neighbor_id, r.rk, round(r.cos_sim, 9))
            for r in S.ivfpq_topk_join_from_index(
                spark, queries, base, k=5, nprobe=4, rerank=20
            ).collect()
        }
        assert set(got) == want != set()
    finally:
        _drop(spark, base, ("codes", "vectors", "centroids", "codebooks", "meta"))


def test_lifecycle_model_fuzz(spark):
    """Model-based lifecycle fuzzer (r13): a random 12-step sequence of
    {append, reingest, delete, compact, full rewrite} runs against the
    Hamming index while a plain Python dict (doc → live signature)
    tracks ground truth; after EVERY step the full pair scan must equal
    brute-force popcount pairs over the model (bands=4 gives exact
    recall at radius 3, so the comparison is exact, not probabilistic).
    Directed tests pin each transition once — this pins the
    INTERACTIONS: reingest-after-delete, delete-after-compact,
    rewrite-over-tombstones, append-after-rewrite, in whatever order
    the seed draws. The whole sequence runs THROUGH A SERVING ALIAS,
    and 'rotate' (blue/green: write the live set to a fresh base, flip
    the pointer, retire the old base) is one of the fuzzed ops — so
    alias resolution, rotation, and every mutation interleave
    randomly too."""
    from rq_spark.bucketing import retire_index, set_index_pointer

    rnd = random.Random(101)
    pool = [rnd.getrandbits(64) for _ in range(10)]

    def new_sig() -> int:
        v = rnd.choice(pool)
        for _ in range(rnd.randint(0, 4)):
            v ^= 1 << rnd.randrange(64)
        return _s64(v)

    def brute(model: dict) -> set:
        out = set()
        ids = sorted(model)
        for i, a in enumerate(ids):
            for b in ids[i + 1:]:
                h = bin(
                    (model[a] ^ model[b]) & ((1 << 64) - 1)
                ).count("1")
                if h <= 3:
                    out.add((a, b, h))
        return out

    def mkdf(d: dict):
        return local_frame(
            spark, sorted(d.items()), "doc long, sig long"
        )

    serve = "t_tomb_fuzz_serve"
    n_bases = 1
    next_id = 100
    try:
        model = {i: new_sig() for i in range(20)}
        D.write_hamming_index(mkdf(model), "t_tomb_fuzz_b0", bands=4)
        set_index_pointer(spark, serve, "t_tomb_fuzz_b0")
        log = ["write(20) → b0"]
        for _ in range(12):
            op = rnd.choice(
                ["append", "reingest", "delete", "compact", "rewrite",
                 "rotate"]
            )
            if op == "append":  # fresh ids only (plain append = INSERT)
                batch = {}
                for _ in range(rnd.randint(1, 3)):
                    batch[next_id] = new_sig()
                    next_id += 1
                D.append_to_hamming_index(mkdf(batch), serve)
                model.update(batch)
                log.append(f"append{sorted(batch)}")
            elif op == "reingest" and model:
                ids = rnd.sample(sorted(model), min(2, len(model)))
                batch = {i: new_sig() for i in ids}
                batch[next_id] = new_sig()  # a fresh id rides along
                next_id += 1
                D.append_to_hamming_index(mkdf(batch), serve, reingest=True)
                model.update(batch)
                log.append(f"reingest{sorted(batch)}")
            elif op == "delete" and model:
                ids = rnd.sample(sorted(model), min(2, len(model)))
                ids.append(999_999)  # an unknown id is harmless
                add_tombstones(
                    spark, serve,
                    local_frame(spark, [(i,) for i in ids], "doc long"),
                    "doc",
                )
                for i in ids:
                    model.pop(i, None)
                log.append(f"delete{ids}")
            elif op == "compact":
                D.compact_hamming_index(spark, serve)
                log.append("compact")
            elif op == "rotate":  # blue/green: new base, flip, retire
                old = f"t_tomb_fuzz_b{n_bases - 1}"
                new = f"t_tomb_fuzz_b{n_bases}"
                n_bases += 1
                D.write_hamming_index(mkdf(model), new, bands=4)
                set_index_pointer(spark, serve, new)
                retire_index(spark, old, ["meta", "hbands"])
                log.append(f"rotate → {new}")
            else:  # full rewrite over the live set plus two fresh docs
                for _ in range(2):
                    model[next_id] = new_sig()
                    next_id += 1
                D.write_hamming_index(mkdf(model), serve, bands=4)
                log.append("rewrite")
            got = _pairs(D.hamming_near_pairs_from_index(spark, serve))
            assert got == brute(model), "\n".join(log)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {serve}_ptr")
        for k in range(n_bases):
            _drop(spark, f"t_tomb_fuzz_b{k}", ("hbands", "meta"))


def test_retire_index_guarded_by_serving_pointers(spark):
    """`bucketing.retire_index` closes the blue/green rotation: it
    refuses to drop a base any serving pointer still targets (instant
    outage otherwise), and cleanly drops every family table once the
    pointer has moved on."""
    import pytest

    from rq_spark.bucketing import retire_index, set_index_pointer
    from rq_spark.errors import IllegalStateError

    rows, _ = _sig_corpus()
    sig = local_frame(spark, rows[:20], "doc long, sig long")
    b1, b2, alias = "t_ret_b1", "t_ret_b2", "t_ret_serve"
    try:
        D.write_hamming_index(sig, b1, bands=4)
        D.write_hamming_index(sig, b2, bands=4)
        set_index_pointer(spark, alias, b1)
        with pytest.raises(IllegalStateError, match="still targets"):
            retire_index(spark, b1, ["meta", "hbands"])
        # r13 review: fail-loud shapes — retiring an alias, a typo'd
        # base, or comparing targets case-sensitively must never be a
        # silent no-op/bypass
        with pytest.raises(IllegalStateError, match="is a serving alias"):
            retire_index(spark, alias, ["meta", "hbands"])
        with pytest.raises(IllegalStateError, match="no meta table"):
            retire_index(spark, "t_ret_typo", ["meta", "hbands"])
        with pytest.raises(IllegalStateError, match="still targets"):
            retire_index(spark, b1.upper(), ["meta", "hbands"])
        set_index_pointer(spark, alias, b2)
        retire_index(spark, b1, ["meta", "hbands"])
        for s in ("meta", "hbands", "state", "tombstones"):
            assert not spark.catalog.tableExists(f"{b1}_{s}")
        # the serving base is untouched and still answers
        assert D.hamming_near_pairs_from_index(spark, alias).count() >= 0
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {alias}_ptr")
        _drop(spark, b1, ("hbands", "meta"))
        _drop(spark, b2, ("hbands", "meta"))


def test_stream_ingest_appends_and_survives_redelivery(spark, tmp_path):
    """Streaming INGEST face of the loop (r14, r13 verdict task #4):
    foreachBatch is at-least-once, so a naive append wrapper would
    double-append index rows on a redelivery. The ingest scaffold is
    idempotent two ways — the appenders' reingest path (a replay's
    tombstones kill whatever a previous partial attempt wrote) and an
    applied-epoch marker (a committed epoch redelivered no-ops).
    Pinned: (a) a real two-batch stream leaves the index equal to a
    from-scratch rebuild; (b) redelivering a committed epoch changes
    nothing; (c) a crash-after-append-before-marker replay (the
    undetectable case) still converges to exactly ONE live copy per
    row; (d) an empty epoch advances the marker without a gen bump."""
    from rq_spark import streaming as ST
    from rq_spark.streaming import (
        _ingest_batch_fn,
        _read_applied_epoch,
        ingest_hamming_index_stream,
    )

    rows, _ = _sig_corpus()
    corpus, b1, b2, b3 = rows[:60], rows[60:80], rows[80:100], rows[100:110]
    mk = lambda rs: local_frame(spark, rs, "doc long, sig long")  # noqa: E731
    base, ref = "t_ing_live", "t_ing_ref"
    qname = "t_ing_q"
    src = str(tmp_path / "ingstream")

    def live_rows(b):
        return filter_tombstoned(
            spark, b, spark.table(f"{b}_hbands"), "doc"
        ).select("doc", "sig", "band", "bval")

    def live_stats(b):
        df = live_rows(b)
        per_doc = {r.doc: r.n for r in df.groupBy("doc").agg(
            F.count(F.lit(1)).alias("n")).collect()}
        return {(r.doc, r.sig, r.band, r.bval) for r in df.collect()}, per_doc

    try:
        D.write_hamming_index(mk(corpus), base, bands=4)

        # (a) two real micro-batches through the engine
        mk(b1).coalesce(1).write.parquet(f"{src}/f1")
        stream = (
            spark.readStream.schema("doc long, sig long")
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{src}/*")
        )
        q = ingest_hamming_index_stream(stream, base, qname)
        try:
            q.processAllAvailable()
            mk(b2).coalesce(1).write.parquet(f"{src}/f2")
            q.processAllAvailable()
        finally:
            q.stop()
        D.write_hamming_index(mk(corpus + b1 + b2), ref, bands=4)
        got_set, got_counts = live_stats(base)
        want_set, want_counts = live_stats(ref)
        assert got_set == want_set and got_counts == want_counts
        last_epoch = _read_applied_epoch(spark, base, qname)
        assert last_epoch >= 1

        # (b) redeliver a COMMITTED epoch: the marker no-ops it (and
        # the gen does not move — nothing was applied)
        h = _ingest_batch_fn(
            spark, base,
            lambda b: D.append_to_hamming_index(b, base, reingest=True),
            qname,
        )
        g0 = current_gen(spark, base)
        h(mk(b2), last_epoch)
        assert current_gen(spark, base) == g0
        assert live_stats(base) == (want_set, want_counts)

        # (c) crash after append, before marker: the partial attempt's
        # rows landed (worst case: ALL of them), the marker is stale,
        # and the engine redelivers the same epoch — the replay's
        # reingest tombstones the earlier copy, leaving exactly ONE
        # live row set (a naive append would leave TWO copies the
        # set-compare cannot see; the per-doc counts can)
        D.append_to_hamming_index(mk(b3), base, reingest=True)  # the
        # partial attempt (rows landed, marker never moved)
        h(mk(b3), last_epoch + 1)  # the redelivery
        D.write_hamming_index(mk(corpus + b1 + b2 + b3), ref, bands=4)
        got_set, got_counts = live_stats(base)
        want_set, want_counts = live_stats(ref)
        assert got_set == want_set and got_counts == want_counts
        assert all(n == 4 for n in got_counts.values())  # one copy each
        assert _read_applied_epoch(spark, base, qname) == last_epoch + 1

        # (d) an empty epoch advances the marker with NO gen bump
        g1 = current_gen(spark, base)
        h(mk([]).limit(0), last_epoch + 2)
        assert _read_applied_epoch(spark, base, qname) == last_epoch + 2
        assert current_gen(spark, base) == g1

        # probes agree end-to-end (value-level, not just row sets)
        assert _pairs(D.hamming_near_pairs_from_index(spark, base)) == _pairs(
            D.hamming_near_pairs_from_index(spark, ref)
        )
        assert ST is not None
    finally:
        _drop(spark, base, ("hbands", "meta", "applied"))
        _drop(spark, ref, ("hbands", "meta", "applied"))


def test_preflip_reader_window_and_retire(spark):
    """The drain contract made explicit (r14, r13 verdict task #6):
    a probe plan resolved through the alias BEFORE the flip pins the
    old base's files — it keeps evaluating correctly after the flip
    (the flip moves no bytes), which is the entire safe window; after
    `retire_index` (delete-under-reader) the same plan has exactly TWO
    possible outcomes, both pinned: a DataFrame whose shuffle outputs
    were already materialized may answer the OLD base once more
    (consistent — never the new base, never mixed), and any FRESH
    execution over the same lineage fails LOUDLY on the rescan.
    'Drained' therefore means: every pre-flip plan has run its last
    execution — a bounded, schedulable quantity, not folklore."""
    import pytest

    from rq_spark.bucketing import retire_index, set_index_pointer

    rows, _ = _sig_corpus()
    sig1 = local_frame(spark, rows, "doc long, sig long")
    sig2 = local_frame(
        spark, [(d + 5000, s) for d, s in rows], "doc long, sig long"
    )
    b1, b2, alias = "t_drain_blue", "t_drain_green", "t_drain_serve"
    try:
        D.write_hamming_index(sig1, b1, bands=4)
        set_index_pointer(spark, alias, b1)
        # the in-flight reader: resolved through the alias pre-flip
        preflip = D.hamming_near_pairs_from_index(spark, alias)
        want_old = _pairs(preflip)
        assert want_old

        # the flip: zero-downtime cutover to the green base
        D.write_hamming_index(sig2, b2, bands=4)
        set_index_pointer(spark, alias, b2)

        # [flip, retire] window: the pre-flip plan still evaluates
        # correctly — REPEATEDLY — against the old base's files, while
        # new resolutions see the green base
        assert _pairs(preflip) == want_old
        assert _pairs(preflip) == want_old
        assert _pairs(D.hamming_near_pairs_from_index(spark, alias)) == {
            (a + 5000, b + 5000, h) for a, b, h in want_old
        }

        # retire = delete-under-reader, two lawful outcomes only:
        retire_index(spark, b1, ["meta", "hbands"])
        # (1) the already-executed DataFrame reuses its materialized
        # shuffle map outputs — if it answers at all, it answers the
        # OLD base verbatim (consistent), never the green base
        try:
            again = _pairs(preflip)
        except Exception as e:  # noqa: BLE001 — the loud outcome
            assert "FILE_NOT_EXIST" in str(e) or "does not exist" in str(e)
        else:
            assert again == want_old
        # (2) a FRESH execution over the same lineage (no reusable
        # shuffle output) must fail LOUDLY on the rescan
        with pytest.raises(Exception) as exc:
            preflip.where("a_id >= 0").collect()
        msg = str(exc.value)
        assert (
            "FILE_NOT_EXIST" in msg
            or "TABLE_OR_VIEW_NOT_FOUND" in msg
            or "does not exist" in msg
            or "PATH_NOT_FOUND" in msg
        ), msg
        # and a new resolution through the alias still serves green
        assert _pairs(D.hamming_near_pairs_from_index(spark, alias)) == {
            (a + 5000, b + 5000, h) for a, b, h in want_old
        }
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {alias}_ptr")
        _drop(spark, b1, ("hbands", "meta"))
        _drop(spark, b2, ("hbands", "meta"))


def test_stream_ingest_minhash_and_ann_siblings(spark):
    """The document and vector ingest siblings share
    `_ingest_batch_fn`'s idempotence with the hamming face; pinned
    here per family (direct handler delivery — the engine redelivery
    shape): redelivering a committed epoch no-ops, a stale-marker
    replay converges to ONE live copy, and the final index equals a
    from-scratch rebuild (under the day-0 pinned model for ANN, which
    is what append promises)."""
    from rq_spark.streaming import _ingest_batch_fn, _read_applied_epoch

    docs = table(spark, SF, "documents")
    corpus = docs.filter(F.col("doc_id") % 3 == 0).limit(60)
    batch = docs.filter(F.col("doc_id") % 3 == 1).limit(20)
    heldout = docs.filter(F.col("doc_id") % 3 == 2).limit(20)
    base, ref = "t_ingmh_live", "t_ingmh_ref"
    mh = ("bands", "shingles", "meta", "applied")
    try:
        D.write_minhash_index(corpus, "text", "doc_id", base)
        h = _ingest_batch_fn(
            spark, base,
            lambda b: D.append_to_minhash_index(
                b, "text", "doc_id", base, reingest=True
            ),
            "q_mh",
        )
        h(batch, 0)
        g0 = current_gen(spark, base)
        h(batch, 0)  # committed-epoch redelivery: no-op, gen unmoved
        assert current_gen(spark, base) == g0
        h(batch, 1)  # stale-marker replay: re-apply, still one copy
        assert _read_applied_epoch(spark, base, "q_mh") == 1
        live = filter_tombstoned(
            spark, base, spark.table(f"{base}_shingles"), "doc"
        )
        # one live copy per doc (the shingles table is one row per doc)
        assert live.count() == live.select("doc").distinct().count()
        D.write_minhash_index(
            corpus.unionByName(batch), "text", "doc_id", ref
        )
        probe = lambda b: {  # noqa: E731
            (r.new_id, r.corpus_id): round(r.jaccard, 9)
            for r in D.incremental_minhash_pairs_from_index(
                spark, heldout, "text", "doc_id", b
            ).collect()
        }
        assert probe(base) == probe(ref)
    finally:
        _drop(spark, base, mh)
        _drop(spark, ref, mh)

    from rq_spark.operators import similarity as S

    vecs = table(spark, SF, "embeddings")
    vcorpus = vecs.filter(F.col("vec_id") % 2 == 0).limit(60)
    vbatch = vecs.filter(F.col("vec_id") % 2 == 1).limit(15)
    vheld = vecs.filter(
        (F.col("vec_id") % 4 == 2) & (F.col("vec_id") < 40)
    )
    abase, aref = "t_ingann_live", "t_ingann_ref"
    ann = ("codes", "vectors", "centroids", "codebooks", "meta", "applied")
    try:
        S.write_ann_index(vcorpus, abase, n_centroids=4, m=4, n_codes=8, iters=1)
        _meta, cents, cb = S._read_ann_model(spark, abase)
        ha = _ingest_batch_fn(
            spark, abase,
            lambda b: S.append_to_ann_index(b, abase, reingest=True),
            "q_ann",
        )
        ha(vbatch, 0)
        ha(vbatch, 0)
        ha(vbatch, 1)
        live = filter_tombstoned(
            spark, abase, spark.table(f"{abase}_codes"), "neighbor_id"
        )
        assert live.count() == live.select("neighbor_id").distinct().count()
        S.write_ann_index(
            vcorpus.unionByName(vbatch), aref, pretrained=(cents, cb)
        )
        topk = lambda b: {  # noqa: E731
            (r.query_id, r.neighbor_id, r.rk, round(r.cos_sim, 9))
            for r in S.ivfpq_topk_join_from_index(
                spark, vheld, b, k=5, nprobe=4, rerank=20
            ).collect()
        }
        assert topk(abase) == topk(aref) != set()
    finally:
        _drop(spark, abase, ann)
        _drop(spark, aref, ann)


def test_continuous_dedup_loop_stream_parity(spark, tmp_path):
    """The WHOLE daily loop, continuously (r14,
    `streaming.continuous_dedup_loop_stream`): per micro-batch —
    probe the standing index pre-append, append the pairs to the edge
    ledger, absorb into the persisted labels, append the batch to the
    index (reingest mode). Pinned: (a) two micro-batches through the
    engine leave labels, ledger, AND live index rows equal to the
    hand-run batch loop in the same pinned order; (b) redelivering a
    committed epoch no-ops; (c) the worst partial-failure replay —
    ledger appended AND index appended, marker stale, so the re-probe
    sees the batch in the corpus — converges: labels are a fixed
    point, the ledger's edge SET is unchanged (duplicate rows are
    lawful and duplicate-insensitive downstream), the index holds one
    live copy per doc."""
    from rq_spark.streaming import (
        _loop_batch_fn,
        _read_applied_epoch,
        continuous_dedup_loop_stream,
    )

    rows, _ = _sig_corpus()
    corpus = rows[:60]
    b1 = rows[100:110] + rows[60:65]  # 10 planted twins + 5 randoms
    b2 = rows[110:120] + rows[65:70]
    mk = lambda rs: local_frame(spark, rs, "doc long, sig long")  # noqa: E731

    def day0(ibase, lbase, ebase):
        D.write_hamming_index(mk(corpus), ibase, bands=4)
        pairs = D.hamming_near_pairs_from_index(spark, ibase).select(
            "a_id", "b_id"
        ).localCheckpoint()
        D.write_labels(
            D.connected_components(
                pairs,
                mk(corpus).select(F.col("doc").alias("node")),
                scope=f"cl_cc0_{ibase}",
            ),
            lbase,
        )
        D.write_edge_ledger(pairs, ebase)

    def hand_day(batch, ibase, lbase, ebase, tag):
        probe = D.hamming_probe_from_index(
            spark, batch, ibase, max_hamming=3
        ).filter(F.col("new_id") != F.col("corpus_id"))
        within = D.hamming_near_pairs(batch, max_hamming=3)
        e = (
            probe.select(
                F.col("new_id").alias("a_id"), F.col("corpus_id").alias("b_id")
            )
            .unionByName(within.select("a_id", "b_id"))
            .localCheckpoint()
        )
        D.append_edge_ledger(e, ebase)
        D.write_labels(
            D.absorb_edges(
                D.read_labels(spark, lbase),
                e,
                new_nodes=batch.select(F.col("doc").alias("node")),
                scope=f"cl_{tag}",
            ),
            lbase,
        )
        D.append_to_hamming_index(batch, ibase, reingest=True)
        return e

    def state(ibase, lbase, ebase):
        live = filter_tombstoned(
            spark, ibase, spark.table(f"{ibase}_hbands"), "doc"
        )
        return (
            {(r.doc, r.sig, r.band, r.bval) for r in live.collect()},
            {r.doc: r.n for r in live.groupBy("doc").agg(
                F.count(F.lit(1)).alias("n")).collect()},
            {(r.node, r.rep) for r in D.read_labels(spark, lbase).collect()},
            {(r.a_id, r.b_id) for r in D.read_edge_ledger(spark, ebase).collect()},
        )

    IB, LB, EB = "t_cloop_idx", "t_cloop_lbl", "t_cloop_led"
    IB2, LB2, EB2 = "t_cloopb_idx", "t_cloopb_lbl", "t_cloopb_led"
    qn = "t_cloop_q"
    src = str(tmp_path / "cloop")

    def drop(ib, lb, eb):
        _drop(spark, ib, ("hbands", "meta", "applied"))
        for t in ("labels", "meta", "state", "tombstones"):
            spark.sql(f"DROP TABLE IF EXISTS {lb}_{t}")
        _drop(spark, eb, ("edges", "meta"))
        for b, t in ((lb, "labels"), (lb, "meta"), (eb, "edges"), (eb, "meta")):
            for extra in ("__rewrite", "__prewrite"):
                spark.sql(f"DROP TABLE IF EXISTS {b}_{t}{extra}")

    try:
        day0(IB, LB, EB)
        day0(IB2, LB2, EB2)

        # (a) the engine-driven loop vs the hand-run loop
        mk(b1).coalesce(1).write.parquet(f"{src}/f1")
        stream = (
            spark.readStream.schema("doc long, sig long")
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{src}/*")
        )
        q = continuous_dedup_loop_stream(stream, IB, LB, EB, qn)
        try:
            q.processAllAvailable()
            mk(b2).coalesce(1).write.parquet(f"{src}/f2")
            q.processAllAvailable()
        finally:
            q.stop()
        # the index appends ran through the micro-batch CLONE session;
        # this session's cached listing of {IB}_* is stale until told
        refresh_base_tables(spark, IB, LB, EB)
        hand_day(mk(b1), IB2, LB2, EB2, "d1")
        e2 = hand_day(mk(b2), IB2, LB2, EB2, "d2")
        got, want = state(IB, LB, EB), state(IB2, LB2, EB2)
        assert got == want
        # the planted twins really produced cross-batch structure
        assert any(a >= 1000 or b >= 1000 for a, b in got[3])
        last = _read_applied_epoch(spark, IB, qn)
        assert last >= 1

        # (b) redeliver a committed epoch: no-op
        h = _loop_batch_fn(spark, IB, LB, EB, qn, 3)
        h(mk(b2), last)
        assert state(IB, LB, EB) == want

        # (c) worst-case partial replay: ledger + index appends landed,
        # marker stale — the re-run probes a corpus CONTAINING b2
        D.append_edge_ledger(e2, EB)
        D.append_to_hamming_index(mk(b2), IB, reingest=True)
        h(mk(b2), last + 1)
        got2 = state(IB, LB, EB)
        assert got2[0] == want[0]  # one live copy per index row
        assert got2[1] == want[1]
        assert got2[2] == want[2]  # labels: a fixed point
        assert got2[3] == want[3]  # ledger edge SET unchanged
        assert _read_applied_epoch(spark, IB, qn) == last + 1
    finally:
        drop(IB, LB, EB)
        drop(IB2, LB2, EB2)


def test_refresh_after_foreign_session_mutation(spark):
    """Cross-session cache coherence (r14): Spark's table-relation
    cache is per SESSION — a session that has read an index keeps
    serving its cached file listing after ANOTHER session (a
    foreachBatch micro-batch clone, a concurrent job) mutates the
    tables. Pinned: (a) `refresh_base_tables` makes a foreign-session
    append visible (addressed through a serving alias); (b) a
    foreign-session blue/green FLIP needs no refresh at all —
    `resolve_index_base` re-reads the one-row ptr fresh on every
    call, so probes in this session follow the flip immediately."""
    from rq_spark.bucketing import resolve_index_base, set_index_pointer

    rows, _ = _sig_corpus()
    corpus, b1 = rows[:40], rows[40:50]
    mk = lambda s, rs: local_frame(s, rs, "doc long, sig long")  # noqa: E731
    base, base2, alias = "t_fs_b1", "t_fs_b2", "t_fs_serve"
    s2 = spark.newSession()
    try:
        D.write_hamming_index(mk(spark, corpus), base, bands=4)
        set_index_pointer(spark, alias, base)
        # prime THIS session's listing cache before the foreign write
        n0 = spark.table(f"{base}_hbands").count()
        assert n0 == 40 * 4

        # (a) foreign-session append, visible here after refresh
        D.append_to_hamming_index(mk(s2, b1), alias)
        refresh_base_tables(spark, alias)
        assert spark.table(f"{base}_hbands").count() == n0 + 10 * 4
        live = filter_tombstoned(
            spark, alias, spark.table(f"{base}_hbands"), "doc"
        )
        assert live.select("doc").distinct().count() == 50

        # (b) foreign-session flip: picked up with NO refresh call
        D.write_hamming_index(mk(spark, corpus + b1), base2, bands=4)
        assert resolve_index_base(spark, alias) == base
        set_index_pointer(s2, alias, base2)
        assert resolve_index_base(spark, alias) == base2
        assert _pairs(D.hamming_near_pairs_from_index(spark, alias)) == _pairs(
            D.hamming_near_pairs_from_index(spark, base2)
        )
    finally:
        _drop(spark, base, ("hbands", "meta"))
        _drop(spark, base2, ("hbands", "meta"))
        spark.sql(f"DROP TABLE IF EXISTS {alias}_ptr")


def test_refresh_base_tables_launches_no_job(spark):
    """`refresh_base_tables` runs once per applied micro-batch of the
    continuous loop, so it must cost no Spark job: it finds the bases'
    tables with a ``SHOW TABLES LIKE`` catalog command
    (`bucketing._tables_like`), where ``spark.catalog.listTables()``
    launches three jobs per call. The pattern selects what a name
    filter over the full listing does: each base's own ``{base}_*``
    tables, not those of a sibling that only shares the prefix."""
    import time

    from rq_spark.bucketing import _tables_like

    rows, _ = _sig_corpus()
    mk = lambda rs: local_frame(spark, rs, "doc long, sig long")  # noqa: E731
    base, sibling = "t_rnj", "t_rnjx"
    sc = spark.sparkContext
    group, control = "refresh-no-job", "refresh-no-job-control"
    try:
        D.write_hamming_index(mk(rows[:40]), base, bands=4)
        D.write_hamming_index(mk(rows[40:60]), sibling, bands=4)
        n0 = spark.table(f"{base}_hbands").count()  # prime the listing
        names = {t.name for t in spark.catalog.listTables()}
        want = {t for t in names if t == base or t.startswith(f"{base}_")}
        assert f"{base}_hbands" in want and f"{sibling}_hbands" in names
        assert set(_tables_like(spark, f"{base}|{base}_*")) == want

        sc.setJobGroup(group, "refresh_base_tables")
        try:
            refresh_base_tables(spark, base, sibling)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        # the status store is fed asynchronously but in event order:
        # once a later job is visible, every earlier one is too
        sc.setJobGroup(control, "control job")
        try:
            assert spark.table(f"{base}_hbands").count() == n0
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        deadline = time.monotonic() + 30
        while not sc.statusTracker().getJobIdsForGroup(control):
            assert time.monotonic() < deadline, "control job never listed"
            time.sleep(0.1)
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    finally:
        _drop(spark, base, ("hbands", "meta"))
        _drop(spark, sibling, ("hbands", "meta"))


def test_index_health_reports_compaction_signal(spark):
    """`bucketing.index_health` (r14): the metadata-only maintenance
    snapshot — files-per-bucket (the compaction-due signal: one file
    per touched bucket per append, folded back to ~1 by compaction),
    standing tombstone count, and the current generation — resolved
    through a serving alias, no data table scanned unless asked."""
    from rq_spark.bucketing import index_health, set_index_pointer

    rows, _ = _sig_corpus()
    mk = lambda rs: local_frame(spark, rs, "doc long, sig long")  # noqa: E731
    base, alias = "t_hlth", "t_hlth_serve"
    try:
        D.write_hamming_index(mk(rows[:40]), base, bands=4)
        set_index_pointer(spark, alias, base)
        h0 = index_health(spark, alias)
        assert h0["base"] == base and h0["alias"] == alias
        assert h0["tombstones"] == 0
        fpb0 = h0["tables"][f"{base}_hbands"]["files_per_bucket"]

        # two appends + a takedown: files/bucket and tombstones grow
        D.append_to_hamming_index(mk(rows[40:50]), alias)
        D.append_to_hamming_index(mk(rows[50:60]), alias)
        add_tombstones(
            spark, alias,
            local_frame(spark, [(1,), (2,)], "doc long"), "doc",
        )
        h1 = index_health(spark, alias, count_rows=True)
        assert h1["tables"][f"{base}_hbands"]["files_per_bucket"] > fpb0
        assert h1["max_files_per_bucket"] >= h1["tables"][
            f"{base}_hbands"
        ]["files_per_bucket"]
        assert h1["tombstones"] == 2
        assert h1["gen"] >= 3  # write + 2 appends + tombstone batch
        assert h1["tables"][f"{base}_hbands"]["rows"] == 60 * 4

        # compaction folds back to ~one file per bucket, purges
        D.compact_hamming_index(spark, alias)
        h2 = index_health(spark, alias, count_rows=True)
        assert h2["tables"][f"{base}_hbands"]["files_per_bucket"] <= 1.0
        assert h2["tombstones"] == 0
        assert h2["tables"][f"{base}_hbands"]["rows"] == 58 * 4
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {alias}_ptr")
        _drop(spark, base, ("hbands", "meta"))
