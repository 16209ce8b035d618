"""Composed takedown orchestration (r14, r13 verdict task #2).

A complete takedown used to be 4-5 manual calls in a pinned order; a
crash BETWEEN families left a cross-family inconsistency (index says
deleted, labels still cluster the doc) that nothing detected or
repaired. `lifecycle.takedown` composes the order under a write-ahead
intent journal. Pinned here, per the verdict's DONE criteria:

* the composed takedown leaves every family consistent: the index
  stops serving the ids, the ledger stops serving their edges, the
  labels equal a full CC recompute over the surviving graph, and the
  journal is clean;
* EVERY inter-family crash window is failure-injected: the crash
  leaves a DETECTABLE pending intent (and `assert_taken_down` shows
  which families are stale), and `resume_takedowns` replays to the
  exact clean-run end state — idempotent re-delete proven for the
  COMPOSITION, not just per family;
* a replay of an already-completed takedown is a no-op.
"""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from rq_spark import lifecycle as L
from rq_spark.operators import dedup as D
from rq_spark.util import local_frame

JOURNAL = None  # journal_base defaults to labels_base


def _s64(v):
    return v - (1 << 64) if v >= (1 << 63) else v


def _corpus():
    """Signatures with planted near-dups so the hamming index, the
    ledger, and the labels all have real structure: docs 1000+i are
    2-bit flips of docs i (i < 12)."""
    rnd = random.Random(7)
    base = [rnd.getrandbits(64) for _ in range(40)]
    rows = [(i, _s64(v)) for i, v in enumerate(base)]
    for i in range(12):
        rows.append(
            (1000 + i, _s64(base[i] ^ (1 << i) ^ (1 << (i + 17))))
        )
    return rows


def _drop_all(spark, ibase, lbase, ebase):
    for b, suf in (
        (ibase, ("hbands", "meta", "state", "tombstones")),
        (lbase, ("labels", "meta", "state", "tombstones", "tdlog")),
        (ebase, ("edges", "meta", "state", "tombstones")),
    ):
        for t in suf:
            spark.sql(f"DROP TABLE IF EXISTS {b}_{t}")
    for b, t in ((lbase, "labels"), (lbase, "meta"), (ebase, "edges"), (ebase, "meta")):
        for extra in ("__rewrite", "__prewrite"):
            spark.sql(f"DROP TABLE IF EXISTS {b}_{t}{extra}")


def _labels(df):
    return {(r.node, r.rep) for r in df.collect()}


def _eset(df):
    return {(r.a_id, r.b_id) for r in df.collect()}


def _stand_up(spark, ibase, lbase, ebase, tag):
    """Day 0 of the loop: index + pair ledger + labels, all persisted."""
    rows = _corpus()
    sig = local_frame(spark, rows, "doc long, sig long")
    D.write_hamming_index(sig, ibase, bands=4)
    pairs = D.hamming_near_pairs_from_index(spark, ibase).select(
        "a_id", "b_id"
    ).localCheckpoint()
    nodes = sig.select(F.col("doc").alias("node"))
    labels = D.connected_components(pairs, nodes, scope=f"lc_cc0_{tag}")
    D.write_labels(labels, lbase)
    D.write_edge_ledger(pairs, ebase)
    return rows, _eset(pairs)


def _expected_after(spark, rows, pairs, victims, tag):
    """The clean-run end state, recomputed independently: labels = CC
    over the surviving graph; ledger = surviving edges; index = no
    victim in any probe."""
    surv_edges = [(a, b) for a, b in pairs if not ({a, b} & set(victims))]
    surv_nodes = [(d,) for d, _ in rows if d not in victims]
    want = _labels(
        D.connected_components(
            local_frame(spark, surv_edges, "a_id long, b_id long"),
            local_frame(spark, surv_nodes, "node long"),
            scope=f"lc_ccf_{tag}",
        )
    )
    return want, set(surv_edges)


def _final_state(spark, ibase, lbase, ebase):
    scan = {
        (r.a_id, r.b_id)
        for r in D.hamming_near_pairs_from_index(spark, ibase).collect()
    }
    return scan, _labels(D.read_labels(spark, lbase)), _eset(
        D.read_edge_ledger(spark, ebase)
    )


def test_takedown_composes_and_journal_closes(spark):
    ibase, lbase, ebase = "t_lc_idx", "t_lc_lbl", "t_lc_led"
    victims = [2, 1003]  # a corpus doc and a near-dup twin
    try:
        rows, pairs = _stand_up(spark, ibase, lbase, ebase, "c1")
        ids = local_frame(spark, [(v,) for v in victims], "node long")
        td = L.takedown(
            spark, ids, {ibase: "doc"}, labels_base=lbase, ledger_base=ebase
        )
        assert L.pending_takedowns(spark, lbase) == []
        want_labels, want_edges = _expected_after(
            spark, rows, pairs, victims, "c1"
        )
        scan, got_labels, got_edges = _final_state(spark, ibase, lbase, ebase)
        assert got_labels == want_labels
        assert got_edges == want_edges
        assert all(not ({a, b} & set(victims)) for a, b in scan)
        status = L.assert_taken_down(
            spark, ids, {ibase: "doc"}, labels_base=lbase, ledger_base=ebase
        )
        assert set(status.values()) == {0}, status

        # replaying the SAME completed takedown is a no-op
        L.resume_takedowns(
            spark, {ibase: "doc"}, labels_base=lbase, ledger_base=ebase
        )
        assert _final_state(spark, ibase, lbase, ebase) == (
            scan, got_labels, got_edges,
        )
        assert isinstance(td, str) and td
    finally:
        _drop_all(spark, ibase, lbase, ebase)


@pytest.mark.parametrize(
    "crash_step",
    [
        "index_tombstone",
        "ledger_prune",
        "labels_evict",
        "labels_append",
        "labels_tombstone",
        "done_marker",
    ],
)
def test_takedown_crash_windows_detect_and_resume(spark, monkeypatch, crash_step):
    """Every seam of the composition dies once; each crash leaves a
    PENDING journal intent (detectable), `assert_taken_down` exposes
    the stale families, and one `resume_takedowns` converges to the
    exact clean-run end state. The label seams: `labels_evict` = crash
    in the delta compute, `labels_append` = crash between the delta
    compute and its append, `labels_tombstone` = the
    append-then-tombstone window, survivors already relabeled while
    the victims still stand — the detectable direction the order is
    chosen for."""
    from rq_spark import bucketing as B

    ibase, lbase, ebase = "t_lcc_idx", "t_lcc_lbl", "t_lcc_led"
    victims = [2, 1003]
    tag = f"x_{crash_step}"
    try:
        rows, pairs = _stand_up(spark, ibase, lbase, ebase, tag)
        ids = local_frame(spark, [(v,) for v in victims], "node long")

        originals = {
            "index_tombstone": (B, "add_tombstones"),
            "ledger_prune": (D, "prune_edge_ledger"),
            "labels_evict": (D, "evict_nodes"),
            "labels_append": (D, "append_labels"),
            "labels_tombstone": (B, "add_tombstones"),
            "done_marker": (L, "_journal_done"),
        }
        mod, name = originals[crash_step]
        real = getattr(mod, name)

        if crash_step == "labels_tombstone":
            # die only on the LABELS-base tombstone call (id_col
            # "node"), after the index step's "doc" tombstones and the
            # delta append already landed
            def dying(spark_, base_, ids_, id_col="id", **kw):
                if id_col == "node":
                    raise RuntimeError(
                        f"injected crash at {crash_step}"
                    )
                return real(spark_, base_, ids_, id_col, **kw)
        else:
            def dying(*a, **kw):
                raise RuntimeError(f"injected crash at {crash_step}")

        monkeypatch.setattr(mod, name, dying)
        with pytest.raises(RuntimeError, match="injected crash"):
            L.takedown(
                spark, ids, {ibase: "doc"},
                labels_base=lbase, ledger_base=ebase,
            )
        monkeypatch.setattr(mod, name, real)

        # DETECTABLE: the intent is journaled but not closed
        pend = L.pending_takedowns(spark, lbase)
        assert len(pend) == 1
        # the journaled id set is exactly the takedown's
        got_ids = {
            r.node for r in L.takedown_ids(spark, lbase, pend[0]).collect()
        }
        assert got_ids == set(victims)
        # the checker exposes stale families for the early crashes
        status = L.assert_taken_down(
            spark, ids, {ibase: "doc"}, labels_base=lbase, ledger_base=ebase
        )
        if crash_step == "index_tombstone":
            assert status[ibase] > 0  # index still serves the victims
        if crash_step in ("index_tombstone", "ledger_prune"):
            assert status[ebase] > 0  # ledger still serves their edges
        if crash_step != "done_marker":
            assert status[lbase] > 0  # labels still cluster them

        # RESUME converges to the clean-run end state
        replayed = L.resume_takedowns(
            spark, {ibase: "doc"}, labels_base=lbase, ledger_base=ebase
        )
        assert replayed == pend
        assert L.pending_takedowns(spark, lbase) == []
        want_labels, want_edges = _expected_after(
            spark, rows, pairs, victims, tag
        )
        scan, got_labels, got_edges = _final_state(spark, ibase, lbase, ebase)
        assert got_labels == want_labels
        assert got_edges == want_edges
        assert all(not ({a, b} & set(victims)) for a, b in scan)
        status = L.assert_taken_down(
            spark, ids, {ibase: "doc"}, labels_base=lbase, ledger_base=ebase
        )
        assert set(status.values()) == {0}, status
    finally:
        _drop_all(spark, ibase, lbase, ebase)


def test_takedown_requires_paired_labels_and_ledger(spark):
    from rq_spark.errors import IllegalStateError

    ids = local_frame(spark, [(1,)], "node long")
    with pytest.raises(IllegalStateError, match="labels_base and ledger_base"):
        L.takedown(spark, ids, {}, labels_base="t_lc_only_lbl")
    with pytest.raises(IllegalStateError, match="nothing to act on"):
        L.takedown(spark, ids, {})


def test_takedown_across_multiple_index_families(spark, monkeypatch):
    """The real loop shape: a doc and its embedding share an id, and a
    takedown must land on EVERY family serving it. One composed call
    tombstones the Hamming AND ANN families, prunes the ledger, evicts
    the labels; a crash between the two FAMILIES (the seam the
    single-family test cannot reach) leaves a pending intent whose
    resume converges — and the second family, untouched by the crash,
    ends identical to the clean path."""
    import pytest

    from pyspark.sql import functions as F2
    from rq_spark import bucketing as B
    from rq_spark.operators import similarity as S
    from rq_spark.queries.helpers import table

    ibase, abase = "t_lcm_idx", "t_lcm_ann"
    lbase, ebase = "t_lcm_lbl", "t_lcm_led"
    victims = [2, 1003]
    try:
        rows, pairs = _stand_up(spark, ibase, lbase, ebase, "mf")
        vecs = table(spark, "/root/testdata/sf0.01", "embeddings").filter(
            F2.col("vec_id") < 100
        )
        S.write_ann_index(vecs, abase, n_centroids=4, m=4, n_codes=8, iters=1)
        ids = local_frame(spark, [(v,) for v in victims], "node long")
        fams = {ibase: "doc", abase: "neighbor_id"}  # the ANN
        # tables store the id as neighbor_id — the same column the
        # family probes filter_tombstoned on

        # crash BETWEEN the two index families: the second
        # add_tombstones call dies
        real = B.add_tombstones
        n = {"c": 0}

        def dying(*a, **kw):
            n["c"] += 1
            if n["c"] == 2:
                raise RuntimeError("injected crash between families")
            real(*a, **kw)

        monkeypatch.setattr(B, "add_tombstones", dying)
        with pytest.raises(RuntimeError, match="between families"):
            L.takedown(
                spark, ids, fams, labels_base=lbase, ledger_base=ebase
            )
        monkeypatch.setattr(B, "add_tombstones", real)

        status = L.assert_taken_down(
            spark, ids, fams, labels_base=lbase, ledger_base=ebase
        )
        assert status[ibase] == 0 and status[abase] > 0  # the seam, visible
        assert len(L.pending_takedowns(spark, lbase)) == 1

        L.resume_takedowns(
            spark, fams, labels_base=lbase, ledger_base=ebase
        )
        status = L.assert_taken_down(
            spark, ids, fams, labels_base=lbase, ledger_base=ebase
        )
        assert set(status.values()) == {0}, status
        assert L.pending_takedowns(spark, lbase) == []
        # ANN really stopped serving the victims (probe-level check,
        # not just the row scan): top-k over victim queries returns
        # no victim neighbors
        k = S.ivfpq_topk_join_from_index(
            spark, vecs.filter(F2.col("vec_id").isin(victims)), abase, k=3
        )
        assert all(r.neighbor_id not in victims for r in k.collect())
        # and the labels/index/ledger equal the clean-run end state
        want_labels, want_edges = _expected_after(
            spark, rows, pairs, victims, "mf"
        )
        _scan, got_labels, got_edges = _final_state(spark, ibase, lbase, ebase)
        assert got_labels == want_labels and got_edges == want_edges
    finally:
        _drop_all(spark, ibase, lbase, ebase)
        for t in ("codes", "vectors", "centroids", "codebooks", "meta",
                  "state", "tombstones"):
            spark.sql(f"DROP TABLE IF EXISTS t_lcm_ann_{t}")


def test_composed_lifecycle_model_fuzz(spark):
    """Model-based fuzzer over the COMPOSED durable state (r14): a
    random sequence of {fresh ingest, re-crawl (takedown + re-ingest),
    composed takedown, crash-prefix takedown + resume, triple
    compaction, replayed streaming epoch} runs against
    one index + labels + ledger triple, and after EVERY step all three
    families must equal ground truth derived from a plain Python
    model (doc → live signature):

      * live index pair scan == brute-force popcount pairs (bands=4 is
        exact at radius 3);
      * `read_labels` == min-label union-find over those pairs;
      * `read_edge_ledger` == the same pair set — the loop's invariant
        that every surviving co-present pair was discovered at one
        end's ingest and pruned edges die with their endpoint.

    Ops are issued alternately from TWO sessions (the main one and a
    `newSession` clone) with `refresh_base_tables` at each hop — the
    documented multi-session contract — so the r14 coherence layer is
    fuzzed along with the lifecycle. The r13 single-index fuzzer pins
    per-family transitions; this pins the cross-family compositions
    (recrawl-after-takedown, crash-between-families + resume,
    compaction mid-history)."""
    import uuid

    from rq_spark.bucketing import add_tombstones, refresh_base_tables
    from rq_spark.streaming import _loop_batch_fn

    rnd = random.Random(77)
    pool = [rnd.getrandbits(64) for _ in range(8)]

    def _s64(v):
        return v - (1 << 64) if v >= (1 << 63) else v

    def new_sig() -> int:
        v = rnd.choice(pool)
        for _ in range(rnd.randint(0, 4)):
            v ^= 1 << rnd.randrange(64)
        return _s64(v)

    def brute_pairs(model: dict) -> set:
        out = set()
        ids = sorted(model)
        for i, a in enumerate(ids):
            for b in ids[i + 1:]:
                h = bin((model[a] ^ model[b]) & ((1 << 64) - 1)).count("1")
                if h <= 3:
                    out.add((a, b))
        return out

    def uf_labels(model: dict, pairs: set) -> dict:
        parent = {n: n for n in model}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in pairs:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        return {n: find(n) for n in model}

    ib, lb, eb = "t_cfz_idx", "t_cfz_lbl", "t_cfz_led"
    qn = "t_cfz_q"

    def mkdf(sess, d: dict):
        return local_frame(sess, sorted(d.items()), "doc long, sig long")

    def ids_df(sess, ids):
        return local_frame(sess, [(i,) for i in ids], "node long")

    def ingest(sess, batch: dict, epoch=None):
        """The composed daily-ingest arrows; via the streaming handler
        when an epoch is given, hand-composed otherwise."""
        if epoch is not None:
            _loop_batch_fn(sess, ib, lb, eb, qn, 3)(mkdf(sess, batch), epoch)
            return
        b = mkdf(sess, batch).localCheckpoint()
        probe = D.hamming_probe_from_index(
            sess, b, ib, max_hamming=3
        ).filter(F.col("new_id") != F.col("corpus_id"))
        within = D.hamming_near_pairs(b, max_hamming=3)
        e = (
            probe.select(
                F.col("new_id").alias("a_id"),
                F.col("corpus_id").alias("b_id"),
            )
            .unionByName(within.select("a_id", "b_id"))
            .localCheckpoint()
        )
        D.append_edge_ledger(e, eb)
        D.append_labels(
            D.absorb_edges(
                D.read_labels(sess, lb),
                e,
                new_nodes=b.select(F.col("doc").alias("node")),
                scope="cfz_ab",
                return_delta=True,
            ),
            lb,
        )
        D.append_to_hamming_index(b, ib, reingest=True)

    def do_takedown(sess, ids):
        L.takedown(
            sess, ids_df(sess, ids), {ib: "doc"},
            labels_base=lb, ledger_base=eb,
        )

    def drop_all():
        for t in ("hbands", "meta", "state", "tombstones", "applied"):
            spark.sql(f"DROP TABLE IF EXISTS {ib}_{t}")
        for b, ts in (
            (lb, ("labels", "meta", "state", "tombstones", "_tdlog")),
            (eb, ("edges", "meta", "state", "tombstones")),
        ):
            for t in ts:
                for x in ("", "__rewrite", "__prewrite"):
                    spark.sql(f"DROP TABLE IF EXISTS {b}_{t}{x}")
        spark.sql(f"DROP TABLE IF EXISTS {lb}_tdlog")

    s2 = spark.newSession()
    next_id = 100
    epoch = 0
    drop_all()
    try:
        model = {i: new_sig() for i in range(16)}
        D.write_hamming_index(mkdf(spark, model), ib, bands=4)
        pairs0 = D.hamming_near_pairs_from_index(spark, ib).select(
            "a_id", "b_id"
        ).localCheckpoint()
        D.write_labels(
            D.connected_components(
                pairs0,
                mkdf(spark, model).select(F.col("doc").alias("node")),
                scope="cfz_cc0",
            ),
            lb,
        )
        D.write_edge_ledger(pairs0, eb)
        log = ["day0(16)"]

        for step in range(14):
            sess = rnd.choice([spark, s2])
            refresh_base_tables(sess, ib, lb, eb)
            op = rnd.choice(
                ["ingest", "ingest_stream", "recrawl", "takedown",
                 "crash_takedown", "compact", "replay_epoch"]
            )
            if op == "ingest":
                batch = {}
                for _ in range(rnd.randint(1, 3)):
                    batch[next_id] = new_sig()
                    next_id += 1
                ingest(sess, batch)
                model.update(batch)
                log.append(f"ingest{sorted(batch)}")
            elif op == "ingest_stream":
                batch = {}
                for _ in range(rnd.randint(1, 3)):
                    batch[next_id] = new_sig()
                    next_id += 1
                ingest(sess, batch, epoch=epoch)
                epoch += 1
                model.update(batch)
                log.append(f"stream_ingest{sorted(batch)}")
            elif op == "replay_epoch" and epoch > 0:
                # redeliver the last committed epoch: must no-op
                ingest(sess, {999_000: 1}, epoch=epoch - 1)
                log.append(f"replay_epoch({epoch - 1})")
            elif op == "recrawl" and len(model) > 3:
                ids = rnd.sample(sorted(model), rnd.randint(1, 2))
                do_takedown(sess, ids)
                batch = {i: new_sig() for i in ids}
                ingest(sess, batch)
                model.update(batch)
                log.append(f"recrawl{sorted(ids)}")
            elif op == "takedown" and len(model) > 3:
                ids = rnd.sample(sorted(model), rnd.randint(1, 2))
                ids.append(888_888)  # unknown id rides along, harmless
                do_takedown(sess, ids)
                for i in ids:
                    model.pop(i, None)
                log.append(f"takedown{sorted(ids)}")
            elif op == "crash_takedown" and len(model) > 3:
                ids = rnd.sample(sorted(model), rnd.randint(1, 2))
                td = uuid.uuid4().hex
                idf = ids_df(sess, ids).localCheckpoint()
                L._journal_begin(sess, lb, td, idf)
                steps = [
                    lambda: add_tombstones(
                        sess, ib,
                        idf.withColumnRenamed("node", "doc"), "doc",
                    ),
                    lambda: D.prune_edge_ledger(sess, eb, idf, "node"),
                    lambda: D.append_labels(  # the append-then-
                        # tombstone window: survivors relabeled,
                        # victims still standing
                        D.evict_nodes(
                            D.read_labels(sess, lb),
                            D.read_edge_ledger(sess, eb),
                            idf,
                            return_delta=True,
                            scope="cfz_cr",
                        ),
                        lb,
                    ),
                ]
                k = rnd.randint(0, 3)
                for f in steps[:k]:
                    f()
                assert L.pending_takedowns(sess, lb) == [td]
                L.resume_takedowns(
                    sess, {ib: "doc"}, labels_base=lb, ledger_base=eb
                )
                for i in ids:
                    model.pop(i, None)
                log.append(f"crash_takedown{sorted(ids)} k={k}")
            else:
                D.compact_hamming_index(sess, ib)
                D.compact_labels(sess, lb)
                D.compact_edge_ledger(sess, eb)
                log.append("compact")

            # ground truth, all three families, read from the MAIN
            # session after a refresh (the multi-session contract)
            refresh_base_tables(spark, ib, lb, eb)
            want_pairs = brute_pairs(model)
            got_pairs = {
                (min(r.a_id, r.b_id), max(r.a_id, r.b_id))
                for r in D.hamming_near_pairs_from_index(spark, ib)
                .select("a_id", "b_id")
                .collect()
            }
            assert got_pairs == want_pairs, "\n".join(log)
            got_labels = {
                r.node: r.rep for r in D.read_labels(spark, lb).collect()
            }
            assert got_labels == uf_labels(model, want_pairs), "\n".join(log)
            got_ledger = {
                (min(r.a_id, r.b_id), max(r.a_id, r.b_id))
                for r in D.read_edge_ledger(spark, eb).collect()
            }
            assert got_ledger == want_pairs, "\n".join(log)
            assert L.pending_takedowns(spark, lb) == [], "\n".join(log)
    finally:
        drop_all()
