"""Incremental append to the persisted dedup/ANN indexes (r11, r10
verdict task #2).

Before this round both `write_minhash_index` and `write_ann_index`
were overwrite-only, so the daily-ingest story was "probe today's
batch cheaply, then rewrite the ENTIRE index to absorb it" — at
100 TB the rewrite is the whole corpus encode pass again.
`append_to_minhash_index` / `append_to_ann_index` encode the batch
under the model PINNED in the index's own meta/model tables (never
retraining, never caller parameters) and append into the bucketed
tables preserving their layout. Pinned here:

* probe parity: probing the appended index equals probing a full
  rewrite over corpus ∪ batch (exact for minhash — the permutations
  are deterministic in num_hashes; exact for ANN via
  ``write_ann_index(pretrained=...)``, the same pinned model);
* the zero-Exchange corpus/index read survives the append (the scan
  still consumes the bucketing; only the probe side shuffles);
* append cost ∝ batch: AST/source assertions that the appenders never
  call the trainers and never read a corpus-sized relation — their
  only catalog reads are the one-row meta (minhash) / model-sized
  tables inside `_read_ann_model` (ANN), plus DESCRIBE metadata for
  the bucket count.
"""

from __future__ import annotations

import ast
import inspect
import re

import numpy as np
from pyspark.sql import functions as F

from rq_spark.operators import dedup as D
from rq_spark.operators import similarity as S
from rq_spark.queries.helpers import table

SF = "/root/testdata/sf0.01"


def _drop(spark, base, suffixes):
    # state/tombstones ride every index (r12): always clean them too,
    # or a leftover managed directory orphans the NEXT session's write
    for t in tuple(suffixes) + ("state", "tombstones"):
        spark.sql(f"DROP TABLE IF EXISTS {base}_{t}")


def test_minhash_append_equals_full_rewrite_and_keeps_bucketing(spark):
    docs = table(spark, SF, "documents")
    corpus = docs.filter(F.col("doc_id") % 3 == 0)
    batch = docs.filter(F.col("doc_id") % 3 == 1)
    probe = docs.filter(F.col("doc_id") % 3 == 2)
    base_a, base_f = "t_mh_app", "t_mh_full"
    mh_tables = ("bands", "shingles", "meta")
    try:
        D.write_minhash_index(corpus, "text", "doc_id", base_a)
        meta_before = spark.table(f"{base_a}_meta").collect()
        D.append_to_minhash_index(batch, "text", "doc_id", base_a)
        # the meta (pinned banding params) is never touched by append
        assert spark.table(f"{base_a}_meta").collect() == meta_before

        D.write_minhash_index(
            corpus.unionByName(batch), "text", "doc_id", base_f
        )
        want = {
            (r.new_id, r.corpus_id): round(r.jaccard, 9)
            for r in D.incremental_minhash_pairs_from_index(
                spark, probe, "text", "doc_id", base_f
            ).collect()
        }
        got = {
            (r.new_id, r.corpus_id): round(r.jaccard, 9)
            for r in D.incremental_minhash_pairs_from_index(
                spark, probe, "text", "doc_id", base_a
            ).collect()
        }
        assert len(want) > 0 and got == want
        # the append is visible: at least one match lands on a BATCH
        # document (doc_id % 3 == 1), not only on the original corpus
        assert any(cid % 3 == 1 for (_n, cid) in got), got

        # zero-Exchange corpus read survives the append: non-broadcast
        # probe still consumes the (band, bhash) bucketing — exactly
        # ONE Exchange (the probe side shuffling INTO the layout)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.debug.maxToStringFields", "1000")
        big_df = D.incremental_minhash_pairs_from_index(
            spark, probe, "text", "doc_id", base_a, broadcast_batch=False
        )
        big_df.collect()
        plan = (
            big_df._jdf.queryExecution().executedPlan().toString()
            .split("\n+- == Initial Plan ==")[0]
        )
        assert "Bucketed: true" in plan
        assert len(re.findall(r"Exchange hashpartitioning\(band", plan)) == 1
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
        spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
        _drop(spark, base_a, mh_tables)
        _drop(spark, base_f, mh_tables)


def test_ann_append_equals_full_rewrite_with_pinned_model(spark):
    vecs = table(spark, SF, "embeddings")
    corpus = vecs.filter(F.col("vec_id") % 2 == 0)
    batch = vecs.filter(F.col("vec_id") % 2 == 1)
    queries = vecs.filter(F.col("vec_id") < 5)
    base_a, base_f = "t_ann_app", "t_ann_full"
    ann_tables = ("codes", "vectors", "centroids", "codebooks", "meta")
    try:
        S.write_ann_index(
            corpus, base_a, n_centroids=8, m=8, n_codes=32, iters=2
        )
        meta_b, cents_b, cb_b = S._read_ann_model(spark, base_a)
        S.append_to_ann_index(batch, base_a)
        # append NEVER retrains: model tables are byte-identical
        meta_a, cents_a, cb_a = S._read_ann_model(spark, base_a)
        assert meta_a == meta_b
        assert np.array_equal(cents_a, cents_b)
        assert np.array_equal(cb_a, cb_b)

        # full rewrite over corpus ∪ batch under the SAME pinned model
        S.write_ann_index(
            corpus.unionByName(batch), base_f,
            pretrained=(cents_b, cb_b),
        )
        want = {
            (r.query_id, r.neighbor_id, r.rk, round(r.cos_sim, 9))
            for r in S.ivfpq_topk_join_from_index(
                spark, queries, base_f, k=10, nprobe=4, rerank=40
            ).collect()
        }
        got = {
            (r.query_id, r.neighbor_id, r.rk, round(r.cos_sim, 9))
            for r in S.ivfpq_topk_join_from_index(
                spark, queries, base_a, k=10, nprobe=4, rerank=40
            ).collect()
        }
        assert len(want) == 50 and got == want
        # the appended vectors are servable: some neighbor is odd
        assert any(n % 2 == 1 for (_q, n, _rk, _c) in got)

        # zero-Exchange index read survives the append
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.debug.maxToStringFields", "1000")
        big_df = S.ivfpq_topk_join_from_index(
            spark, queries, base_a, k=10, nprobe=4, rerank=40,
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
        assert "Bucketed: true" in plan
        assert len(re.findall(r"Exchange hashpartitioning\(cell", plan)) == 1
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
        spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
        _drop(spark, base_a, ann_tables)
        _drop(spark, base_f, ann_tables)


def _s64(v: int) -> int:
    return v - (1 << 64) if v >= (1 << 63) else v


def _synthetic_sigs():
    """(corpus_rows, batch_rows): 120 random 64-bit signatures, 30
    planted 2-bit-flip near-dups inside the corpus (ids 1000+i), and a
    batch of 15 near-dups of corpus docs 30..44 (ids 2000+i) plus 15
    fresh randoms (ids 3000+i) — every expected pair is computable by
    brute-force popcount."""
    import random

    rnd = random.Random(7)
    base = [rnd.getrandbits(64) for _ in range(120)]
    corpus = [(i, _s64(v)) for i, v in enumerate(base)]
    for i in range(30):
        v = base[i] ^ (1 << (i % 64)) ^ (1 << ((i * 7 + 3) % 64))
        corpus.append((1000 + i, _s64(v)))
    batch = []
    for i in range(30, 45):
        v = base[i] ^ (1 << ((i * 5) % 64))
        batch.append((2000 + i, _s64(v)))
    for i in range(15):
        batch.append((3000 + i, _s64(rnd.getrandbits(64))))
    return corpus, batch


def test_hamming_index_selfpairs_probe_and_append(spark):
    """r11 (r10 verdict task #5): the persisted Hamming-band index —
    the third and last dedup family gets the ingest-time shape. The
    corpus-vs-self pair scan self-joins the bucketed table with ZERO
    Exchange on the candidate join (both sides read the same
    (band, bval) bucketing); the batch probe matches brute-force
    popcount exactly; append under the meta-pinned banding equals a
    full rewrite over corpus ∪ batch exactly."""
    corpus_rows, batch_rows = _synthetic_sigs()
    sig = spark.createDataFrame(corpus_rows, "doc long, sig long")
    batch = spark.createDataFrame(batch_rows, "doc long, sig long")
    base = "t_ham_idx"
    try:
        D.write_hamming_index(sig, base, bands=4)

        # corpus-vs-self parity with the in-query operator
        want = {
            (r.a_id, r.b_id, r.hamming)
            for r in D.hamming_near_pairs(sig, max_hamming=3, bands=4).collect()
        }
        got_df = D.hamming_near_pairs_from_index(spark, base, max_hamming=3)
        got = {(r.a_id, r.b_id, r.hamming) for r in got_df.collect()}
        assert len(want) >= 30 and got == want

        # both sides of the candidate join consume the bucketing:
        # ZERO Exchange on (band, bval) anywhere in the plan (the only
        # shuffle left is the pair-level distinct, ∝ candidates)
        spark.conf.set("spark.sql.debug.maxToStringFields", "1000")
        got_df.collect()
        plan = (
            got_df._jdf.queryExecution().executedPlan().toString()
            .split("\n+- == Initial Plan ==")[0]
        )
        assert "Bucketed: true" in plan
        assert not re.findall(r"Exchange hashpartitioning\(band", plan), plan

        # batch probe vs brute-force popcount (same-id matches kept —
        # the re-ingest signal; this fixture has no id collisions so
        # both conventions agree, but the operator contract is pinned
        # by the minhash-parity note in the docstring)
        expect = {
            (n, c, bin(ns ^ cs).count("1"))
            for n, ns in batch_rows
            for c, cs in corpus_rows
            if bin(ns ^ cs).count("1") <= 3
        }
        probe = {
            (r.new_id, r.corpus_id, r.hamming)
            for r in D.hamming_probe_from_index(
                spark, batch, base, max_hamming=3
            ).collect()
        }
        assert len(expect) >= 15 and probe == expect

        # append == full rewrite over corpus ∪ batch, exactly
        D.append_to_hamming_index(batch, base)
        assert spark.table(f"{base}_meta").collect()[0].bands == 4
        want_u = {
            (r.a_id, r.b_id, r.hamming)
            for r in D.hamming_near_pairs(
                sig.unionByName(batch), max_hamming=3, bands=4
            ).collect()
        }
        got_u = {
            (r.a_id, r.b_id, r.hamming)
            for r in D.hamming_near_pairs_from_index(
                spark, base, max_hamming=3
            ).collect()
        }
        assert len(want_u) > len(want) and got_u == want_u

        # a radius past the pigeonhole guarantee still raises, with the
        # banding read from meta (not a caller lie)
        import pytest

        with pytest.raises(ValueError, match="pigeonhole"):
            D.hamming_probe_from_index(spark, batch, base, max_hamming=4)
    finally:
        _drop(spark, base, ("hbands", "meta"))


def test_compaction_restores_single_file_buckets(spark):
    """r11: `bucketing.compact_bucketed_table` — the maintenance step
    closing the index lifecycle. Each append adds a file per touched
    bucket; compaction rewrites to one file per bucket via a
    ZERO-shuffle bucketed scan (one partition per bucket, task-local
    rewrite) with probe parity and the zero-Exchange self-join
    preserved."""
    import glob

    from rq_spark.bucketing import compact_bucketed_table, table_buckets

    corpus_rows, batch_rows = _synthetic_sigs()
    sig = spark.createDataFrame(corpus_rows, "doc long, sig long")
    batch = spark.createDataFrame(batch_rows, "doc long, sig long")
    base = "t_ham_compact"
    try:
        D.write_hamming_index(sig, base, bands=4)
        D.append_to_hamming_index(batch, base)
        want = {
            (r.a_id, r.b_id, r.hamming)
            for r in D.hamming_near_pairs_from_index(
                spark, base, max_hamming=3
            ).collect()
        }

        def files() -> int:
            loc = next(
                r.data_type
                for r in spark.sql(
                    f"DESCRIBE FORMATTED {base}_hbands"
                ).collect()
                if r.col_name.strip() == "Location"
            ).replace("file:", "")
            return len(glob.glob(f"{loc}/*.parquet")) or len(
                glob.glob(f"{loc}/part-*")
            )

        before = files()
        compact_bucketed_table(spark, f"{base}_hbands", ["band", "bval"])
        after = files()
        assert after < before and after <= table_buckets(
            spark, f"{base}_hbands"
        ), (before, after)
        got_df = D.hamming_near_pairs_from_index(spark, base, max_hamming=3)
        got = {(r.a_id, r.b_id, r.hamming) for r in got_df.collect()}
        assert got == want and len(got) > 30
        spark.conf.set("spark.sql.debug.maxToStringFields", "1000")
        plan = (
            got_df._jdf.queryExecution().executedPlan().toString()
            .split("\n+- == Initial Plan ==")[0]
        )
        assert "Bucketed: true" in plan
        assert not re.findall(r"Exchange hashpartitioning\(band", plan)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {base}_hbands__compacting")
        _drop(spark, base, ("hbands", "meta"))


def test_compaction_crash_between_renames_keeps_data(spark, monkeypatch):
    """r12 (r11 verdict task #3): the compaction swap is rename-aside →
    rename-in → drop-backup, so the table's data exists UNDER SOME NAME
    at every step. Inject a failure between the two renames and assert
    (a) the rows are intact under the backup name, (b) the next
    compaction auto-recovers the live name and completes normally."""
    import pytest

    from rq_spark.bucketing import compact_bucketed_table

    corpus_rows, _ = _synthetic_sigs()
    sig = spark.createDataFrame(corpus_rows, "doc long, sig long")
    base = "t_ham_crash"
    tbl = f"{base}_hbands"
    try:
        D.write_hamming_index(sig, base, bands=4)
        want = spark.table(tbl).count()
        real_sql = spark.sql

        def failing_sql(q, *a, **kw):
            if q.strip().startswith(f"ALTER TABLE {tbl}__compacting"):
                raise RuntimeError("injected crash between the two renames")
            return real_sql(q, *a, **kw)

        monkeypatch.setattr(spark, "sql", failing_sql)
        with pytest.raises(RuntimeError, match="injected crash"):
            compact_bucketed_table(spark, tbl, ["band", "bval"])
        monkeypatch.undo()
        # worst-case window: the live name is gone — but every row
        # still exists under the backup name (the old DROP-then-RENAME
        # order lost the table outright here)
        assert not spark.catalog.tableExists(tbl)
        assert spark.table(f"{tbl}__precompact").count() == want
        # the next compaction recovers the live name and completes
        compact_bucketed_table(spark, tbl, ["band", "bval"])
        assert spark.table(tbl).count() == want
        assert not spark.catalog.tableExists(f"{tbl}__precompact")
        assert not spark.catalog.tableExists(f"{tbl}__compacting")
    finally:
        for suffix in ("__precompact", "__compacting"):
            spark.sql(f"DROP TABLE IF EXISTS {tbl}{suffix}")
        _drop(spark, base, ("hbands", "meta"))


def test_index_degenerate_inputs(spark):
    """The adversarial-gate policy applied to the index lifecycle:
    an EMPTY batch append is a harmless no-op (not an error — a quiet
    ingest day is normal), NULL signatures drop out of banding (an
    equi-join on NULL matches nothing), and empty probes return empty
    results. Same checks for the ANN family with an empty vector
    batch and an empty query set."""
    corpus_rows, _ = _synthetic_sigs()
    sig = spark.createDataFrame(corpus_rows, "doc long, sig long")
    empty_sig = spark.createDataFrame([], "doc long, sig long")
    base = "t_ham_degen"
    try:
        D.write_hamming_index(sig, base, bands=4)
        want = {
            (r.a_id, r.b_id)
            for r in D.hamming_near_pairs_from_index(spark, base).collect()
        }
        D.append_to_hamming_index(empty_sig, base)
        got = {
            (r.a_id, r.b_id)
            for r in D.hamming_near_pairs_from_index(spark, base).collect()
        }
        assert got == want and len(want) > 0
        nullish = spark.createDataFrame(
            [(5000, None), (5001, corpus_rows[0][1])], "doc long, sig long"
        )
        probe = D.hamming_probe_from_index(spark, nullish, base, 3).collect()
        # the NULL-sig row matches nothing; the cloned sig matches its
        # original (hamming 0)
        assert {r.new_id for r in probe} == {5001}
        assert D.hamming_probe_from_index(spark, empty_sig, base).count() == 0
    finally:
        _drop(spark, base, ("hbands", "meta"))

    vecs = table(spark, SF, "embeddings")
    empty_vec = spark.createDataFrame(
        [], "vec_id long, embedding array<float>, label int"
    )
    base = "t_ann_degen"
    ann_tables = ("codes", "vectors", "centroids", "codebooks", "meta")
    try:
        S.write_ann_index(vecs, base, n_centroids=8, m=8, n_codes=32, iters=2)
        q = vecs.filter(F.col("vec_id") < 3)
        want = {
            (r.query_id, r.neighbor_id, r.rk)
            for r in S.ivfpq_topk_join_from_index(spark, q, base, k=5).collect()
        }
        S.append_to_ann_index(empty_vec, base)
        got = {
            (r.query_id, r.neighbor_id, r.rk)
            for r in S.ivfpq_topk_join_from_index(spark, q, base, k=5).collect()
        }
        assert got == want and len(want) == 15
        assert (
            S.ivfpq_topk_join_from_index(spark, empty_vec, base, k=5).count()
            == 0
        )
    finally:
        _drop(spark, base, ann_tables)


def _attr_calls(src: str) -> list[str]:
    return [
        n.func.attr
        for n in ast.walk(ast.parse(src))
        if isinstance(n, ast.Call) and isinstance(n.func, ast.Attribute)
    ]


def test_append_cost_is_batch_proportional_by_construction():
    """The appenders must never touch a corpus-sized relation: no
    trainer calls, no corpus-table reads. Pinned at the source level
    (the same discipline as the r10 probe-source assertions), over the
    shared `bucketing.staged_append` every appender writes through plus
    each family's own function."""
    from rq_spark import bucketing as B

    # the shared appender reads no table and collects nothing; it
    # writes once per declared table, in append mode
    src_shared = inspect.getsource(B.staged_append)
    assert "spark.table(" not in src_shared
    assert "collect" not in _attr_calls(src_shared)
    assert src_shared.count('mode="append"') == 1
    assert "for (suffix, key, _), df in zip(tables, batch" in src_shared

    src_mh = inspect.getsource(D.append_to_minhash_index)
    # the ONLY spark.table read is the one-row meta
    reads = re.findall(r"spark\.table\(f?\"([^\"]+)\"\)", src_mh)
    assert reads == ['{base_name}_meta'], reads
    # bands/shingles appear only as append targets, through the
    # declaration: the family itself writes nothing
    assert "staged_append(" in src_mh and "MINHASH_TABLES" in src_mh
    assert [t[0] for t in D.MINHASH_TABLES] == ["bands", "shingles"]
    assert "write_bucketed" not in src_mh and "mode=" not in src_mh

    src_hm = inspect.getsource(D.append_to_hamming_index)
    reads = re.findall(r"spark\.table\(f?\"([^\"]+)\"\)", src_hm)
    assert reads == ['{base_name}_meta'], reads
    assert src_hm.count(".collect()") == 1
    assert "staged_append(" in src_hm and "HAMMING_TABLES" in src_hm
    assert [t[0] for t in D.HAMMING_TABLES] == ["hbands"]
    assert "write_bucketed" not in src_hm and "mode=" not in src_hm

    src_ann = inspect.getsource(S.append_to_ann_index)
    assert "ivf_centroids" not in src_ann and "pq_codebooks" not in src_ann
    # model load lives in _read_ann_model (model-sized collects only);
    # the appender itself reads no table and collects nothing
    assert "spark.table(" not in src_ann
    assert "collect" not in _attr_calls(src_ann)
    # the minhash appender's one collect is the one-row meta read
    # asserted above — nothing else
    assert src_mh.count(".collect()") == 1
    assert "staged_append(" in src_ann and "ANN_TABLES" in src_ann
    # its rows come from the encoder the full write shares, which reads
    # no table and never trains
    src_rows = inspect.getsource(S._ann_rows)
    assert "spark.table(" not in src_rows
    assert "ivf_centroids" not in src_rows and "pq_codebooks" not in src_rows
    assert [t[0] for t in S.ANN_TABLES] == ["codes", "vectors"]
    assert "write_bucketed" not in src_ann and "mode=" not in src_ann
