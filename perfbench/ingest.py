"""The ``ingest`` workload: the continuous dedup loop writing beside reads.

Set-up stands up day 0: a Hamming index over ``CORPUS`` seeded 64-bit
signatures (some planted near-duplicates of others), their cluster
labels and the edge ledger, and sends one untimed warm-up batch through
the loop. A pass then sends ``BATCHES_PER_PASS``
batches of ``BATCH`` signatures through
``streaming.continuous_dedup_loop_stream`` — half of each batch are
1-bit near-duplicates of live corpus docs — with one
``processAllAvailable`` per batch, runs one ``lifecycle.takedown`` of
docs that are wired into clusters, and compacts the index, labels and
ledger. Each step waits for the previous one.

The output check is independent of the engine. Every pair of surviving
docs within Hamming distance 3 shares one of four 16-bit bands, so a
brute-force band scan in Python finds the exact pair set. The final
labels must equal its connected components, the ledger must hold
exactly those pairs, and the index self-scan must return them.
"""

from __future__ import annotations

import os
import time

import numpy as np

from harness import dur

CORPUS = 20_000
PLANTED0 = 2_000  # day-0 docs that near-duplicate an earlier doc
BATCH = 1_000
BATCHES_PER_PASS = 1
VICTIMS_PER_SOURCE = 2  # per pass: from the corpus and from the batches
VICTIM_RESERVE = 200  # corpus docs kept for takedowns, never near-dup sources
MAX_HAMMING = 3
BATCH_ID0 = 1_000_000
SIG_BYTES = 16  # (doc bigint, sig bigint)
#: a pass's wall on a quiet 4-core box; ``--seconds`` / PASS_S passes run
PASS_S = 20.0


class Inputs:
    """Seeded signatures; the same seed gives the same docs."""

    def __init__(self, seed: int):
        rng = np.random.default_rng(seed)
        sig = rng.integers(0, 2**64, CORPUS, dtype=np.uint64, endpoint=False)
        src = rng.integers(0, CORPUS - PLANTED0, PLANTED0)
        sig[CORPUS - PLANTED0:] = sig[src] ^ flip(rng, PLANTED0)
        self.corpus = {i: int(v) for i, v in enumerate(sig.view(np.int64))}
        self._sig = sig
        self._rng = rng
        reserve = rng.choice(CORPUS, VICTIM_RESERVE, replace=False)
        self.corpus_victims = [int(x) for x in reserve]
        live = np.setdiff1d(np.arange(CORPUS), reserve)
        self._sources = live

    def batch(self, i: int) -> dict[int, int]:
        rng = self._rng
        half = BATCH // 2
        src = rng.choice(self._sources, half)
        planted = self._sig[src] ^ flip(rng, half, bits=1)
        fresh = rng.integers(0, 2**64, BATCH - half, dtype=np.uint64)
        sig = np.concatenate([planted, fresh]).view(np.int64)
        return {BATCH_ID0 + i * BATCH + j: int(v) for j, v in enumerate(sig)}

    def victims(self, pass_no: int, first_batch: int) -> list[int]:
        k = VICTIMS_PER_SOURCE
        # planted docs of the pass's first batch are wired into clusters
        from_batch = [BATCH_ID0 + first_batch * BATCH + j for j in range(k)]
        return self.corpus_victims[pass_no * k:(pass_no + 1) * k] + from_batch


def flip(rng, n: int, bits: int | None = None) -> np.ndarray:
    """Masks with 1 bit set (``bits=1``) or 1-2 bits set."""
    one = np.left_shift(np.uint64(1), rng.integers(0, 64, n).astype(np.uint64))
    if bits == 1:
        return one
    two = np.left_shift(np.uint64(1), rng.integers(0, 64, n).astype(np.uint64))
    return one | np.where(rng.random(n) < 0.5, two, np.uint64(0))


def near_pairs(docs: dict[int, int]) -> set[tuple[int, int, int]]:
    """Every (a, b, hamming) with a < b and hamming <= 3, by band scan."""
    out = set()
    for shift in (0, 16, 32, 48):
        buckets: dict[int, list[int]] = {}
        for d, s in docs.items():
            buckets.setdefault(((s & 0xFFFFFFFFFFFFFFFF) >> shift) & 0xFFFF, []).append(d)
        for ids in buckets.values():
            if len(ids) < 2:
                continue
            ids.sort()
            for i, a in enumerate(ids):
                for b in ids[i + 1:]:
                    h = bin((docs[a] ^ docs[b]) & 0xFFFFFFFFFFFFFFFF).count("1")
                    if h <= MAX_HAMMING:
                        out.add((a, b, h))
    return out


def components(nodes, pairs) -> set[tuple[int, int]]:
    """(node, smallest node id of its component)."""
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b, _h in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {(n, find(n)) for n in nodes}


def dir_files(path: str) -> dict[str, int]:
    out = {}
    for d, _dirs, names in os.walk(path):
        for n in names:
            p = os.path.join(d, n)
            try:
                out[p] = os.path.getsize(p)
            except OSError:
                pass
    return out


class Ingest:
    IB, LB, EB, QN = "pb_index", "pb_labels", "pb_ledger", "pb_loop"

    def __init__(self, run):
        self.run = run
        self.tr = run.tracer
        self.written: list[tuple[int, int]] = []  # (files, bytes) per op

    def df(self, docs: dict[int, int]):
        import pandas as pd

        pdf = pd.DataFrame({"doc": list(docs), "sig": list(docs.values())},
                           columns=["doc", "sig"])
        return self.spark.createDataFrame(pdf, "doc long, sig long")

    def stand_up(self) -> None:
        from pyspark.sql import functions as F

        from rq_spark.operators import dedup as D

        tr = self.tr
        corpus = self.df(self.inputs.corpus)
        with tr.span("write_hamming_index", "phase"):
            D.write_hamming_index(corpus, self.IB, bands=4)
        with tr.span("near_pairs", "phase"):
            pairs = D.hamming_near_pairs_from_index(self.spark, self.IB).select(
                "a_id", "b_id").localCheckpoint()
        with tr.span("labels", "phase"):
            D.write_labels(
                D.connected_components(
                    pairs, corpus.select(F.col("doc").alias("node")),
                    scope="perfbench_day0"),
                self.LB,
            )
        with tr.span("ledger", "phase"):
            D.write_edge_ledger(pairs, self.EB)

    def send_batch(self, i: int):
        """Land batch ``i`` in the stream's source dir (atomically) and
        return the op that waits for the loop to absorb it."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        docs = self.inputs.batch(i)
        self.ingested.update(docs)
        table = pa.table({"doc": pa.array(list(docs), pa.int64()),
                          "sig": pa.array(list(docs.values()), pa.int64())})
        tmp = self.run.path("work", f"b{i}.parquet")
        pq.write_table(table, tmp)
        os.rename(tmp, os.path.join(self.src, f"b{i}.parquet"))
        return lambda _s: self.query.processAllAvailable()

    def takedown(self, ids: list[int]):
        from rq_spark import lifecycle
        from rq_spark.bucketing import refresh_base_tables

        def body(_s):
            # the loop appended through its micro-batch session; this
            # session's file listings are stale until refreshed
            refresh_base_tables(self.spark, self.IB, self.LB, self.EB)
            deleted = self.spark.createDataFrame([(x,) for x in ids], "node long")
            lifecycle.takedown(self.spark, deleted, {self.IB: "doc"},
                               labels_base=self.LB, ledger_base=self.EB)
            for x in ids:
                self.ingested.pop(x, None)
        return body

    def compact(self, _s) -> None:
        from rq_spark.operators import dedup as D

        D.compact_hamming_index(self.spark, self.IB)
        D.compact_labels(self.spark, self.LB)
        D.compact_edge_ledger(self.spark, self.EB)

    def op(self, name: str, fn, kind: str = "op") -> None:
        """`Run.op`, plus the warehouse files the op wrote when traced."""
        wh = self.run.path("warehouse")
        before = dir_files(wh) if self.run.trace and kind == "op" else None
        self.run.op(name, fn, kind=kind)
        if before is not None:
            after = dir_files(wh)
            new = [p for p, n in after.items() if before.get(p) != n]
            self.written.append((len(new), sum(after[p] for p in new)))

    def one_pass(self, pass_no: int) -> None:
        first = 1 + pass_no * BATCHES_PER_PASS  # batch 0 warms the loop up
        for i in range(first, first + BATCHES_PER_PASS):
            self.op("batch", self.send_batch(i))
        self.op("takedown", self.takedown(self.inputs.victims(pass_no, first)))
        self.op("compact", self.compact)

    def __call__(self) -> None:
        run, tr = self.run, self.tr
        self.spark = spark = run.start_spark()
        t = time.perf_counter()
        self.inputs = Inputs(run.seed)
        gen_s = time.perf_counter() - t
        self.ingested = dict(self.inputs.corpus)

        from rq_spark.streaming import continuous_dedup_loop_stream

        with tr.span("standup", "setup") as s_up:
            self.stand_up()
        run.layer["operators.dedup.standup_s"] = dur(s_up)
        self.src = run.path("work", "stream")
        os.makedirs(self.src)
        stream = (spark.readStream.schema("doc long, sig long")
                  .option("maxFilesPerTrigger", 1).parquet(self.src))
        self.query = continuous_dedup_loop_stream(stream, self.IB, self.LB, self.EB, self.QN)
        with tr.span("warmup", "setup") as warm:
            self.op("batch", self.send_batch(0), kind="warmup")
        # the first micro-batch compiles the loop's code; timing it would
        # time the JIT
        run.layer["session.warmup_s"] = dur(warm)
        run.setup_done(gen_s)

        try:
            run.timed_passes("ingest", self.one_pass, PASS_S)
        finally:
            self.query.stop()
        from rq_spark.bucketing import refresh_base_tables

        refresh_base_tables(spark, self.IB, self.LB, self.EB)
        self.check()
        run.finish_passes(BATCHES_PER_PASS * BATCH)
        if run.trace:
            self.traced_layers()

    def check(self) -> None:
        from rq_spark.operators import dedup as D

        spark = self.spark
        want_pairs = near_pairs(self.ingested)
        ops = ("batch", "takedown", "compact")

        def labels():
            got = {(r.node, r.rep) for r in D.read_labels(spark, self.LB).collect()}
            want = components(self.ingested, want_pairs)
            return got == want, f"{len(got)} labels vs {len(want)} expected"

        def ledger():
            got = {tuple(sorted((r.a_id, r.b_id)))
                   for r in D.read_edge_ledger(spark, self.EB).collect()}
            want = {(a, b) for a, b, _h in want_pairs}
            return got == want, f"{len(got)} edges vs {len(want)} expected"

        def index():
            got = {(r.a_id, r.b_id, r.hamming)
                   for r in D.hamming_near_pairs_from_index(spark, self.IB).collect()}
            return got == want_pairs, f"{len(got)} pairs vs {len(want_pairs)} expected"

        self.run.check("labels_equal_components", labels, ops=ops)
        self.run.check("ledger_equals_pairs", ledger, ops=ops)
        self.run.check("index_scan_equals_pairs", index, ops=ops)

    def traced_layers(self) -> None:
        run = self.run
        n = len(run.passes)
        ops = self.tr.of_kind("op")
        run.layer["lifecycle.takedown_s"] = sum(dur(s) for s in ops if s["name"] == "takedown") / n
        run.layer["operators.dedup.compact_s"] = sum(dur(s) for s in ops if s["name"] == "compact") / n
        run.layer["bucketing.files_written"] = sum(f for f, _b in self.written) / n
        run.layer["bucketing.bytes_written_mb"] = sum(b for _f, b in self.written) / 2**20 / n
        stored = sum(dir_files(run.path("warehouse")).values())
        run.layer["bucketing.stored_mb"] = stored / 2**20
        signatures = CORPUS + BATCH * (1 + BATCHES_PER_PASS * n)
        run.layer["bucketing.stored_bytes_per_input_byte"] = stored / (signatures * SIG_BYTES)
        run.bench_ref()
