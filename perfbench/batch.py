"""The ``batch`` workload: catalog keys and rq transcoding, one op at a time.

A pass runs every op once, in a fixed order, each op waiting for the
previous one (a closed loop with one client):

* catalog keys from ``rq_spark.queries.all_queries()`` on the fixed
  seed-42 sf0.01 tables in ``data/``, each built and then materialised
  with the ``noop`` writer. `RELATIONAL` keys run on Catalyst alone;
  `PIPELINES` keys run Python kernels (pandas UDFs, Python UDTFs).
* the CLI pipe chain ``-j -M`` → ``-m -C`` → ``-c -J``, one
  ``python -m rq_spark.cli`` process per leg, on seeded value-tree
  records;
* json → msgpack → json through ``formats.spark_io.transcode_path`` on
  seeded records in JSON-lines files.

``--seconds`` / `PASS_S` passes are timed, after one untimed warm-up
pass. Outputs are checked after the timed region: catalog keys
against the DuckDB oracle, transcodes against the generated records.
"""

from __future__ import annotations

import glob
import importlib.util
import json
import os
import random
import subprocess
import sys
import time

from harness import DATA, ROOT, dur, median

SF_DIR = os.path.join(DATA, "sf0.01")
RELATIONAL = (
    "q1_pricing_summary", "filter_predicate", "join_revenue_by_nation",
    "window_topk_per_group",
)
PIPELINES = ("udf_grouped_table", "sim_topk_cosine")
KEYS = RELATIONAL + PIPELINES

CLI_LEGS = (("json", "msgpack"), ("msgpack", "cbor"), ("cbor", "json"))
CLI_FLAGS = {"json": ("-j", "-J"), "msgpack": ("-m", "-M"), "cbor": ("-c", "-C")}
CLI_RECORDS = 5_000
FILE_COUNT = 4
FILE_RECORDS = 2_500  # per file
#: a pass's wall on a quiet 4-core box; ``--seconds`` / PASS_S passes run
PASS_S = 10.0


# ------------------------------------------------------------------ inputs


def value_tree(r: random.Random, depth: int = 0):
    """One FIXTURES A3 value, restricted to what JSON can represent:
    null, bool, int64, float64, string, array, string-keyed map."""
    kind = r.randrange(7 if depth < 4 else 5)
    if kind == 0:
        return None
    if kind == 1:
        return r.random() < 0.5
    if kind == 2:
        return r.randrange(-(2**63), 2**63)
    if kind == 3:
        return r.uniform(-1e9, 1e9)
    if kind == 4:
        return "".join(r.choice("abcxyz é_-0123") for _ in range(r.randrange(16)))
    if kind == 5:
        return [value_tree(r, depth + 1) for _ in range(r.randrange(9))]
    return {f"k{r.randrange(32)}": value_tree(r, depth + 1) for _ in range(r.randrange(9))}


def typed_record(r: random.Random, i: int) -> dict:
    """A record with one fixed schema, so Spark's JSON schema inference
    reads back exactly the types that were written."""
    return {
        "id": i,
        "name": "".join(r.choice("abcdefghij") for _ in range(r.randrange(1, 12))),
        "score": r.uniform(-1e6, 1e6),
        "flag": r.random() < 0.5,
        "tags": [f"t{r.randrange(100)}" for _ in range(r.randrange(5))],
        "attrs": {
            "a": r.randrange(-(2**40), 2**40),
            "b": [r.random() for _ in range(r.randrange(4))],
            "c": r.choice(["x", "yy", "zzz"]),
        },
    }


def make_inputs(seed: int, in_dir: str) -> tuple[list, bytes, list[dict]]:
    r = random.Random(seed)
    cli_records = [value_tree(r) for _ in range(CLI_RECORDS)]
    cli_bytes = "".join(
        json.dumps(v, ensure_ascii=False) + "\n" for v in cli_records
    ).encode()
    os.makedirs(in_dir)
    file_records = []
    for f in range(FILE_COUNT):
        recs = [typed_record(r, f * FILE_RECORDS + i) for i in range(FILE_RECORDS)]
        file_records += recs
        with open(os.path.join(in_dir, f"part-{f:05d}.json"), "w") as out:
            out.writelines(json.dumps(x) + "\n" for x in recs)
    return cli_records, cli_bytes, file_records


def parquet_rows(path: str) -> int:
    import pyarrow.parquet as pq

    return pq.ParquetFile(path).metadata.num_rows


# ------------------------------------------------------------------ ops


def cli_leg(src: str, dst: str, data: bytes) -> bytes:
    flags = [CLI_FLAGS[src][0], CLI_FLAGS[dst][1]]
    p = subprocess.run(
        [sys.executable, "-m", "rq_spark.cli", *flags],
        input=data, capture_output=True, timeout=60, cwd=ROOT,
    )
    if p.returncode != 0:
        raise RuntimeError(f"rq_spark.cli {flags} exited {p.returncode}: "
                           f"{p.stderr.decode(errors='replace')[-500:]}")
    return p.stdout


class Batch:
    def __init__(self, run):
        self.run = run
        self.tr = run.tracer
        self.spark = None
        self.rows_per_key: dict[str, int] = {}
        self.key_rows: dict[str, tuple[list, list]] = {}

    # one op per key / leg ------------------------------------------------

    def key_op(self, key: str, collect: bool):
        """Build the key, then materialise it: with the ``noop`` writer
        in timed passes, by collecting its rows (kept for the oracle
        check) in the warm-up pass."""
        from rq_spark.util import release_all_caches

        fn = self.queries[key]

        def body(_span):
            with self.tr.span("build", "phase"):
                df = fn(self.spark, SF_DIR)
            with self.tr.span("exec", "phase"):
                if collect:
                    self.key_rows[key] = (df.columns, [tuple(r) for r in df.collect()])
                else:
                    df.write.format("noop").mode("overwrite").save()
            release_all_caches()
            self.spark.catalog.clearCache()
            return df

        return body

    def cli_op(self, src: str, dst: str):
        def body(_span):
            self.cli_last = cli_leg(src, dst, self.cli_last)

        return body

    def file_op(self, src: str, dst: str, pass_no: int):
        from rq_spark.formats.spark_io import transcode_path

        in_path = self.in_dir if src == "json" else self.out_path(pass_no, src)

        def body(_span):
            transcode_path(self.spark, src, in_path, dst, self.out_path(pass_no, dst))

        return body

    def out_path(self, pass_no: int, fmt: str) -> str:
        return self.run.path("work", f"pass{pass_no}", fmt)

    def one_pass(self, pass_no: int, kind: str = "op") -> None:
        self.cli_last = self.cli_bytes
        for key in KEYS:
            df = self.run.op(key, self.key_op(key, kind == "warmup"), kind=kind,
                             group="catalog")
            if df is not None and key not in self.rows_per_key:
                files = {f.split(":", 1)[-1] for f in df.inputFiles()}
                self.rows_per_key[key] = sum(parquet_rows(f) for f in files)
        for src, dst in CLI_LEGS:
            self.run.op(f"cli_{src}_{dst}", self.cli_op(src, dst), kind=kind,
                        group="cli")
        for src, dst in (("json", "msgpack"), ("msgpack", "json")):
            self.run.op(f"file_{src}_{dst}", self.file_op(src, dst, pass_no),
                        kind=kind, group="file")

    # the run --------------------------------------------------------------

    def __call__(self) -> None:
        run = self.run
        self.spark = run.start_spark()
        from rq_spark.queries import all_queries

        self.queries = all_queries()
        t = time.perf_counter()
        self.in_dir = run.path("work", "in")
        self.cli_records, self.cli_bytes, self.file_records = make_inputs(
            run.seed, self.in_dir
        )
        gen_s = time.perf_counter() - t

        with self.tr.span("warmup", "setup") as warm:
            self.one_pass(-1, kind="warmup")
        # the warm-up's outputs judge nothing; its failures still count
        run.layer["session.warmup_s"] = dur(warm)
        run.setup_done(gen_s)

        run.timed_passes("batch", self.one_pass, PASS_S)
        self.checks(len(run.passes) - 1)
        run.finish_passes(
            sum(self.rows_per_key.values())
            + CLI_RECORDS * len(CLI_LEGS)
            + 2 * FILE_COUNT * FILE_RECORDS
        )
        if run.trace:
            self.traced_extras()

    # checks, outside the timed region -------------------------------------

    def checks(self, last_pass: int) -> None:
        import duckdb

        from rq_spark.queries import all_oracle_sql

        run = self.run
        oracle = load_check_oracle()
        con = duckdb.connect()
        for t in oracle.TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{SF_DIR}/{t}.parquet')")
        sql = all_oracle_sql()
        for key in KEYS:
            def check_key(key=key):
                cols, rows = self.key_rows[key]
                rel = con.sql(sql[key])
                want = [tuple(r) for r in rel.fetchall()]
                ok = (
                    len(rows) == len(want)
                    and sorted(cols) == sorted(rel.columns)
                    and oracle.value_hash(rows, cols)
                    == oracle.value_hash(want, rel.columns)
                )
                return ok, f"{len(rows)} rows vs {len(want)} oracle rows"
            run.check(f"oracle:{key}", check_key, ops=(key,))

        def check_cli():
            got = [json.loads(x) for x in self.cli_last.decode().splitlines()]
            return got == self.cli_records, f"{len(got)} records back"
        run.check("cli_roundtrip", check_cli,
                  ops=tuple(f"cli_{a}_{b}" for a, b in CLI_LEGS))

        def check_files():
            got = []
            for f in sorted(glob.glob(os.path.join(self.out_path(last_pass, "json"), "part-*"))):
                with open(f) as fh:
                    got += [json.loads(x) for x in fh]
            got.sort(key=lambda x: x["id"])
            return got == self.file_records, f"{len(got)} records back"
        run.check("file_roundtrip", check_files,
                  ops=("file_json_msgpack", "file_msgpack_json"))

    # traced-run extras ----------------------------------------------------

    def traced_extras(self) -> None:
        """Per-layer probes that only the traced run pays for."""
        from rq_spark.bench_branches import branch_queries
        from rq_spark.formats import decode_records, encode_records
        from rq_spark.formats import spark_io

        run, tr, spark = self.run, self.tr, self.spark
        layer = run.layer
        branches = branch_queries()
        for name, fn in branches.items():
            key, tag = name.split("/")
            if key not in KEYS:
                continue
            with tr.span(name, "probe") as s:
                fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
            layer[f"branch.{key}.{tag}_s"] = dur(s)

        # in-process codecs on the CLI records
        codec_s = 0.0
        blobs = {"json": self.cli_bytes}
        for fmt in ("json", "msgpack", "cbor"):
            if fmt != "json":
                t = time.perf_counter()
                blobs[fmt] = encode_records(fmt, self.cli_records)
                layer[f"formats.encode_s.{fmt}"] = time.perf_counter() - t
            t = time.perf_counter()
            list(decode_records(fmt, blobs[fmt]))
            layer[f"formats.decode_s.{fmt}"] = time.perf_counter() - t
            layer[f"formats.bytes_per_record.{fmt}"] = len(blobs[fmt]) / CLI_RECORDS
        t = time.perf_counter()
        encode_records("json", self.cli_records)
        layer["formats.encode_s.json"] = time.perf_counter() - t
        for src, dst in CLI_LEGS:
            codec_s += layer[f"formats.decode_s.{src}"] + layer[f"formats.encode_s.{dst}"]
        chain = median([
            sum(dur(s) for s in run.tracer.children(p, "op") if s.get("group") == "cli")
            for p in run.passes
        ])
        layer["cli.overhead_s"] = chain - codec_s

        # the file leg, split into its read and write halves
        with tr.span("spark_io.read", "probe") as s_r:
            df = spark_io.read(spark, "json", self.in_dir)
        with tr.span("spark_io.write", "probe") as s_w:
            spark_io.write(df, "msgpack", run.path("work", "probe", "msgpack"))
        layer["formats.spark_io.read_s"] = dur(s_r)
        layer["formats.spark_io.write_s"] = dur(s_w)

        run.bench_ref()


def load_check_oracle():
    """``tools/check_oracle.py``, for its table list, normalisation and
    value hash."""
    spec = importlib.util.spec_from_file_location(
        "check_oracle", os.path.join(ROOT, "tools", "check_oracle.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod
