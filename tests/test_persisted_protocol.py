"""The crash-safe write protocol of every persisted table family.

Five families persist bucketed state: the MinHash, Hamming and IVFPQ
indexes, the cluster labels and the edge ledger. Each one's write,
append and compaction must drive `rq_spark.bucketing`'s primitives in
the same order. This test records those calls (begin/finish of a
rewrite, `_rename_table`, `write_bucketed` with its mode and bucket
count, `bump_gen`, `add_tombstones` with its stamp, and the two
verifies) on tiny frames, and pins the whole sequence per family:

* a full write stages every table under ``__rewrite``, swaps with meta
  listed first (renamed aside first, renamed in last);
* an append bumps the generation once, appends to each bucketed table
  under its standing bucket count, tombstones a reingest batch at
  ``gen - 1`` only after the rows landed, then checks the writer nonce
  before the serving pointer;
* compaction rewrites each bucketed table under the standing count.

The expected sequences are spelled out from each family's table
suffixes here, independently of the code's own declarations.
"""

from __future__ import annotations

import inspect

from rq_spark import bucketing as B
from rq_spark.operators import dedup as D
from rq_spark.operators import similarity as S

PRIMITIVES = (
    "begin_index_rewrite",
    "finish_index_rewrite",
    "_rename_table",
    "write_bucketed",
    "bump_gen",
    "add_tombstones",
    "verify_sole_writer",
    "verify_still_serving",
)
BUCKETS = 4  # not write_bucketed's default, so a fallback would show


def _event(name: str, args: dict, out) -> tuple:
    """One call, reduced to the fields the protocol is about."""
    if name in ("begin_index_rewrite", "finish_index_rewrite"):
        return (name, tuple(args["tables"]))
    if name == "_rename_table":
        return (name, args["old"], args["new"])
    if name == "write_bucketed":
        return (name, args["table_name"], args["mode"], args["buckets"])
    if name == "bump_gen":
        return (name, args["base_name"], out and out[0])
    if name == "add_tombstones":
        return (name, args["base_name"], args["at_gen"])
    if name == "verify_sole_writer":
        return (name, args["base_name"], args["gen"])
    return (name, args["name"], args["resolved"])


def record(monkeypatch) -> list[tuple]:
    """Wrap bucketing's protocol primitives and return the event log, in
    call-ENTRY order. Callers reach them through the module, so nested
    calls (the bump inside `begin_index_rewrite`, the verifies inside
    `add_tombstones`) are recorded too."""
    log: list[tuple] = []
    for name in PRIMITIVES:
        real = getattr(B, name)
        sig = inspect.signature(real)

        def wrapped(*a, _real=real, _sig=sig, _name=name, **kw):
            bound = _sig.bind(*a, **kw)
            bound.apply_defaults()
            slot = len(log)
            log.append(_event(_name, bound.arguments, None))
            out = _real(*a, **kw)
            log[slot] = _event(_name, bound.arguments, out)
            return out

        monkeypatch.setattr(B, name, wrapped)
    return log


def expected_rewrite(
    base: str, bucketed: list[str], side: list[str], gen: int, standing: bool
) -> list[tuple]:
    swap = tuple(f"{base}_{s}" for s in ["meta", *bucketed, *side])
    ev = [("begin_index_rewrite", swap), ("bump_gen", base, gen)]
    ev += [
        ("write_bucketed", f"{base}_{s}__rewrite", "overwrite", BUCKETS)
        for s in bucketed
    ]
    ev += [("finish_index_rewrite", swap), ("verify_sole_writer", base, gen)]
    if standing:
        ev += [("_rename_table", t, f"{t}__prewrite") for t in swap]
    ev += [("_rename_table", f"{t}__rewrite", t) for t in reversed(swap)]
    return ev + [("verify_still_serving", base, base)]


def expected_append(
    base: str, bucketed: list[str], gen: int, reingest: bool
) -> list[tuple]:
    ev = [("bump_gen", base, gen)]
    ev += [
        ("write_bucketed", f"{base}_{s}", "append", BUCKETS) for s in bucketed
    ]
    if reingest:
        ev += [
            ("add_tombstones", base, gen - 1),
            ("verify_still_serving", base, base),
        ]
    return ev + [
        ("verify_sole_writer", base, gen),
        ("verify_still_serving", base, base),
    ]


def expected_compact(base: str, bucketed: list[str]) -> list[tuple]:
    return [
        ("write_bucketed", f"{base}_{s}__compacting", "overwrite", BUCKETS)
        for s in bucketed
    ]


def _docs(spark, rows):
    return spark.createDataFrame(rows, "id long, text string")


def _sigs(spark, rows):
    return spark.createDataFrame(rows, "doc long, sig long")


def _vecs(spark, rows):
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def _pairs(spark, rows, cols):
    return spark.createDataFrame(rows, f"{cols[0]} long, {cols[1]} long")


_TEXT = [
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, "a quick brown fox jumps over a lazy cat"),
    (3, "lorem ipsum dolor sit amet consectetur adipiscing"),
]
_VECS = [(i, [float(i % 3), 1.0, float(i), 2.0]) for i in range(1, 9)]


def families(spark):
    """Per family: (bucketed suffixes, plain side suffixes, write,
    append, whether the append is a reingest, compact)."""
    return {
        "minhash": (
            ["bands", "shingles"], [],
            lambda b: D.write_minhash_index(
                _docs(spark, _TEXT), "text", "id", b,
                num_hashes=8, bands=4, buckets=BUCKETS,
            ),
            lambda b: D.append_to_minhash_index(
                _docs(spark, [(2, "a slow green fox walks past a lazy cat")]),
                "text", "id", b, reingest=True,
            ),
            True,
            lambda b: D.compact_minhash_index(spark, b),
        ),
        "hamming": (
            ["hbands"], [],
            lambda b: D.write_hamming_index(
                _sigs(spark, [(1, 7), (2, 1 << 40), (3, -5)]), b,
                bands=4, buckets=BUCKETS,
            ),
            lambda b: D.append_to_hamming_index(
                _sigs(spark, [(2, 15)]), b, reingest=True
            ),
            True,
            lambda b: D.compact_hamming_index(spark, b),
        ),
        "ann": (
            ["codes", "vectors"], ["centroids", "codebooks"],
            lambda b: S.write_ann_index(
                _vecs(spark, _VECS), b, n_centroids=2, m=2, n_codes=4,
                iters=1, buckets=BUCKETS,
            ),
            lambda b: S.append_to_ann_index(
                _vecs(spark, [(3, [0.5, 1.0, 3.0, 2.5])]), b, reingest=True
            ),
            True,
            lambda b: S.compact_ann_index(spark, b),
        ),
        "labels": (
            ["labels"], [],
            lambda b: D.write_labels(
                _pairs(spark, [(1, 1), (2, 1), (3, 3)], ("node", "rep")), b,
                buckets=BUCKETS,
            ),
            lambda b: D.append_labels(
                _pairs(spark, [(3, 1)], ("node", "rep")), b
            ),
            False,
            lambda b: D.compact_labels(spark, b),
        ),
        "ledger": (
            ["edges"], [],
            lambda b: D.write_edge_ledger(
                _pairs(spark, [(1, 2)], ("a_id", "b_id")), b, buckets=BUCKETS
            ),
            lambda b: D.append_edge_ledger(
                _pairs(spark, [(1, 3)], ("a_id", "b_id")), b
            ),
            False,
            lambda b: D.compact_edge_ledger(spark, b),
        ),
    }


def drop_base(spark, base: str) -> None:
    for t in spark.catalog.listTables():
        if t.name.startswith(f"{base}_"):
            spark.sql(f"DROP TABLE IF EXISTS {t.name}")


def test_every_family_drives_the_same_protocol(spark, monkeypatch):
    for fam, (bucketed, side, write, append, reingest, compact) in families(
        spark
    ).items():
        base = f"t_proto_{fam}"
        drop_base(spark, base)
        try:
            log = record(monkeypatch)
            write(base)
            assert log == expected_rewrite(
                base, bucketed, side, gen=1, standing=False
            ), fam
            log.clear()
            append(base)
            assert log == expected_append(base, bucketed, 2, reingest), fam
            log.clear()
            compact(base)
            if fam == "labels":
                # a latest-wins fold through the full staged rewrite,
                # over the standing set
                want = expected_rewrite(
                    base, bucketed, side, gen=3, standing=True
                )
            else:
                want = expected_compact(base, bucketed)
            assert log == want, fam
        finally:
            monkeypatch.undo()
            drop_base(spark, base)
