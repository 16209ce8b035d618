"""Dump .explain('formatted') for headline catalog keys, and compare two
dumps modulo the plan text's run-to-run noise.

Usage:
  python tools/dump_plans.py <outdir-suffix> [key ...]
      Writes plans/<round>/<key>_<suffix>.txt for every bench.HEADLINE
      key (or the given subset); <round> is $SPARK_GRAFT_PLANS_ROUND
      (default r15). Keys whose builders iterate (graph/stream
      families) execute real jobs during construction; the plan of
      the final returned DataFrame is still the artifact claims are
      checked against (Exchange count, join strategy, PushedFilters,
      Python nodes).
  python tools/dump_plans.py compare <dirA> <dirB> [key ...]
      Pairs <dir>/<key>_*.txt (one dump per key per directory) for
      every bench.HEADLINE key (or the given subset), normalizes both
      (`normalize`), and prints one line per key: identical, or differs
      with the count of differing normalized lines. Exits 1 on any
      difference or missing dump.

Two plans of the same code differ in text for reasons that are not
the plan. `normalize` removes exactly those:
  * ids: expression ids (`#n`, `#nL`), exchange `plan_id=`, lambda
    variables (`x_n`) and RDD ids (`RDD[n]`) count up per JVM, so they
    depend on what ran earlier in the process; an RDD's call site
    names the thread that created it (a `merged()` build thread or
    the main one);
  * the Expand order of RewriteDistinctAggregates: Spark orders a
    multi-distinct aggregate's Expand projections by the hash of
    expression ids, so the projection order, the `gid` literal each
    distinct group gets, and the column order of every list that
    carries `gid` follow the ids (seen in agg_stats,
    agg_groupby_distinct and dedup_incremental). Each `gid = n` is
    renamed to the columns its projection keeps, and the lists that
    carry `gid` are compared as sets;
  * cached-relation bodies: an `InMemoryRelation` prints the plan its
    relation had when it was cached — with the AQE `== Final Plan ==`
    (query stages, runtime statistics, runtime join choices) once it
    has run, and planned against whichever other relations a sibling
    build thread had cached by then. The tree under each
    `InMemoryRelation` and the detail blocks of nodes only it shows
    are dropped (the relation's output and storage level stay), and
    operator numbers are renumbered in order of appearance.
    dedup_connected_groups differed in 4108 lines between two runs of
    one commit without this.

Normalize, not pin: the alternative is to make id allocation repeat —
reset the JVM-global expression-id counter before each key's build.
It would not hold. `merged()` builds a key's branches on a thread
pool, so which branch draws which ids depends on thread timing even
from a pinned start; RDD and exchange ids come from other counters of
the SparkContext; the counter is private JVM state with no public
setter; and pinning does nothing for cached-relation bodies, which
come from runtime statistics and thread timing. Normalizing the text
handles all of them in one place. Its cost: a change that only
renumbers ids, permutes a distinct aggregate's Expand, or sits inside
a cached relation's body is not reported; the plans that read the
cached relation still are.
"""

from __future__ import annotations

import difflib
import glob
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

_DETAIL_HEAD = re.compile(r"^\((\d+)\) ")
_TREE_NODE = re.compile(r"\((\d+)\)")
_OPERATOR_REF = re.compile(r"(operator id(?::| =) )(\d+)")
_EXPAND_GID = re.compile(r"^gid#\d+L?$")


def _split_top(s: str) -> list[str]:
    """Split on ", " outside brackets and parentheses."""
    out, depth, start = [], 0, 0
    for i, ch in enumerate(s):
        if ch in "[(":
            depth += 1
        elif ch in "])":
            depth -= 1
        elif ch == "," and depth == 0 and s[i + 1 : i + 2] == " ":
            out.append(s[start:i])
            start = i + 2
    out.append(s[start:])
    return out


def _norm_ids(s: str) -> str:
    s = re.sub(r"#\d+L?", "#", s)
    s = re.sub(r"plan_id=\d+", "plan_id=", s)
    s = re.sub(r"\b([a-z]+)_\d+\b", r"\1_", s)
    return re.sub(r"RDD\[\d+\]( at [^,]*)?", "RDD[]", s)


def _node_col(line: str) -> int:
    """Column where a tree line's operator name starts."""
    return len(line) - len(line.lstrip(" :|+-"))


def _collapse_cached(lines: list[str]) -> list[str]:
    """Drop the body of every cached relation (tree lines under an
    `InMemoryRelation` and the detail blocks of nodes only they show);
    renumber operators by first appearance. Detail blocks (`(n) Name`
    up to a blank line) follow the trees."""
    kept: list[str] = []
    blocks: list[tuple[str, list[str]]] = []
    in_block = False
    cached_at = None  # node column of the InMemoryRelation being skipped
    for line in lines:
        m = _DETAIL_HEAD.match(line)
        if m:
            blocks.append((m.group(1), [line]))
            in_block = True
        elif in_block:
            if line:
                blocks[-1][1].append(line)
            else:
                in_block = False
        elif cached_at is not None and line and _node_col(line) > cached_at:
            continue
        else:
            cached_at = (
                _node_col(line) if "InMemoryRelation (" in line else None
            )
            kept.append(line)
    order: dict[str, str] = {}
    for line in kept:
        for n in _TREE_NODE.findall(line):
            order.setdefault(n, str(len(order) + 1))

    def refs(line: str) -> str:
        return _OPERATOR_REF.sub(
            lambda m: m.group(1) + order.get(m.group(2), m.group(2)), line
        )

    out = [
        refs(_TREE_NODE.sub(lambda m: f"({order[m.group(1)]})", line))
        for line in kept
    ]
    for n, body in sorted(
        ((int(order[n]), body) for n, body in blocks if n in order)
    ):
        out.append(_DETAIL_HEAD.sub(f"({n}) ", body[0], count=1))
        out += [refs(line) for line in body[1:]] + [""]
    return out


def _canonical_expands(lines: list[str]) -> bool:
    """In place: rename each RewriteDistinctAggregates `gid = n` to the
    columns its Expand projection keeps, and write the projections as
    a sorted list of those column sets. True if any was found."""
    labels: dict[tuple[str, str], str] = {}
    node = ""
    for i, line in enumerate(lines):
        m = _DETAIL_HEAD.match(line)
        if m:
            node = line[m.end():].strip()
        if node != "Expand" or not line.startswith("Arguments: [["):
            continue
        projs, output = _split_top(line[len("Arguments: "):])
        gid = _split_top(output[1:-1])[-1]
        if not _EXPAND_GID.match(gid):
            continue  # ROLLUP/CUBE's spark_grouping_id is deterministic
        sets = []
        for proj in _split_top(projs[1:-1]):
            items = _split_top(proj[1:-1])
            keep = sorted(_norm_ids(x) for x in items[:-1] if x != "null")
            labels[(gid, items[-1])] = "{" + ", ".join(keep) + "}"
            sets.append(labels[(gid, items[-1])])
        lines[i] = f"Arguments: [{', '.join(sorted(sets))}], {output}"
    if not labels:
        return False
    pat = re.compile(
        "(" + "|".join(re.escape(g) for g, _ in labels) + r") = (\d+)\b"
    )
    for i, line in enumerate(lines):
        lines[i] = pat.sub(
            lambda m: f"{m.group(1)} = "
            + labels.get((m.group(1), m.group(2)), m.group(2)),
            line,
        )
    return True


def _close_of(s: str, i: int) -> int:
    """Index of the bracket closing s[i], or -1 if unbalanced."""
    depth = 0
    for j in range(i, len(s)):
        if s[j] in "[(":
            depth += 1
        elif s[j] in "])":
            depth -= 1
            if depth == 0:
                return j
    return -1


def _sort_gid_lists(s: str) -> str:
    """Sort the top-level items of every [...] / (...) list that holds a
    bare `gid#` attribute (normalized ids), at any nesting depth."""
    out, i = [], 0
    while i < len(s):
        j = _close_of(s, i) if s[i] in "[(" else -1
        if j < 0:
            out.append(s[i])
            i += 1
            continue
        items = _split_top(_sort_gid_lists(s[i + 1 : j]))
        if "gid#" in items:
            items.sort()
        out.append(s[i] + ", ".join(items) + s[j])
        i = j + 1
    return "".join(out)


def normalize(text: str) -> list[str]:
    """The plan text with run-to-run noise removed (module docstring)."""
    lines = _collapse_cached(text.splitlines())
    has_gid = _canonical_expands(lines)
    lines = [_norm_ids(line) for line in lines]
    if has_gid:
        lines = [_sort_gid_lists(line) for line in lines]
    return lines


def diff_count(a: list[str], b: list[str]) -> int:
    """Lines only in a plus lines only in b (what `diff | grep -c '^[<>]'`
    counts)."""
    sm = difflib.SequenceMatcher(None, a, b, autojunk=False)
    return sum(
        (i2 - i1) + (j2 - j1)
        for tag, i1, i2, j1, j2 in sm.get_opcodes()
        if tag != "equal"
    )


def _dump_of(directory: str, key: str) -> str | None:
    found = glob.glob(os.path.join(glob.escape(directory), f"{key}_*.txt"))
    if len(found) > 1:
        raise SystemExit(
            f"{directory}: {len(found)} dumps of {key}; keep one per directory"
        )
    return found[0] if found else None


def compare(dir_a: str, dir_b: str, keys: list[str]) -> int:
    """Print one line per key; return the number of keys that differ or
    lack a dump."""
    bad = 0
    for key in keys:
        pa, pb = _dump_of(dir_a, key), _dump_of(dir_b, key)
        if pa is None or pb is None:
            missing = dir_a if pa is None else dir_b
            print(f"{key}: differs (no dump in {missing})")
            bad += 1
            continue
        with open(pa) as fa, open(pb) as fb:
            n = diff_count(normalize(fa.read()), normalize(fb.read()))
        print(f"{key}: {'identical' if n == 0 else 'differs'} "
              f"({n} normalized diff lines)")
        bad += n > 0
    return bad


def dump(suffix: str, only: list[str]) -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from bench import HEADLINE
    from rq_spark.queries import all_queries
    from rq_spark.session import get_spark
    from rq_spark.util import release_all_caches

    spark = get_spark("dump_plans")
    qs = all_queries()
    outdir = os.path.join(
        REPO, "plans", os.environ.get("SPARK_GRAFT_PLANS_ROUND", "r15")
    )
    os.makedirs(outdir, exist_ok=True)
    keys = only or HEADLINE
    for name in keys:
        fn = qs[name]
        try:
            df = fn(spark, sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        except Exception as e:  # noqa: BLE001
            plan = f"PLAN FAILED: {type(e).__name__}: {e}"
        with open(os.path.join(outdir, f"{name}_{suffix}.txt"), "w") as f:
            f.write(plan)
        print(f"wrote {name}_{suffix}.txt ({len(plan)} chars)")
        release_all_caches()
        spark.catalog.clearCache()
    spark.stop()


def main() -> None:
    if sys.argv[1] == "compare":
        from bench import HEADLINE

        dir_a, dir_b = sys.argv[2], sys.argv[3]
        sys.exit(1 if compare(dir_a, dir_b, sys.argv[4:] or HEADLINE) else 0)
    dump(sys.argv[1], sys.argv[2:])


if __name__ == "__main__":
    main()
