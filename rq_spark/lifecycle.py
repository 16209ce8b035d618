"""Composed takedown orchestration across index families, the edge
ledger, and the persisted cluster labels (r14, r13 verdict task #2).

A complete takedown of a document set touches up to THREE kinds of
durable state — every index family serving the docs (tombstones), the
edge ledger (prune), and the standing cluster labels (evict) — and
before this module it was 4-5 manual calls in a pinned order
(tests/test_e2e_ingest_loop.py did the ordering by hand). Each
family's own crash windows are failure-injected, but a crash BETWEEN
families left a cross-family inconsistency (index says deleted, labels
still cluster the doc) that nothing detected or repaired.

`takedown` composes the pinned order under a WRITE-AHEAD intent
journal, the minimal mechanism that makes every inter-family crash
window DETECTABLE and the whole composition idempotently RE-RUNNABLE:

    1. journal BEGIN — the takedown's id set appended to
       ``{journal}_tdlog`` before any state is touched. From here to
       DONE, a crash leaves a pending intent `pending_takedowns`
       surfaces and `resume_takedowns` replays.
    2. per index family: `bucketing.add_tombstones` — idempotent
       (a duplicate tombstone row for an id changes no probe result;
       pinned per family by the lifecycle fuzzer).
    3. ledger prune: `operators.dedup.prune_edge_ledger` — same
       tombstone idempotence, applied to both endpoints at read.
    4. labels: `operators.dedup.evict_labels` over the (now pruned)
       ledger read — it appends the relabeled survivors gen-stamped,
       then tombstones the deleted ids, so the step costs ∝ touched
       components, never a corpus-sized rewrite (`compact_labels`
       folds the deltas on schedule). A re-run after ANY crash inside
       this step converges to the same final labels: the delta append
       and the tombstone are each replay-idempotent under
       `read_labels`' latest-wins view (every seam is failure-injected
       in tests/test_lifecycle.py).
       Running the evict over the PRUNED ledger is exact: the touched
       components are found through the LABELS (where the deleted ids
       still stand until this step), and the pruned rows are exactly
       the deleted-touching edges `evict_nodes` discards anyway.
    5. journal DONE — the intent is closed; replays become no-ops at
       the journal layer (and would be harmless below it).

The journal rows are ∝ the takedown (one row per deleted id), the
tombstone appends are ∝ the takedown, the ledger/labels reads are
map-side against broadcast deletion-sized relations, and the label
recompute is ∝ touched components (`evict_nodes`' contract) — nothing
corpus-sized moves, restart or not.

Single-writer contract (inherited): one orchestrator at a time per
journal; concurrent mutations of the same index family are detected by
the per-family writer nonce, not prevented.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .errors import IllegalStateError
from .util import local_frame

_TDLOG = "_tdlog"


def _journal_table(journal_base: str) -> str:
    return f"{journal_base}{_TDLOG}"


def takedown(
    spark: SparkSession,
    deleted: DataFrame,
    index_bases: dict[str, str],
    labels_base: str | None = None,
    ledger_base: str | None = None,
    journal_base: str | None = None,
    td_id: str | None = None,
    node_col: str = "node",
) -> str:
    """Run one composed takedown in the pinned order (module
    docstring). ``deleted``: a one-column DataFrame of doc ids (column
    ``node_col``). ``index_bases``: ``{base_or_alias: id_col}`` for
    every index family serving the docs. ``labels_base`` /
    ``ledger_base``: the persisted labels and edge ledger — both or
    neither (the labels evict NEEDS the standing edge relation, and
    the ledger exists precisely so a takedown never regenerates it
    corpus-sized; callers holding edges elsewhere should call
    `evict_nodes` directly). ``journal_base`` defaults to
    ``labels_base`` or the first index base. Returns the takedown id
    (pass to `resume_takedowns` diagnostics); ``td_id`` lets a resume
    replay under the original id.

    The labels step runs ∝-touched end-to-end (r14):
    `operators.dedup.evict_labels` appends the relabeled survivors
    gen-stamped and tombstones the deleted ids, so a takedown never
    pays a corpus-sized `write_labels` rewrite; `compact_labels` is
    the scheduled full rewrite."""
    if (labels_base is None) != (ledger_base is None):
        raise IllegalStateError(
            "takedown needs labels_base and ledger_base together: the "
            "labels evict re-clusters over the standing edge ledger "
            "(without it the only exact alternative is a corpus-sized "
            "pair regeneration, which this orchestrator refuses to hide)."
        )
    if journal_base is None:
        journal_base = labels_base or next(iter(index_bases), None)
    if journal_base is None:
        raise IllegalStateError(
            "takedown has nothing to act on: no index families and no "
            "labels/ledger were named."
        )
    ids = deleted.select(F.col(node_col).alias("node")).distinct()
    ids = ids.localCheckpoint()  # pin the id set: the journal, the
    # tombstones, and the evict must all see ONE batch, not a lazy
    # plan re-read across mutations
    if td_id is None:
        td_id = uuid.uuid4().hex
        _journal_begin(spark, journal_base, td_id, ids)
    _apply_takedown(spark, ids, index_bases, labels_base, ledger_base)
    _journal_done(spark, journal_base, td_id)
    return td_id


def _apply_takedown(
    spark: SparkSession,
    ids: DataFrame,
    index_bases: dict[str, str],
    labels_base: str | None,
    ledger_base: str | None,
) -> None:
    """Steps 2-4 — every one idempotent, so a resume replays all of
    them unconditionally instead of guessing where the crash was."""
    from .bucketing import add_tombstones
    from .operators.dedup import (
        evict_labels,
        prune_edge_ledger,
        read_edge_ledger,
    )

    for base, id_col in index_bases.items():
        add_tombstones(
            spark, base, ids.withColumnRenamed("node", id_col), id_col
        )
    if ledger_base is not None:
        prune_edge_ledger(spark, ledger_base, ids, "node")
    if labels_base is not None:
        evict_labels(
            spark, labels_base, read_edge_ledger(spark, ledger_base), ids
        )


def _journal_begin(
    spark: SparkSession, journal_base: str, td_id: str, ids: DataFrame
) -> None:
    from .bucketing import _require_no_orphan_location

    t = _journal_table(journal_base)
    _require_no_orphan_location(spark, t)
    ids.select(
        F.lit(td_id).alias("td_id"),
        F.col("node").cast("long").alias("node"),
        F.lit("begin").alias("phase"),
    ).write.mode("append").format("parquet").saveAsTable(t)


def _journal_done(spark: SparkSession, journal_base: str, td_id: str) -> None:
    local_frame(
        spark, [(td_id, None, "done")], "td_id string, node long, phase string"
    ).write.mode("append").format("parquet").saveAsTable(
        _journal_table(journal_base)
    )


def pending_takedowns(spark: SparkSession, journal_base: str) -> list[str]:
    """Takedown ids journaled BEGIN but never DONE — the detectable
    state every inter-family crash window leaves (a clean journal
    means every composed takedown ran to completion). One scan of the
    takedown-sized journal."""
    t = _journal_table(journal_base)
    if not spark.catalog.tableExists(t):
        return []
    log = spark.table(t)
    done = log.filter(F.col("phase") == "done").select("td_id")
    return [
        r.td_id
        for r in log.filter(F.col("phase") == "begin")
        .select("td_id")
        .distinct()
        .join(done, "td_id", "left_anti")
        .collect()
    ]


def takedown_ids(
    spark: SparkSession, journal_base: str, td_id: str
) -> DataFrame:
    """The journaled id set of one takedown, back as (node) — what a
    resume replays."""
    return (
        spark.table(_journal_table(journal_base))
        .filter((F.col("phase") == "begin") & (F.col("td_id") == td_id))
        .select("node")
        .distinct()
    )


def resume_takedowns(
    spark: SparkSession,
    index_bases: dict[str, str],
    labels_base: str | None = None,
    ledger_base: str | None = None,
    journal_base: str | None = None,
) -> list[str]:
    """Replay every pending takedown (crash recovery, run at loop
    start): each journaled-but-unfinished id set is re-applied through
    the same pinned order — every step is idempotent, so re-running
    steps that DID complete before the crash changes nothing — and
    closed with its DONE marker. Returns the replayed ids."""
    if journal_base is None:
        journal_base = labels_base or next(iter(index_bases), None)
    if journal_base is None:
        raise IllegalStateError("resume_takedowns: no journal base named.")
    replayed = []
    for td_id in pending_takedowns(spark, journal_base):
        ids = takedown_ids(spark, journal_base, td_id).localCheckpoint()
        _apply_takedown(spark, ids, index_bases, labels_base, ledger_base)
        _journal_done(spark, journal_base, td_id)
        replayed.append(td_id)
    return replayed


def assert_taken_down(
    spark: SparkSession,
    ids: DataFrame,
    index_bases: dict[str, str],
    labels_base: str | None = None,
    ledger_base: str | None = None,
) -> dict[str, int]:
    """Cross-family consistency CHECK: how many of ``ids`` each family
    still SERVES (live index rows after the tombstone anti-join,
    standing label rows, surviving ledger edges). All-zero means the
    takedown is complete everywhere; a nonzero family after a crash is
    exactly the inconsistency `resume_takedowns` repairs. Diagnostic
    tier — a catalog prefix scan per family, not a hot path."""
    from .bucketing import _tables_like, filter_tombstoned, resolve_index_base
    from .operators.dedup import read_edge_ledger, read_labels

    idset = ids.select(F.col(ids.columns[0]).alias("_chk_id")).distinct()
    out: dict[str, int] = {}
    for base, id_col in index_bases.items():
        resolved = resolve_index_base(spark, base)
        n = 0
        for t in _tables_like(spark, f"{resolved}_*"):
            if t.endswith(("_state", "_tombstones", "_meta", "_ptr")):
                continue
            tbl = spark.table(t)
            if id_col not in tbl.columns:
                continue
            live = filter_tombstoned(spark, resolved, tbl, id_col)
            n += live.join(
                F.broadcast(idset),
                F.col(id_col) == F.col("_chk_id"),
                "left_semi",
            ).count()
        out[base] = n
    if labels_base is not None:
        lbl = read_labels(spark, labels_base)
        out[labels_base] = lbl.join(
            F.broadcast(idset), F.col("node") == F.col("_chk_id"), "left_semi"
        ).count()
    if ledger_base is not None:
        e = read_edge_ledger(spark, ledger_base)
        out[ledger_base] = e.join(
            F.broadcast(idset),
            (F.col("a_id") == F.col("_chk_id"))
            | (F.col("b_id") == F.col("_chk_id")),
            "left_semi",
        ).count()
    return out
