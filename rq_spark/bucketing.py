"""Bucketed-table co-location: the shuffle-free join path for big⋈big.

Broadcast handles small⋈big and salting handles skew; the remaining
100 TB join shape is big⋈big on a stable key (e.g. orders⋈lineitem on
orderkey, repeated by every downstream pipeline). Bucketing pays the
shuffle ONCE at write time: both tables are hash-partitioned into the
same number of buckets on the join key and sorted within buckets, so
every subsequent join/aggregation on that key runs as a zero-Exchange
SortMergeJoin — each task reads bucket i of both sides locally.

This is Spark's native bucketing (`DataFrameWriter.bucketBy` +
`saveAsTable`); no Hive metastore needed — the bucket spec lives in
the session catalog's table metadata. The reference has no tables at
all (stdin pipes, rq.rs:157-159), so this is extension-layer only.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .errors import IllegalStateError
from .util import local_frame


def write_bucketed(
    df: DataFrame,
    table_name: str,
    key: str | list[str],
    buckets: int = 8,
    sort: bool = True,
    mode: str = "overwrite",
) -> None:
    """Materialize df as a bucketed (and bucket-sorted) catalog table.
    ``key`` may be a single column or a composite key list (e.g.
    ``["band", "bhash"]`` for the LSH band index) — a later equi-join
    must use EXACTLY these columns for the zero-Exchange path.

    At 100 TB pick buckets so one bucket of the BIGGER table fits an
    executor's sort budget (e.g. 4096 buckets for ~25 GB each); both
    join sides must use the SAME bucket count or Spark re-shuffles the
    mismatched side.

    ``mode="append"`` (r11) is the daily-ingest path: new rows hash
    into their key's existing bucket (Spark validates the declared
    spec against the table's and refuses a mismatch), so the
    zero-Exchange join layout survives the append. The only read-side
    change is the per-file sort guarantee — a bucket now holds one
    file per write, so the scan re-sorts task-locally (a Sort node,
    never an Exchange) until the table is compacted.
    """
    keys = [key] if isinstance(key, str) else list(key)
    w = df.write.mode(mode).format("parquet").bucketBy(buckets, *keys)
    if sort:
        w = w.sortBy(*keys)
    w.saveAsTable(table_name)


def compact_bucketed_table(
    spark: SparkSession,
    table_name: str,
    key: str | list[str],
    sort: bool = True,
    purge: tuple[DataFrame, str | list[str]] | None = None,
) -> None:
    """Rewrite a bucketed table back to ~one file per bucket (r11) —
    the maintenance step that completes the persisted-index lifecycle
    (write → probe → append → COMPACT): every append adds one file
    per touched bucket, and while the bucket-pruned zero-Exchange read
    survives any number of appends, a many-file bucket pays a
    task-local re-sort per scan and more open/seek overhead. Compaction
    reads the table through its OWN bucketing (one scan partition per
    bucket — all of bucket i's files land in task i with no shuffle),
    rewrites each bucket as one sorted file, then swaps the rewrite in
    via RENAME.

    The rewrite is ZERO-shuffle: with the auto-bucketed-scan heuristic
    pinned off, the scan reads one partition per bucket (all of bucket
    i's files in task i — the bucketing already satisfies the write's
    distribution, so adding a repartition here is not just redundant,
    the planner REMOVES it while also un-bucketing the scan, which
    silently yields task-misaligned multi-file output; measured, and
    pinned in tests/test_index_append.py). Each task rewrites its
    bucket as one sorted file.

    Still non-transactional, but since r12 the data EXISTS UNDER SOME
    NAME at every step (r11 verdict task #3): the live table is
    renamed aside to ``{table}__precompact``, the rewrite renamed in,
    and only then is the backup dropped — the old DROP-then-RENAME
    order had a crash window that lost the table outright. A crash
    between the two renames leaves the data under the backup name
    only — probes fail LOUDLY (TABLE_OR_VIEW_NOT_FOUND, never stale
    answers) until the next compaction run, which recovers the live
    name automatically before proceeding (pinned by a
    failure-injection test in tests/test_index_append.py). Runs ∝
    table size with zero
    recomputation — rows are moved, never re-derived, so it applies
    identically to every index family.

    ``purge=(tombstones, id_col)`` (r12) physically drops dead rows
    during the rewrite: the tombstone relation is deletion-sized and
    broadcast, so the anti-join rides the task-local bucket scan as a
    map-side filter — the rewrite stays zero-shuffle. Callers clear
    the tombstone table afterwards (the family-level
    ``compact_*_index`` wrappers do)."""
    keys = [key] if isinstance(key, str) else list(key)
    backup = f"{table_name}__precompact"
    # crash recovery: a previous compaction that died between its two
    # renames left the data under the backup name only — restore it
    # before doing anything else
    if not spark.catalog.tableExists(table_name) and spark.catalog.tableExists(
        backup
    ):
        spark.sql(f"ALTER TABLE {backup} RENAME TO {table_name}")
    spark.sql(f"DROP TABLE IF EXISTS {backup}")
    buckets = table_buckets(spark, table_name)
    tmp = f"{table_name}__compacting"
    spark.sql(f"DROP TABLE IF EXISTS {tmp}")
    _AUTO = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    prev = spark.conf.get(_AUTO, "true")
    spark.conf.set(_AUTO, "false")
    try:
        df = spark.table(table_name)
        if purge is not None:
            tomb, idc = purge
            # a LIST of id columns purges rows dead through ANY of them
            # (r14: the edge ledger's rows die when EITHER endpoint is
            # tombstoned) — sequential anti-joins = the union of kills
            for c in [idc] if isinstance(idc, str) else idc:
                df = _anti_tombstone(df, tomb, c)
        write_bucketed(df, tmp, keys, buckets=buckets, sort=sort)
    finally:
        spark.conf.set(_AUTO, prev)
    spark.sql(f"ALTER TABLE {table_name} RENAME TO {backup}")
    spark.sql(f"ALTER TABLE {tmp} RENAME TO {table_name}")
    spark.sql(f"DROP TABLE {backup}")


def table_buckets(spark: SparkSession, table_name: str) -> int:
    """Bucket count of an existing bucketed table, from the catalog
    metadata (DESCRIBE FORMATTED) — appenders must declare EXACTLY
    the existing count, and reading it from the table (never a caller
    argument) makes layout drift impossible."""
    for r in spark.sql(f"DESCRIBE FORMATTED {table_name}").collect():
        if r.col_name.strip() == "Num Buckets":
            return int(r.data_type)
    raise ValueError(f"table {table_name} is not bucketed")


# --------------------------------------------------------------------------
# deletion / upsert for persisted indexes (r12, r11 verdict task #2)
#
# The bucketed index tables are INSERT-only parquet — a real standing
# corpus also sees takedowns and re-crawls. Rather than rewrite the
# corpus-sized layout per deletion, every index row carries a
# GENERATION stamp (``gen``: +1 per full rewrite, append, or tombstone
# batch, tracked in the one-row ``{base}_state`` table — a rewrite's
# rows sit ABOVE every standing tombstone, see the staged-rewrite
# section below), and
# deletions append (id, gen) rows to ``{base}_tombstones``. A row is
# dead iff some tombstone for its id is at least as new as the row —
# so deleting an id kills everything written so far, while REINGEST
# (tombstone at gen g, re-append at gen g+1) resurrects the id with
# only its new rows visible. Probes anti-join the (deletion-sized,
# broadcast) tombstone table map-side — the corpus never shuffles —
# and compaction purges dead rows physically (the rewrite is already
# task-local per bucket) then clears the tombstones.
#
# Concurrency contract: ONE writer at a time per index (the daily
# ingest job) — bump_gen's read-modify-write of the one-row state
# table is not atomic across concurrent writers, the same single-
# writer assumption the bucketed appends and compaction swap already
# carry. Since r13 the contract is ENFORCED cheaply, not just
# documented: every bump stamps a random nonce next to the gen, and
# writers re-read the state row AFTER their data lands
# (`verify_sole_writer`) — a rival bump in between changes the nonce
# and the late writer fails with a named error instead of silently
# losing the gen update. A lost-update DETECTOR, not a transaction
# protocol: a multi-writer deployment still needs a lakehouse table
# format's optimistic transactions underneath; the generation algebra
# itself transfers unchanged. Reader contract: probes only ever see
# committed parquet, and APPEND/TOMBSTONE mutations are fully
# serve-transparent (new files land in existing buckets; the anti-join
# reads committed tombstone rows). A FULL REWRITE is transparent only
# for probes CONSTRUCTED after its swap: an in-flight plan built
# before the swap pinned the old tables' locations and meta values,
# and executing it across the swap reads new files under old
# parameters or fails on missing files (r13 review). Zero-downtime
# rewrites at scale should write under a NEW base name and flip the
# serving alias — the same blue/green discipline any non-transactional
# table format needs.
# --------------------------------------------------------------------------


class ConcurrentWriterError(IllegalStateError):
    """Two writers mutated one index's generation state concurrently —
    the single-writer contract was violated and the index may hold
    rows/tombstones stamped under a clobbered generation. Recover by
    re-running the losing writer's batch (appends are idempotent up to
    visible duplicates; a full rewrite resets everything)."""


def _managed_location(spark: SparkSession, table_name: str) -> str:
    """Warehouse directory a MANAGED table of this name would occupy.
    Only the LEADING 'file:' scheme is stripped (ADVICE r12: a
    substring replace would corrupt a path containing 'file:')."""
    import os

    wh = spark.conf.get("spark.sql.warehouse.dir", "")
    if wh.startswith("file:"):
        wh = wh[len("file:"):]
    return os.path.join(wh, table_name.lower()) if wh else ""


def _remove_orphan_location(spark: SparkSession, table_name: str) -> None:
    """Remove a MANAGED table directory the catalog no longer knows
    about. With an in-memory session catalog (the default here and in
    any metastore-less deployment) a restart forgets every table while
    the warehouse directories survive; the next `saveAsTable` then
    fails with LOCATION_ALREADY_EXISTS. Only fires when the catalog
    has NO entry for the name — a live table is never touched.

    DESTRUCTIVE by design, so only the full-rewrite path calls it
    (`begin_index_rewrite`, where discarding survivors is the caller's
    declared intent — and where the survivors are already invisible to
    every probe, which resolves tables through the catalog). Mutation
    paths use `_require_no_orphan_location` instead (ADVICE r12: a
    restarted session's bump_gen/add_tombstones must never silently
    destroy standing deletion records)."""
    if spark.catalog.tableExists(table_name):
        return
    import os
    import shutil

    loc = _managed_location(spark, table_name)
    if loc and os.path.isdir(loc):
        shutil.rmtree(loc)


def _require_no_orphan_location(spark: SparkSession, table_name: str) -> None:
    """Fail LOUDLY when a catalog-less warehouse directory shadows the
    table a mutation is about to write (ADVICE r12): in a restarted
    metastore-less session the directory holds the previous session's
    standing state/tombstone parquet — deletion records — and
    overwriting or rmtree-ing it would silently destroy them."""
    if spark.catalog.tableExists(table_name):
        return
    import os

    loc = _managed_location(spark, table_name)
    if loc and os.path.isdir(loc):
        raise IllegalStateError(
            f"warehouse directory {loc!r} survives from a previous session "
            f"but the catalog has no entry for {table_name} — refusing to "
            "overwrite standing index state. Re-register the index's tables "
            "in this session, or re-run the full index write (which resets "
            "deletion state by declared intent)."
        )


def _require_meta(spark: SparkSession, base_name: str, action: str) -> None:
    """Fail loudly unless ``base_name`` (already alias-resolved) exists
    as an index, i.e. has its ``{base}_meta`` table. Without the check
    a typo'd name, an alias whose ptr table vanished mid-flip (which
    resolves to the alias itself), or a restarted metastore-less
    session would let ``action`` create or drop state on tables
    nothing serves while the real index keeps serving."""
    if not spark.catalog.tableExists(f"{base_name}_meta"):
        raise IllegalStateError(
            f"{base_name} has no meta table in this session's catalog — "
            f"refusing {action} (typo'd name, an alias whose ptr table "
            "vanished mid-flip, or a restarted metastore-less session: "
            "re-check the name or re-register the index's tables first)."
        )


def _read_one_row_table(spark: SparkSession, table_name: str):
    """Read a drop-then-create one-row table FRESH: these tables (gen
    state, applied-epoch markers) are overwritten by whole-table
    replacement, possibly from a foreachBatch micro-batch's CLONED
    session (r14) — the reading session's relation cache can then
    still list the replaced file and fail FILE_NOT_EXIST (or worse,
    answer stale). One refreshTable per read, a driver-side catalog
    op on a one-row table, paid only on mutation-path reads."""
    spark.catalog.refreshTable(table_name)
    return spark.table(table_name).collect()


def current_gen(spark: SparkSession, base_name: str) -> int:
    """The index's current generation (one-row read; 0 for an index
    written before generation tracking existed). Accepts a serving
    alias (resolved — idempotent for physical names)."""
    base_name = resolve_index_base(spark, base_name)
    if not spark.catalog.tableExists(f"{base_name}_state"):
        return 0
    return _read_one_row_table(spark, f"{base_name}_state")[0].gen


def _tables_like(spark: SparkSession, pattern: str) -> list[str]:
    """Names of the current database's tables and temporary views that
    match ``pattern``, read with ``SHOW TABLES LIKE`` — a catalog
    command that launches no Spark job, where
    ``spark.catalog.listTables()`` launches three per call. The pattern
    is Spark's: ``*`` matches any run of characters, ``|`` separates
    alternatives, and matching is case-insensitive over the whole name;
    every other character is read as a regular expression. The bases
    callers pass in a pattern are ``[a-z0-9_]`` identifiers, which
    match themselves literally."""
    return [
        r.tableName
        for r in spark.sql(f"SHOW TABLES LIKE '{pattern}'").collect()
    ]


def _max_standing_gen(spark: SparkSession, base_name: str) -> int:
    """Highest generation stamped on ANY standing row of the index —
    tombstones AND data rows, found by a catalog prefix scan over the
    family's tables (every table carrying a ``gen`` column counts;
    swap temps/backups are excluded — a dead rewrite's rows are
    disposable and recovered elsewhere). Only read in the state-loss
    anomaly, so the per-table max aggregates are paid exactly when a
    crashed state overwrite must be recovered from, never on the hot
    path. A sibling index sharing the name prefix can only raise the
    floor, which is harmless: duplicate/ skipped gen values are fine,
    regression below a standing row or tombstone is not."""
    g = 0
    for name in _tables_like(spark, f"{base_name}_*"):
        if name.endswith((_RW, _BAK, "__precompact", "__compacting")):
            continue
        tbl = spark.table(name)
        if "gen" not in tbl.columns:
            continue
        row = tbl.agg(F.max("gen").alias("g")).collect()[0]
        g = max(g, int(row.g or 0))
    return g


def bump_gen(spark: SparkSession, base_name: str) -> tuple[int, int]:
    """Advance the index's generation and return ``(gen, nonce)`` —
    one one-row read + one one-row overwrite, called once per append,
    tombstone batch, or full rewrite (never per row). The nonce is this
    writer's random claim on the generation: pass both to
    `verify_sole_writer` after the data lands to turn a concurrent
    writer's lost update into a loud `ConcurrentWriterError`.

    The one-row overwrite is drop-then-create, so a crash INSIDE it
    can lose the state table outright (r13 review): the missing→0
    fallback would then restart the counter BELOW standing gens, and
    the generation algebra breaks in BOTH directions — old tombstones
    silently hide every future append's rows, or (ADVICE r13) a fresh
    tombstone stamped below standing DATA rows never kills them, a
    silent lost takedown. So when the state table is missing, the
    counter is floored at the MAX STANDING GEN across the family's
    tombstone AND data tables (`_max_standing_gen` — a catalog prefix
    scan paid only in that anomaly): duplicate gen values across
    appends are harmless (gen ordering only matters between rows and
    tombstones), regression below either is not. A half-written orphan
    state dir fails loudly below instead."""
    import secrets

    base_name = resolve_index_base(spark, base_name)
    g0 = current_gen(spark, base_name)
    if g0 == 0 and not spark.catalog.tableExists(f"{base_name}_state"):
        g0 = _max_standing_gen(spark, base_name)
    g = g0 + 1
    nonce = secrets.randbits(62)
    _require_no_orphan_location(spark, f"{base_name}_state")
    local_frame(spark, [(g, nonce)], "gen long, nonce long").write.mode(
        "overwrite"
    ).format("parquet").saveAsTable(f"{base_name}_state")
    return g, nonce


def verify_sole_writer(
    spark: SparkSession, base_name: str, gen: int, nonce: int
) -> None:
    """Re-read the state row this writer's `bump_gen` wrote and raise
    `ConcurrentWriterError` if another writer overwrote it since — the
    cheap single-writer-contract enforcement (r13, r12 verdict task
    #5): one one-row read, called once per mutation AFTER its data
    write, so a lost gen update is detected while the losing batch is
    still known and re-runnable."""
    row = _read_one_row_table(spark, f"{base_name}_state")[0]
    seen_nonce = getattr(row, "nonce", None)
    if row.gen != gen or seen_nonce != nonce:
        raise ConcurrentWriterError(
            f"index {base_name}: generation state changed underneath this "
            f"writer (wrote gen={gen}, found gen={row.gen}) — a concurrent "
            "mutation violated the single-writer contract. Re-run this "
            "writer's batch; use a lakehouse table format for true "
            "multi-writer indexes."
        )


def add_tombstones(
    spark: SparkSession,
    base_name: str,
    ids: DataFrame,
    id_col: str = "id",
    at_gen: int | None = None,
) -> None:
    """Mark ids as deleted from the index, stamped at the CURRENT
    generation (bumped first, so the tombstone covers every row
    written so far and nothing appended after it). Cost ∝ deletions:
    one append of (id, gen) rows — no index table is read or touched.

    ``at_gen`` stamps an EXPLICIT generation without bumping — the
    reingest appenders use it to tombstone AFTER writing the new rows
    (stamp = new rows' gen − 1, killing everything older): tombstoning
    first would open a crash window where the ids are dead with no
    replacement written, a silent delete; append-then-tombstone can at
    worst leave visible duplicates, the documented plain-INSERT state,
    repaired by retrying (r12 review).

    Fail-loud guard (ADVICE r13): the target must EXIST as an index —
    ``{base}_meta`` after alias resolution. Without it, a typo'd base
    name (or an alias whose ptr table vanished mid-flip, which resolves
    to the alias itself) would silently create fresh state/tombstone
    tables, land the takedown on tables nothing serves, and leave the
    real index serving the deleted doc — while the stray
    ``{alias}_state`` would also poison the name for any future
    `set_index_pointer`. `retire_index` carries the same guard."""
    orig_name = base_name
    base_name = resolve_index_base(spark, base_name)
    _require_meta(spark, base_name, "to create deletion state for it")
    if at_gen is None:
        g, nonce = bump_gen(spark, base_name)
    else:
        g, nonce = int(at_gen), None
    _require_no_orphan_location(spark, f"{base_name}_tombstones")
    ids.select(
        F.col(id_col).alias("id"), F.lit(g).cast("long").alias("gen")
    ).write.mode("append").format("parquet").saveAsTable(
        f"{base_name}_tombstones"
    )
    if nonce is not None:
        verify_sole_writer(spark, base_name, g, nonce)
    verify_still_serving(spark, orig_name, base_name)


def clear_tombstones(spark: SparkSession, base_name: str) -> None:
    """Drop the tombstone table — only valid right after a compaction
    purge (the dead rows are physically gone) or a full rewrite.
    Accepts a serving alias (resolved — r13 review: an unresolved
    alias here would silently drop a nonexistent table while the
    serving base's tombstones stood)."""
    base_name = resolve_index_base(spark, base_name)
    spark.sql(f"DROP TABLE IF EXISTS {base_name}_tombstones")


# --------------------------------------------------------------------------
# blue/green serving pointers (r13, review follow-up)
#
# An in-place full rewrite is loud-but-DOWN during its swap, and an
# in-flight plan built before the swap pinned the old tables' locations
# — so a serving fleet that must answer probes THROUGH a rewrite needs
# the blue/green shape instead: write the new index under a NEW
# physical base name, then flip a serving ALIAS to it. The alias is one
# tiny `{alias}_ptr` table holding the physical base name; every index
# entry point resolves it first (`resolve_index_base` — one catalog
# lookup + a one-row read, the same cost class as the meta read every
# probe already pays). The flip overwrites that single object: probes
# that resolved before the flip keep reading the OLD base's tables —
# which stay untouched until the operator retires them — and probes
# after it read the new base; the only crash window is the ptr table's
# own drop+create, during which resolution fails loudly. Mutations
# through the alias (append/tombstone/compact) resolve the same way
# and act on the currently-serving physical base.
# --------------------------------------------------------------------------


# --------------------------------------------------------------------------
# catalog re-registration after a metastore-less restart (r14, r13
# verdict task #3)
#
# Production deployments of the index lifecycle run a PERSISTENT
# catalog (Hive metastore / a lakehouse catalog), where a restart
# changes nothing: the table entries — including bucket specs — come
# back with the session. The local default (Spark's in-memory catalog)
# instead FORGETS every table at restart while the warehouse
# directories survive, and every entry point in this module fails
# loudly on that state rather than guessing (`retire_index`,
# `add_tombstones`, the orphan-location guards). These two helpers are
# the documented recovery: re-register each surviving directory as an
# EXTERNAL table — plain tables from their files alone, bucketed
# tables with the SAME key/bucket-count the family wrote (Spark
# encodes the bucket id in each data file's NAME, so a re-registered
# table keeps its zero-Exchange layout; the bucket COUNT itself is
# catalog-only metadata and must come from the operator's deployment
# config — it is deliberately NOT inferred from file names, since an
# empty bucket would undercount and silently mis-route every
# subsequent bucketed join). A wrong declared spec is caught by
# Spark's own spec validation on the next bucketed append.
# --------------------------------------------------------------------------


def register_parquet_table(
    spark: SparkSession, table_name: str, location: str
) -> None:
    """Re-register a plain parquet table from its surviving directory
    (schema inferred from the files) — the restart-recovery path for
    meta/state/tombstone/ptr/journal tables."""
    spark.sql(
        f"CREATE TABLE {table_name} USING parquet LOCATION '{location}'"
    )


def register_bucketed_table(
    spark: SparkSession,
    table_name: str,
    location: str,
    key: str | list[str],
    buckets: int,
    sort: bool = True,
) -> None:
    """Re-register a bucketed table from its surviving directory with
    an explicit bucket spec (see the section comment: the spec is
    catalog-only metadata a restart loses; the bucket ids live in the
    file names and survive). ``key``/``buckets``/``sort`` must match
    what `write_bucketed` declared — the module's families all write
    ``sort=True`` on the bucket key."""
    keys = [key] if isinstance(key, str) else list(key)
    schema = spark.read.parquet(location).schema
    cols = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in schema)
    sorted_by = f"SORTED BY ({', '.join(keys)}) " if sort else ""
    spark.sql(
        f"CREATE TABLE {table_name} ({cols}) USING parquet "
        f"CLUSTERED BY ({', '.join(keys)}) {sorted_by}"
        f"INTO {buckets} BUCKETS LOCATION '{location}'"
    )


def set_index_pointer(spark: SparkSession, alias: str, base_name: str) -> None:
    """Point serving alias ``alias`` at physical index ``base_name``
    (one-hop only — pointing at another alias raises). Overwrites the
    one-row ``{alias}_ptr`` table; the flip is the blue/green cutover.

    Guards (r13 review): the TARGET must exist as an index (its meta
    table is the check — a typo'd flip would otherwise turn the one
    zero-downtime operation into an instant serving outage), and the
    ALIAS name must not collide with a physical index (if
    ``{alias}_meta``/``{alias}_state`` exist, a lost/forgotten ptr
    table would make the alias silently resolve to itself and serve
    the STALE physical tables instead of failing loudly — the
    invariant 'mid-flip readers fail loudly' requires the alias to own
    no tables of its own)."""
    if spark.catalog.tableExists(f"{base_name}_ptr"):
        raise IllegalStateError(
            f"{base_name} is itself a serving alias — alias chains are "
            "not supported (point at the physical base instead)"
        )
    _require_meta(spark, base_name, "to flip serving to it")
    for suffix in ("meta", "state"):
        if spark.catalog.tableExists(f"{alias}_{suffix}"):
            raise IllegalStateError(
                f"{alias} already names a physical index "
                f"({alias}_{suffix} exists) — a serving alias must own no "
                "tables, or a lost pointer would silently serve the stale "
                "physical tables. Pick a fresh alias name."
            )
    _remove_orphan_location(spark, f"{alias}_ptr")
    local_frame(spark, [(base_name,)], "base string").write.mode(
        "overwrite"
    ).format("parquet").saveAsTable(f"{alias}_ptr")


def resolve_index_base(spark: SparkSession, name: str) -> str:
    """Resolve a serving alias to its physical base (identity for a
    physical name). Every index entry point calls this first, so
    probes, appends, tombstones, and compaction all follow the
    currently-serving base through one flip point.

    A restarted session's ORPHANED ptr dir fails loudly here (r13
    review): silently treating the alias as a physical name would
    route a takedown to tables nothing serves — the lost-deletion
    class again.

    The ptr is read FRESH (r14): Spark's table-relation cache is per
    SESSION, so a flip executed by another session (a takedown job, a
    foreachBatch micro-batch clone) would otherwise be invisible here
    forever — every probe and mutation in this session would keep
    following the retired base. One-row refresh, driver-side only."""
    if not spark.catalog.tableExists(f"{name}_ptr"):
        _require_no_orphan_location(spark, f"{name}_ptr")
        return name
    return _read_one_row_table(spark, f"{name}_ptr")[0].base


def verify_still_serving(
    spark: SparkSession, name: str, resolved: str
) -> None:
    """Detect a blue/green flip that raced a mutation (r13 review):
    the mutation resolved ``name`` → ``resolved`` at entry and wrote
    there; if the pointer moved meanwhile, the writes landed on the
    RETIRED base and the serving base never saw them — a lost takedown
    or append the per-base writer nonce cannot see (the flip touches
    no gen/nonce). Mutating entry points call this LAST; on mismatch
    the caller re-runs the batch against the current serving base."""
    now = resolve_index_base(spark, name)
    if now != resolved:
        raise ConcurrentWriterError(
            f"serving pointer {name} was flipped from {resolved} to {now} "
            "while this mutation ran — the writes landed on the retired "
            "base; re-run the batch against the current serving base."
        )


# --------------------------------------------------------------------------
# crash-safe full index rewrite (r13, ADVICE r12 — the medium finding)
#
# A full `write_*_index` used to reset the generation counter and DROP
# standing tombstones before the expensive recompute and the in-place
# table overwrites. Two silent crash windows followed: die after the
# reset but before the first overwrite and the OLD tables stay fully
# readable with their tombstones gone (probes resurrect deleted rows);
# die between two table overwrites and probes silently join NEW rows of
# one table against OLD rows of another. The rewrite is now staged:
#
#   1. `begin_index_rewrite` — recover any half-finished earlier swap,
#      then BUMP the generation. The rewrite's rows are stamped at the
#      new generation, so every standing tombstone (stamped strictly
#      below it) is inert against them — which is what lets the
#      tombstone drop move AFTER the swap.
#   2. The caller writes every table under ``{table}__rewrite`` names.
#      A crash here leaves the old index — tables, tombstones, probes —
#      completely untouched.
#   3. `finish_index_rewrite` — rename the live tables aside (META
#      FIRST) then the rewrites in (META LAST): every probe resolves
#      the meta table first, so from the first rename to the last the
#      index fails LOUDLY (TABLE_OR_VIEW_NOT_FOUND), never answers from
#      a mixed old/new table set. Only then are the (now inert)
#      tombstones and the backups dropped.
#
# Recovery (next `begin_index_rewrite`): live meta missing + meta
# backup present ⇒ the swap died mid-flight — roll BACK to the old
# index, whose tombstones were never touched. Meta is restored LAST so
# a crash inside recovery itself re-enters recovery. Any other leftover
# temp/backup is dropped. Same single-writer assumption as the rest of
# the lifecycle; `finish_index_rewrite` verifies the writer nonce
# BEFORE clobbering the live tables.
# --------------------------------------------------------------------------

_RW = "__rewrite"
_BAK = "__prewrite"


def _rename_table(spark: SparkSession, old: str, new: str) -> None:
    """Catalog rename (moves the managed directory with the table) —
    split out so failure-injection tests can crash a specific rename."""
    spark.sql(f"ALTER TABLE {old} RENAME TO {new}")


def _recover_index_rewrite(spark: SparkSession, tables: list[str]) -> None:
    """Repair the crash states a died rewrite can leave. ``tables[0]``
    must be the family's meta table (the swap's loudness anchor)."""
    meta = tables[0]
    if not spark.catalog.tableExists(meta) and spark.catalog.tableExists(
        meta + _BAK
    ):
        # the swap died mid-flight: roll BACK to the old index — its
        # tombstones were never touched (dropped only after a completed
        # swap) and are still meaningful against the old rows. Meta is
        # restored LAST: while it is missing, a crash inside THIS loop
        # re-enters recovery on the next call.
        for t in list(tables[1:]) + [meta]:
            b = t + _BAK
            if spark.catalog.tableExists(b):
                spark.sql(f"DROP TABLE IF EXISTS {t}")  # a renamed-in NEW
                _rename_table(spark, b, t)
    for t in tables:
        spark.sql(f"DROP TABLE IF EXISTS {t + _RW}")
        spark.sql(f"DROP TABLE IF EXISTS {t + _BAK}")
        # a restart forgets temp tables while their dirs survive; temps
        # are disposable by construction, so deleting the orphans is safe
        _remove_orphan_location(spark, t + _RW)


def recover_index(spark: SparkSession, tables: list[str]) -> None:
    """Public crash-recovery entry point for a died full rewrite
    (ADVICE r13): roll BACK to the old table set when the swap died
    mid-flight (live meta missing, ``meta__prewrite`` standing) and
    drop any rewrite leftovers. ``tables[0]`` must be the family's
    meta table, like `begin_index_rewrite`'s.

    Before this existed, the rollback lived only inside
    `begin_index_rewrite` — which the daily loop reaches through
    `write_labels`, AFTER the caller already needed `read_labels`
    output: a mid-swap crash left the loop unable to read OR rewrite
    without private internals. Readers now recover through this
    (`read_labels` calls it when meta is missing but the backup
    stands); operators can also run it explicitly before a loop.
    Single-writer contract applies: never run it concurrently with a
    live rewrite of the same family — the leftover-temp cleanup would
    destroy the in-flight writer's staged tables."""
    _recover_index_rewrite(spark, tables)


def begin_index_rewrite(
    spark: SparkSession, base_name: str, tables: list[str]
) -> tuple[int, int]:
    """Start a full index rewrite over ``tables`` (meta first — see
    the staging comment above). Recovers any earlier half-finished
    swap, clears rewrite leftovers, and bumps the generation: returns
    ``(gen, nonce)`` — stamp every rewritten row with ``gen`` and pass
    both to `finish_index_rewrite`."""
    _recover_index_rewrite(spark, tables)
    # a restarted session's orphan dirs — state, tombstones, the data
    # tables themselves, swap backups — are already invisible to every
    # probe (catalog-resolved), and a full rewrite resets the index by
    # declared intent, so removing them here changes no observable
    # result; leaving them would instead fail the swap's renames
    # (destination directory occupied) or the state overwrite
    _remove_orphan_location(spark, f"{base_name}_state")
    _remove_orphan_location(spark, f"{base_name}_tombstones")
    for t in tables:
        _remove_orphan_location(spark, t)
        _remove_orphan_location(spark, t + _BAK)
    return bump_gen(spark, base_name)


def finish_index_rewrite(
    spark: SparkSession,
    base_name: str,
    tables: list[str],
    gen: int,
    nonce: int,
) -> None:
    """Swap the ``{table}__rewrite`` set in as the live index. Verifies
    the writer nonce FIRST (a rival writer detected here aborts before
    any live table is touched), then renames live aside META-FIRST and
    rewrites in META-LAST so every intermediate state fails loudly, and
    finally drops the now-inert tombstones and the backups."""
    verify_sole_writer(spark, base_name, gen, nonce)
    for t in tables:
        if spark.catalog.tableExists(t):
            _rename_table(spark, t, t + _BAK)
    for t in reversed(tables):
        _rename_table(spark, t + _RW, t)
    # standing tombstones are inert against the new generation's rows
    # (every tombstone is stamped strictly below it) — dropping them is
    # hygiene, not correctness, so a crash right here stays consistent
    spark.sql(f"DROP TABLE IF EXISTS {base_name}_tombstones")
    for t in tables:
        spark.sql(f"DROP TABLE IF EXISTS {t + _BAK}")


# --------------------------------------------------------------------------
# one staged rewrite and one staged append for every persisted family
#
# A family (the MinHash, Hamming and IVFPQ indexes, the cluster labels,
# the edge ledger) is declared once as the (suffix, bucket key, purge
# id) triples of its bucketed tables — the list `compact_index_tables`
# takes — plus its one-row ``{base}_meta`` and any plain side tables.
# Its `write_*`/`append_*` functions only build rows; these two own the
# crash-safe protocol.
# --------------------------------------------------------------------------

TableSpec = tuple[str, str | list[str], str | list[str]]


def staged_rewrite(
    spark: SparkSession,
    base_name: str,
    tables: list[TableSpec],
    rows: list[DataFrame],
    meta: Callable[[int], DataFrame],
    buckets: int,
    side: dict[str, DataFrame] | None = None,
) -> None:
    """Replace a family's whole table set, crash-safe — the one
    implementation of the staging section above. Resolves the serving
    pointer, `begin_index_rewrite` recovers a died swap and bumps the
    generation (every standing tombstone is stamped below the new rows,
    so it stays inert against them until the swap drops it). Every
    table is then written under a ``__rewrite`` temp name: ``rows[i]``
    bucketed on ``tables[i]``'s key with ``gen`` stamped as its last
    column, then the plain ``side`` tables, then ``meta(gen)``.
    `finish_index_rewrite` checks the writer nonce and swaps the set in
    with meta listed first (renamed aside first, renamed in last), so a
    crash at any point leaves the old set intact, tombstones included,
    or a loud TABLE_OR_VIEW_NOT_FOUND, never a silent old/new mix.
    `verify_still_serving` last catches a blue/green flip that raced
    the rewrite."""
    orig_name = base_name
    base_name = resolve_index_base(spark, base_name)
    side = side or {}
    names = [
        f"{base_name}_{s}" for s in ["meta", *(t[0] for t in tables), *side]
    ]
    g, nonce = begin_index_rewrite(spark, base_name, names)
    gen = F.lit(g).cast("long")
    for (suffix, key, _), df in zip(tables, rows, strict=True):
        write_bucketed(
            df.withColumn("gen", gen), f"{base_name}_{suffix}{_RW}", key,
            buckets=buckets,
        )
    for suffix, df in [*side.items(), ("meta", meta(g))]:
        df.write.mode("overwrite").format("parquet").saveAsTable(
            f"{base_name}_{suffix}{_RW}"
        )
    finish_index_rewrite(spark, base_name, names, g, nonce)
    verify_still_serving(spark, orig_name, base_name)


def staged_append(
    spark: SparkSession,
    base_name: str,
    tables: list[TableSpec],
    rows: Callable[[str], list[DataFrame]],
    reingest: tuple[DataFrame, str] | None = None,
) -> None:
    """Append a batch to a family's bucketed tables. Resolves the
    serving pointer and requires ``{base}_meta`` before anything is
    read or written, then calls ``rows(base)`` — the family reads its
    pinned parameters and runs its guards there, before the generation
    moves — and `bump_gen`s. Each ``rows(base)[i]`` is stamped with
    ``gen`` as its last column and appended into ``tables[i]`` under the
    table's own bucket count (`table_buckets`, never an argument), so
    the bucket layout survives. Cost ∝ batch: nothing standing is read.

    ``reingest=(batch, id_col)`` is the upsert path: after the rows
    land, the batch's ids are tombstoned at ``gen - 1``, killing every
    older row of those ids and none of this append. Tombstoning first
    would open a crash window where the ids are dead with nothing
    written (a silent delete); this order can at worst leave visible
    duplicates, repaired by retrying. The writer-nonce check
    (`verify_sole_writer`) and the serving re-check
    (`verify_still_serving`) run last, while the batch is still known
    and re-runnable."""
    orig_name = base_name
    base_name = resolve_index_base(spark, base_name)
    _require_meta(spark, base_name, "to append into it before a full write")
    batch = rows(base_name)
    g, nonce = bump_gen(spark, base_name)
    gen = F.lit(g).cast("long")
    for (suffix, key, _), df in zip(tables, batch, strict=True):
        t = f"{base_name}_{suffix}"
        write_bucketed(
            df.withColumn("gen", gen), t, key,
            buckets=table_buckets(spark, t), mode="append",
        )
    if reingest is not None:
        src, id_col = reingest
        add_tombstones(
            spark, base_name, src.select(id_col).distinct(), id_col,
            at_gen=g - 1,
        )
    verify_sole_writer(spark, base_name, g, nonce)
    verify_still_serving(spark, orig_name, base_name)


def _dead_row_cond(rows: DataFrame, id_col: str) -> Column:
    return (rows[id_col] == F.col("_tomb_id")) & (
        F.col("_tomb_gen") >= rows["gen"]
    )


def _anti_tombstone(rows: DataFrame, tomb: DataFrame, id_col: str) -> DataFrame:
    # rows written before generation tracking existed carry no gen
    # column — treat them as gen 0 (every tombstone kills them)
    # instead of failing analysis (r12 review)
    if "gen" not in rows.columns:
        rows = rows.withColumn("gen", F.lit(0).cast("long"))
    t = tomb.select(
        F.col("id").alias("_tomb_id"), F.col("gen").alias("_tomb_gen")
    )
    return rows.join(F.broadcast(t), _dead_row_cond(rows, id_col), "left_anti")


def index_health(
    spark: SparkSession, base_name: str, count_rows: bool = False
) -> dict:
    """Operational snapshot of a persisted base (index / labels /
    ledger) — the numbers the maintenance cadence runs on (r14). Every
    append lands ~one file per touched bucket: the zero-Exchange read
    survives any number of appends, but task-local sort input and
    open/seek overhead grow until the family's ``compact_*`` folds the
    table back to ~one file per bucket, and tombstones accumulate ∝
    deletions until compaction purges them. This reports, per data
    table: file count, declared bucket count, and files-per-bucket
    (the compaction-due signal); plus the base's current generation
    and standing tombstone count. Metadata-only by default — file
    counts come from the driver-side listing (`inputFiles`), no table
    is scanned; ``count_rows=True`` adds raw row counts (one count job
    per table — diagnostic tier, not a hot path).

    Accepts a serving alias (resolved; the report names both)."""
    resolved = resolve_index_base(spark, base_name)
    control = ("_meta", "_state", "_tombstones", "_ptr", "_applied")
    out: dict = {
        "base": resolved,
        "alias": base_name if base_name != resolved else None,
        "gen": None,
        "tombstones": 0,
        "tables": {},
        "max_files_per_bucket": 0.0,
    }
    if spark.catalog.tableExists(f"{resolved}_state"):
        out["gen"] = current_gen(spark, resolved)
    if spark.catalog.tableExists(f"{resolved}_tombstones"):
        out["tombstones"] = spark.table(f"{resolved}_tombstones").count()
    for t in sorted(_tables_like(spark, f"{resolved}_*")):
        if t.endswith(control + ("__rewrite", "__prewrite")):
            continue
        tbl = spark.table(t)
        n_files = len(tbl.inputFiles())
        try:
            buckets = table_buckets(spark, t)
        except ValueError:  # a plain (non-bucketed) side table
            buckets = None
        info = {
            "files": n_files,
            "buckets": buckets,
            "files_per_bucket": (
                round(n_files / buckets, 2) if buckets else None
            ),
        }
        if count_rows:
            info["rows"] = tbl.count()
        if info["files_per_bucket"]:
            out["max_files_per_bucket"] = max(
                out["max_files_per_bucket"], info["files_per_bucket"]
            )
        out["tables"][t] = info
    return out


def refresh_base_tables(spark: SparkSession, *base_names: str) -> None:
    """Invalidate this session's cached file listings for every
    catalog table of the given index/labels/ledger bases (r14).

    Spark's table-relation cache is PER SESSION: after another session
    mutates a table this session has already read — a foreachBatch
    micro-batch runs in a CLONED session, a concurrent takedown or
    ingest job in its own — this session keeps serving the old file
    listing (appended rows and tombstones invisible; a replaced file
    fails FILE_NOT_EXIST). The one-row control tables (gen state,
    applied-epoch markers, serving pointers) already re-read fresh on
    every use (`_read_one_row_table`, `resolve_index_base`); this is
    the DATA-table counterpart, for the seams where a whole base
    changed under this session: call it after a streaming ingest
    finishes (or per batch — the streaming scaffolds do), or before
    reading an index another job appends to.

    Cost: no Spark job for physical base names (pinned in
    tests/test_tombstones.py); a serving alias adds the one-row read of
    its pointer (`resolve_index_base`). The bases' tables are found
    with one ``SHOW TABLES LIKE`` catalog command (`_tables_like`, so
    base names are ``[a-z0-9_]`` identifiers) and each table's cached
    file listing is dropped; the re-LISTING is lazy, paid by the next
    query over each table. Each base name is
    refreshed under BOTH its given spelling and its resolved physical
    base, so aliases keep working across flips."""
    from pyspark.errors import AnalysisException

    prefixes = set(base_names)
    prefixes.update(resolve_index_base(spark, b) for b in base_names)
    if not prefixes:
        return
    pattern = "|".join(f"{p}|{p}_*" for p in sorted(prefixes))
    for t in sorted(_tables_like(spark, pattern)):
        try:
            spark.catalog.refreshTable(t)
        except AnalysisException:
            pass  # dropped by a concurrent rewrite between the list
            # and the refresh: its cache entry died with it


def filter_tombstoned(
    spark: SparkSession, base_name: str, rows: DataFrame, id_col: str
) -> DataFrame:
    """Drop rows whose id carries a tombstone at least as new as the
    row — the probe-side view of deletions. The tombstone side is
    deletion-sized and BROADCAST (a BroadcastHashJoin LeftAnti with
    the gen comparison riding the join condition), so the corpus-side
    relation is filtered map-side without moving; with no tombstone
    table the input returns untouched, zero overhead. Accepts a
    serving alias (resolved — r13 review: an unresolved alias would
    silently skip the anti-join and resurrect deleted rows)."""
    base_name = resolve_index_base(spark, base_name)
    if not spark.catalog.tableExists(f"{base_name}_tombstones"):
        return rows
    return _anti_tombstone(rows, spark.table(f"{base_name}_tombstones"), id_col)


def compact_index_tables(
    spark: SparkSession,
    base_name: str,
    tables: list[TableSpec],
) -> None:
    """Shared body of the family-level ``compact_*_index`` wrappers
    (r12 review: three copies of the tombstone-lookup + purge + clear
    boilerplate had started to drift-risk). ``tables`` is the family's
    declaration, (suffix, bucket_key, id_col) per data table; the
    standing tombstones (if any) are purged from each during its
    zero-shuffle compaction rewrite, then cleared once."""
    tomb = (
        spark.table(f"{base_name}_tombstones")
        if spark.catalog.tableExists(f"{base_name}_tombstones")
        else None
    )
    for suffix, key, id_col in tables:
        compact_bucketed_table(
            spark,
            f"{base_name}_{suffix}",
            key,
            purge=None if tomb is None else (tomb, id_col),
        )
    clear_tombstones(spark, base_name)


def retire_index(
    spark: SparkSession, base_name: str, suffixes: list[str]
) -> None:
    """Drop a physical index base — the final step of a blue/green
    rotation (write new base → flip pointer → drain in-flight readers
    → RETIRE the old base). Refuses (loud `IllegalStateError`) while
    any serving pointer in the session catalog still targets the base:
    retiring a still-serving index would turn every probe through its
    alias into TABLE_OR_VIEW_NOT_FOUND — an outage the one-row ptr
    scan here is cheap insurance against. ``suffixes`` lists the
    family's data/model tables (e.g. ``["meta", "hbands"]``); the
    state and tombstone tables are dropped with them.

    THE DRAIN CONTRACT, precisely (r14, r13 verdict task #6 — this
    was caller folklore before): a plan RESOLVED before the flip
    pinned the old base's catalog metadata and therefore its FILES —
    the flip itself moves no bytes, so such a plan keeps evaluating
    correctly, repeatedly, for as long as the old base's tables stand.
    The safe window is exactly [flip, retire]. Retire is
    DELETE-UNDER-READER, with two — and only two — possible outcomes
    for a pre-flip plan executed after the drop: it answers the OLD
    base one more time (a DataFrame whose shuffle map outputs were
    already materialized by an earlier execution reuses them without
    touching the deleted files — still CONSISTENT old-base data), or
    it fails loudly on the rescan (FILE_NOT_EXIST /
    TABLE_OR_VIEW_NOT_FOUND). It never answers from the new base, a
    mixed state, or partially-deleted files. So "drained" means:
    every plan built before the flip has finished its LAST execution —
    a bounded, schedulable quantity (the fleet's longest query/job
    admission lag), not a guess; both outcomes pinned by
    `tests/test_tombstones.py:test_preflip_reader_window_and_retire`.

    Fail-loud discipline (r13 review): the guard fails CLOSED — an
    unreadable or empty pointer table (e.g. a flip mid drop+create)
    raises rather than being skipped; the target comparison casefolds
    (Spark identifiers are case-insensitive); and retiring a name that
    is an alias, or that has no meta table (typo, or a restarted
    session whose catalog forgot everything), raises instead of
    silently no-op-dropping while warehouse data survives."""
    if spark.catalog.tableExists(f"{base_name}_ptr"):
        raise IllegalStateError(
            f"{base_name} is a serving alias — retire the PHYSICAL base "
            "it points at (and drop the ptr table) instead"
        )
    _require_meta(spark, base_name, "a silent no-op retire")
    for ptr in _tables_like(spark, "*_ptr"):
        try:
            rows = spark.table(ptr).limit(1).collect()
        except Exception as e:  # noqa: BLE001 — fail CLOSED, never skip
            raise IllegalStateError(
                f"cannot read serving pointer {ptr} while retiring "
                f"{base_name} ({type(e).__name__}) — refusing to drop a "
                "base that may still be served"
            ) from e
        if not rows:
            raise IllegalStateError(
                f"serving pointer {ptr} is empty (a flip may be "
                f"mid-flight) — refusing to retire {base_name} until it "
                "resolves"
            )
        target = getattr(rows[0], "base", None)
        if target is None:
            continue  # a *_ptr table without a base column is not ours
        if str(target).casefold() == base_name.casefold():
            raise IllegalStateError(
                f"serving pointer {ptr} still targets {base_name} — "
                "flip it to the new base before retiring this one"
            )
    for s in list(suffixes) + ["state", "tombstones"]:
        spark.sql(f"DROP TABLE IF EXISTS {base_name}_{s}")
