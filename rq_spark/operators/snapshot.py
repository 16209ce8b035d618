"""Corpus snapshot diff: the data-versioning primitive behind every
"what changed since the last crawl/training run?" question — per-key
added / removed / changed status between two snapshots of a keyed
corpus (the Delta-Lake-CDF / lakeFS diff shape, computed directly on
two parquet snapshots with no table format required).

Scale shape: NOT a full-outer join. Both snapshots are tagged and
UNIONED, then ONE groupBy on the key folds each side's fingerprint
with map-side partial aggregation — a single shuffle ∝ distinct keys,
half the shuffled payload of a join (only (key, side, fingerprint)
rows move, never the documents), and no join-strategy cliff when both
snapshots are 100 TB. Unchanged keys — the overwhelming majority of a
production diff — are dropped before the result materializes, so the
output is ∝ churn, not corpus.

Precondition: `key_col` is unique within each snapshot (the corpus
primary key). Duplicate keys fold into one row per side by MAX —
deterministic, but the status of a key that is duplicated WITH
DIFFERENT CONTENT in one snapshot is not meaningful; run exact dedup
first (operators/dedup.py) if the invariant is in doubt.

Fingerprints are compared through two independent xxhash64 folds (a
128-bit identity), not the raw fingerprint string: fixed-width bigint
buffers keep the aggregate in HashAggregate (a string MAX falls back
to SortAggregate, adding a full map-side sort), and 2×8 bytes shuffle
per row instead of the fingerprint text. A changed key is misreported
as unchanged only if BOTH 64-bit folds collide for the two distinct
fingerprints — ~2^-128 per changed key, the same order as the md5/sha
content fingerprinting the operator consumes in the first place.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

ADDED = "added"
REMOVED = "removed"
CHANGED = "changed"


def snapshot_diff(
    old: DataFrame, new: DataFrame, key_col: str, fingerprint_col: str
) -> DataFrame:
    """(key, status) for every key whose content differs between the
    snapshots: ``added`` (new only), ``removed`` (old only),
    ``changed`` (both, fingerprints differ). Unchanged keys are
    filtered before the result materializes.

    ``fingerprint_col`` is any content-identity column (md5 of the
    text, a content sha already carried by the corpus, a struct hash);
    computing it in the scan keeps the shuffled rows narrow.
    """
    def tag(df: DataFrame, side: int) -> DataFrame:
        fp = F.col(fingerprint_col)
        return df.select(
            F.col(key_col).alias("key"),
            F.xxhash64(fp).alias("h1"),
            F.xxhash64(fp, F.lit("snapshot-fold-2")).alias("h2"),
            F.lit(side).alias("side"),
        )

    tagged = tag(old, 0).unionByName(tag(new, 1))
    side = F.col("side")
    per_key = tagged.groupBy("key").agg(
        F.max(F.when(side == 0, F.col("h1"))).alias("o1"),
        F.max(F.when(side == 0, F.col("h2"))).alias("o2"),
        F.max(F.when(side == 1, F.col("h1"))).alias("n1"),
        F.max(F.when(side == 1, F.col("h2"))).alias("n2"),
    )
    status = (
        F.when(F.col("o1").isNull(), F.lit(ADDED))
        .when(F.col("n1").isNull(), F.lit(REMOVED))
        .when(
            (F.col("o1") != F.col("n1")) | (F.col("o2") != F.col("n2")),
            F.lit(CHANGED),
        )
    )
    return (
        per_key.select("key", status.alias("status"))
        .filter(F.col("status").isNotNull())
    )
