"""Branch falsifiability of the tagged multi-op catalog queries
(r5 consolidation: catalog ≤ 50 keys so the driver's 50-row budget
hash-checks every key every round).

Two invariants make a merged query a valid evidence channel:

* every ``op`` branch contributes >0 rows — an accidentally-empty
  branch would otherwise pass the oracle trivially (both sides empty);
* column-merged queries carry every former standalone column, so each
  absorbed query's values stay inside the hashed result.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from rq_spark.queries import all_queries

SF = "/root/testdata/sf0.001"

# key -> op tags that must each contribute rows: every merged key's own
# declaration (rq_spark/queries/helpers.py:merged)
BRANCHES = {
    k: q.branches for k, q in all_queries().items() if hasattr(q, "branches")
}

# key -> columns absorbed from former standalone queries (column-merge)
COLUMN_MERGED = {
    "text_metrics": {
        "n_chars_raw", "n_words", "n_tokens", "n_uniq_words",  # token stats
        "lang_guess",                                          # lang id
        "alpha_ratio", "uniq_ratio", "mean_word_len", "quality",  # quality
        "n_ws_tokens", "n_bpe_tokens",                         # BPE budget
        "fp",                                                  # fingerprint
        "dup_3gram_frac",                                      # repetition
        "n_pii_email", "n_pii_phone", "n_pii_ipv4", "n_pii_ssn",  # PII detect
        "redacted_fp",                                         # PII redact
        "g_frac_dup_lines", "g_frac_dup_chars", "g_symbol_ratio",
        "g_frac_bullet", "g_frac_ellipsis", "g_stop_hits",
        "gopher_keep",                                         # Gopher rules
        "c4_frac_kept", "c4_clean_fp",                         # C4 line filter
    },
    "mm_pipeline": {
        "size_bytes", "sha256", "mime",                        # binary meta
        "n_frames", "f0_sha", "f_last_sha", "frame_len_floor",  # frames
        "width", "height", "channels", "feat_sum",             # decode+feat
        "resized_len",                                         # resize
    },
    "func_math_map": {"abs_dev", "price_sqrt6", "qty_val", "keys_csv"},
    "func_date_cond": {"y", "month_end", "price_band", "status_np"},
    "func_json_variant": {"prop_k", "k_decade", "k_int", "k_missing"},
    "window_analytic": {"prev_value", "first_value", "mavg7"},
}


@pytest.mark.parametrize("key", sorted(BRANCHES))
def test_every_tagged_branch_contributes_rows(spark, key):
    df = all_queries()[key](spark, SF)
    counts = {r["op"]: r["n"] for r in df.groupBy("op").count().withColumnRenamed("count", "n").collect()}
    missing = set(BRANCHES[key]) - {op for op, n in counts.items() if n > 0}
    assert not missing, f"{key}: empty/missing branches {missing} (got {counts})"
    unexpected = set(counts) - set(BRANCHES[key])
    assert not unexpected, f"{key}: unknown op tags {unexpected}"


@pytest.mark.parametrize("key", sorted(COLUMN_MERGED))
def test_column_merged_queries_keep_absorbed_columns(spark, key):
    df = all_queries()[key](spark, SF)
    missing = COLUMN_MERGED[key] - set(df.columns)
    assert not missing, f"{key}: absorbed columns missing {missing}"


def test_catalog_within_driver_budget():
    """The driver records 50 correctness rows per round; every catalog
    key must get one, so the catalog must never exceed 50 keys."""
    assert len(all_queries()) <= 50


@pytest.mark.parametrize(
    "key",
    [
        "text_metrics",
        "func_math_map",
        "func_date_cond",
        "func_json_variant",
        "mm_pipeline",
        "mm_real_decode",
    ],
)
def test_column_merged_queries_scan_once(spark, key):
    """The point of a column-merge is reading the table ONCE — a
    regression to per-family scans would re-read the corpus 4-5× at
    100 TB."""
    df = all_queries()[key](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 1, f"{key} reads its table more than once"


def test_merged_build_threads_keep_job_group_and_declared_order(spark):
    """merged() builds branches on pool threads: their jobs must land in
    the caller's job group (a bare pinned-mode thread starts without
    the caller's local properties), and two builds whose branches
    finish in opposite orders must analyze to the same tree modulo
    expression IDs, union children in declared order."""
    import re
    import threading

    from rq_spark.queries.helpers import merged

    order: list[str] = []  # the finish order a build enforces
    finished: list[str] = []
    done: dict[str, threading.Event] = {}

    def branch(tag: str, n: int):
        def build(spark, sf_dir):
            df = spark.range(n).select(F.col("id").alias("v"))
            df.count()
            if order.index(tag):  # bounded: a serial build fails, not hangs
                done[order[order.index(tag) - 1]].wait(30)
            finished.append(tag)
            done[tag].set()
            return df

        return build

    q = merged({"first": branch("first", 3), "second": branch("second", 5)})
    assert q.branches == ("first", "second")

    def build_once(finish_order):
        order[:] = finish_order
        done.update({t: threading.Event() for t in order})
        plan = q(spark, "")._jdf.queryExecution().analyzed().toString()
        return re.sub(r"#\d+L?", "#", plan)

    sc = spark.sparkContext
    group = "merged-build-threads"
    sc.setJobGroup(group, "merged() build threads")
    try:
        a = build_once(["second", "first"])
        b = build_once(["first", "second"])
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert finished == ["second", "first", "first", "second"]
    assert len(sc.statusTracker().getJobIdsForGroup(group)) >= 4
    assert a == b
    assert re.findall(r"Project \[(\w+) AS op#", a) == ["first", "second"]


def test_once_computes_once_under_contention():
    """Branches share a once() input from many threads: exactly one
    caller computes it, and every caller gets that same result."""
    import sys
    import time
    from concurrent.futures import ThreadPoolExecutor

    from rq_spark.queries.helpers import once

    calls = []

    def compute():  # blocks like the Spark job a real shared input runs
        calls.append(1)
        time.sleep(0.05)
        return object()

    get = once(compute)
    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(32) as pool:
            got = list(pool.map(lambda _: get(), range(256), timeout=30))
    finally:
        sys.setswitchinterval(switch)
    assert len(calls) == 1 and all(g is got[0] for g in got)
