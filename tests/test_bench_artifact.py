"""Driver-parseable bench artifact (bench.py final_summary_line).

r11 (r10 verdict task #1): the driver stores a 2000-char stdout TAIL
and parses the LAST JSON line from it. BENCH_r10.json has
``parsed: null`` because the single full-artifact line grew to ~2,750
chars (the at-sf sweep expansion) and was beheaded by the window —
the round lost its headline total and per-query times. bench.py now
prints the full artifact line followed by a compact FINAL summary
line; these tests pin that the final line always fits the window and
always parses, including under a worst-case artifact (every headline
key present, every ratio key present, errors with 300-char texts,
partial/timed_out/skipped lists populated).
"""

from __future__ import annotations

import importlib.util
import json
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _bench():
    spec = importlib.util.spec_from_file_location(
        "bench", os.path.join(REPO, "bench.py")
    )
    m = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(m)
    return m


def _worst_case_artifact(b) -> dict:
    """Every field at its realistic maximum: all 24+ headline keys
    timed with 5-digit-second values, every RATIO_KEY carrying a ratio
    and a ref median, several errors at the 300-char truncation cap,
    and every health list non-empty."""
    queries = {k: 99999.999 for k in b.HEADLINE}
    ratios = {k: 9999.99 for k in b.RATIO_KEYS}
    errs = {
        f"{k}/branch_tag_{i}": ("SparkUpgradeException: " + "x" * 280)[:300]
        for i, k in enumerate(b.HEADLINE[:6])
    }
    return {
        "metric": "headline_queries_total",
        "value": 999999.999,
        "unit": "sec",
        "queries": queries,
        "ratio_vs_ref": ratios,
        "ratio_vs_shuf": {k: 9999.99 for k in b.SHUF_RATIO_KEYS},
        "ref_sec": {k: 0.512 for k in b.RATIO_KEYS},
        "shuf_sec": {k: 0.731 for k in b.SHUF_RATIO_KEYS},
        "ref_med": 0.512,
        "shuffle_ref_sec": 0.731,
        "headline_done_frac": 0.993,
        "branches": {f"k{i}/t": 1.0 for i in range(40)},
        "branches_at_sf": {f"h{i}/t": 10.0 for i in range(30)},
        "branch_sf": 0.01,
        "branch_runs": 1,
        "branch_sweep_truncated": True,
        "at_sf_complete": True,
        "reduced_runs": list(b.HEADLINE[:4]),
        "timed_out": list(b.HEADLINE[4:8]),
        "skipped": list(b.HEADLINE[8:12]),
        "partial": list(b.HEADLINE[:3]),
        "errors": errs,
        "sf": 0.1,
        "runs": 3,
        "warmup": "sf0.001",
    }


def _healthy_artifact(b) -> dict:
    a = _worst_case_artifact(b)
    a.update(
        queries={k: 12.345 for k in b.HEADLINE},
        ratio_vs_ref={k: 27.01 for k in b.RATIO_KEYS},
        ratio_vs_shuf={k: 13.5 for k in b.SHUF_RATIO_KEYS},
        value=312.456,
        reduced_runs=[],
        timed_out=[],
        skipped=[],
        partial=[],
        errors={},
    )
    return a


def test_final_line_fits_window_worst_case():
    b = _bench()
    line = b.final_summary_line(_worst_case_artifact(b))
    assert len(line) <= b.FINAL_LINE_MAX <= 2000
    parsed = json.loads(line)
    # the queries dict — the field r10 lost — must NEVER be degraded
    assert set(parsed["queries"]) == set(b.HEADLINE)
    assert parsed["value"] == 999999.999
    assert parsed["at_sf_complete"] is True


def test_final_line_healthy_run_keeps_all_fields():
    """On a healthy run nothing is dropped: the verdict gets total,
    per-query medians, noise-immune ratios, and clean health flags
    from the final line alone."""
    b = _bench()
    parsed = json.loads(b.final_summary_line(_healthy_artifact(b)))
    assert "dropped" not in parsed
    assert set(parsed["ratio_vs_ref"]) == set(b.RATIO_KEYS)
    # the shuffle-normalized channel (r15, r14 verdict #2) rides the
    # final line on a healthy run
    assert set(parsed["ratio_vs_shuf"]) == set(b.SHUF_RATIO_KEYS)
    assert parsed["errors"] == [] and parsed["partial"] == []
    assert parsed["metric"] == "headline_queries_total"
    # machine-health scalars (r13, r12 verdict tasks #3/#4): the two
    # pinned sentinel medians ride the FINAL line, so a loaded driver
    # run is self-diagnosing without a judge reproduction
    assert parsed["ref_med"] == 0.512
    assert parsed["shuf_ref"] == 0.731


def test_health_scalars_survive_worst_case_line():
    """The health scalars exist precisely FOR distressed runs — they
    must survive the worst-case artifact (they drop only after every
    list field, just before queries)."""
    b = _bench()
    parsed = json.loads(b.final_summary_line(_worst_case_artifact(b)))
    assert parsed.get("ref_med") == 0.512
    assert parsed.get("shuf_ref") == 0.731


def test_last_json_line_of_2000_char_tail_parses():
    """End-to-end simulation of the driver's exact read: stdout = full
    artifact line + final line; keep only the last 2000 chars; parse
    the last JSON line. This is the read that failed in r10."""
    b = _bench()
    art = _worst_case_artifact(b)
    stdout = json.dumps(art) + "\n" + b.final_summary_line(art) + "\n"
    tail = stdout[-2000:]
    last = [ln for ln in tail.splitlines() if ln.strip()][-1]
    parsed = json.loads(last)
    assert parsed["metric"] == "headline_queries_total"
    assert set(parsed["queries"]) == set(b.HEADLINE)


def test_ratio_keys_cover_every_mid_tier_headline_key():
    """r10 verdict task #4: every headline key whose r10 median was
    >= ~1.5 s on a healthy run carries a ratio sentinel, so ambient
    noise can never again masquerade as a regression on them."""
    b = _bench()
    for k in (
        "agg_groupby_distinct",
        "corpus_curation",
        "text_metrics",
        "event_sessions_rate",
        "distinct_sort_sample",
        "dedup_text",
        "dedup_incremental",
        "dedup_connected_groups",
        "stream_stateful",
        "mm_real_decode",
        "sim_topk_cosine",
    ):
        assert k in b.RATIO_KEYS, k


def test_shuf_ratio_keys_cover_shuffle_heavy_keys():
    """r14 verdict "what's wrong" #2: the CPU-paired ratio channel
    could not adjudicate shuffle-path ambient drift (shuf_ref +38%,
    ref_med flat inflated shuffle-heavy keys' ratios). Every key the
    r14 verdict named as un-adjudicable carries the second,
    shuffle-paired sentinel; the set stays a subset of RATIO_KEYS so
    each such key reports BOTH ratios."""
    b = _bench()
    for k in (
        "dedup_text",
        "dedup_incremental",
        "dedup_connected_groups",
        "stream_stateful",
    ):
        assert k in b.SHUF_RATIO_KEYS, k
    assert set(b.SHUF_RATIO_KEYS) <= set(b.RATIO_KEYS)


def test_final_line_hard_fallback_never_exceeds_cap():
    """ADVICE r11: the degrade loop's old two-victim list was only
    test-case-guaranteed — an artifact with enough long headline keys
    could still overflow the driver tail. Now the loop degrades all
    the way down to a minimal scalar line, and an assert fails at
    BENCH time if even that exceeded the cap (it cannot)."""
    b = _bench()
    art = _worst_case_artifact(b)
    # pathological future shape: hundreds of long-named headline keys
    art["queries"] = {f"a_very_long_headline_key_name_{i:04d}": 1.5
                      for i in range(200)}
    line = b.final_summary_line(art)
    assert len(line) <= b.FINAL_LINE_MAX
    parsed = json.loads(line)
    # the driver contract fields survive every degradation rung
    assert parsed["metric"] == "headline_queries_total"
    assert parsed["value"] == 999999.999
    assert parsed["unit"] == "sec"
    assert "dropped" in parsed


def test_partial_tagging_distinguishes_degraded_medians():
    """ADVICE r10: a key with both a median and an error entry must be
    tagged 'partial' in the artifact so consumers can't mistake the
    median for a clean measurement. Pinned at the summary layer: the
    final line carries the partial list verbatim."""
    b = _bench()
    art = _healthy_artifact(b)
    art["errors"] = {"dedup_text": "ValueError: boom"}
    art["partial"] = ["dedup_text"]
    parsed = json.loads(b.final_summary_line(art))
    assert parsed["partial"] == ["dedup_text"]
    assert parsed["errors"] == ["dedup_text"]
