"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints
TWO JSON lines: first the FULL artifact {"metric": ..., "value":
total_sec, "unit": "sec", "queries": {name: sec}, "branches": ...,
"sf": ..., "runs": N, "warmup": ...} with all per-branch detail, then
a compact FINAL summary line (final_summary_line, <= FINAL_LINE_MAX
chars) carrying headline total + per-query medians + ratios + health
flags. The driver parses the LAST JSON line of a bounded stdout tail —
r10's single full line outgrew that window and the round lost its perf
headline (BENCH_r10.json parsed: null); the two-line protocol makes
the parse land regardless of how much branch detail the full line
carries.

Each query is materialized with the `noop` datasource writer so the
full plan executes (scan → shuffle → agg) without driver-side collect
overhead polluting the measurement.

Noise control: every query is timed ``runs`` times (default 3) and the
MEDIAN is reported — a single run on a 32-core box carries a ±0.5 s
noise band that swallows real regressions. The emitted JSON records
``runs`` and ``warmup`` so results from different harness
configurations are never compared as if equivalent.

Per-branch attribution (r9): the multi-branch headline keys also get a
SOLO timing per tagged branch (rq_spark/bench_branches.py —
filter-pruned union branches or explicit solo builders), emitted under
``"branches": {"key/tag": sec}`` with its own ``branch_runs`` count
(default 1: the sweep covers ~58 solos, and attribution — is a key's
growth branch work or a regression? — survives single-sample noise
where the headline gate does not). Solo times include each branch's
required inputs, so they need not sum to the key total; the delta is
the key's fusion win.

Sweep placement (r10, r9 verdict task #2): every headline key that
costs >= ~10 s at sf0.1 (the dedup/graph/stream heavies) plus the
r1-BASELINE-comparable trio (asof directions, window_frames/running,
sim_topk_cosine/cosine) runs its branch solos AT THE HEADLINE SF,
under ``"branches_at_sf"`` — the driver artifact that clears/flags a
per-key baseline breach and localizes regressions inside the heavy
keys. The remaining (cheap) keys sweep at a FIXED sf0.01 sibling of
sf_dir (recorded as ``branch_sf``): attribution there needs relative
shares only, and double-covering the at-sf keys at sf0.01 would buy
nothing for its wall-clock. Budget hygiene (r11, r10 verdict task
#7): at-sf keys are EXCLUDED from the sf0.01 sweep (no double
coverage), the sf0.01 sweep covers only >=5-tag keys, and the
artifact-size risk the r10 sweep expansion exposed is closed
structurally by the two-line output protocol — the bulky detail
stays on the full line, the driver parses the bounded final line.

Noise-immune regression sentinels (r10, r9 verdict task #3): the
verdict-priority heavy keys also record ``"ratio_vs_ref"`` — each
timed sample is preceded by a pinned REFERENCE computation (a fixed
xxhash64 range-fold, rq_spark/bench_ref.py) and the reported value is
the median of the pairwise sample/reference ratios. Ambient load
inflates both sides of each interleaved pair, so the ratio separates
a real regression (key grows, reference does not) from the documented
±30% machine noise that wall-clock medians cannot. ``"ref_sec"``
records the reference medians so absolute times stay reconstructable.
r15 (r14 verdict #2): the shuffle-heavy subset (``SHUF_RATIO_KEYS``)
additionally pairs each sample with the pinned SHUFFLE sentinel and
reports ``"ratio_vs_shuf"`` — r14's box-pressure mode (shuf_ref +38%,
ref_med flat) inflated those keys' CPU-paired ratios, so a second,
shuffle-paired denominator is required to tell "key grew" from
"shuffle path grew" without a quiet-box reproduction.

Budgets: a wall-clock budget (``SPARK_GRAFT_BENCH_BUDGET_SEC``,
default 515) cancels any in-flight run that straddles it (headline
runs included — those report under ``timed_out``) and truncates the
sweeps with ``branch_sweep_truncated: true`` so the headline JSON
always lands inside the driver's timeout; sweeps are ordered so the
highest-attribution-value keys go first. A HARD deadline
(``SPARK_GRAFT_BENCH_HARD_SEC``, default 540) is the last line: past
it remaining headline keys are skipped outright (recorded under
``"skipped"``) — under extreme ambient load the soft budget's
per-run floors and cancel drains across 24 keys could otherwise
push total wall past the driver's kill, and a killed bench leaves
no artifact at all. A query that RAISES (anywhere — headline, ratio
reference, or sweep) is recorded under ``"errors"`` and the bench
continues: the artifact always lands with every timing measured
before the failure.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

# Headline set: one representative per operator family (post-r5 catalog
# consolidation: tagged multi-op keys cover their former branches).
HEADLINE = [
    "q1_pricing_summary",
    "filter_predicate",
    "agg_groupby_distinct",
    "rollup_cube_gsets",
    "pivot_wide",
    "distinct_sort_sample",
    "set_ops",
    "join_revenue_by_nation",
    "join_broadcast_q3",
    "join_asof_event",
    "window_topk_per_group",
    "window_frames",
    "window_agg_time",
    "event_sessions_rate",
    "dedup_text",
    "sim_topk_cosine",
    "text_metrics",
    "corpus_curation",
    # r8: the heavy r6/r7 additions — regressions in the newest, most
    # complex operators were invisible to BENCH before this
    "dedup_incremental",
    "mm_real_decode",
    "stream_stateful",
    "udf_grouped_table",
    # late r8: the iterative graph family (components + fixed-point
    # pagerank + triangles over the near-dup pair graph)
    "dedup_connected_groups",
    # late r8 session 3: RAG chunking flat-map (the corpus-sized
    # explode path) rides explode_ops
    "explode_ops",
]

#: keys whose branch solos run AT THE HEADLINE SF (r10): every key
#: >= ~10 s at sf0.1 (regressions inside them are the ones that move
#: the round verdict) plus the r1-BASELINE-comparable trio. Everything
#: else sweeps at the fixed sf0.01 sibling for relative shares.
AT_SF_KEYS = (
    "join_asof_event",
    "window_frames",
    "sim_topk_cosine",
    "dedup_text",
    "dedup_incremental",
    "dedup_connected_groups",
    "stream_stateful",
)

#: solos DEMOTED from the at-sf sweep to the fixed-sf0.01 share sweep
#: (r13, r12 verdict task #7): each must recompute the standing CC
#: fixed point every run (~6-8 s at sf0.1, inherent to a read-only
#: driver) to attribute a <2 s marginal step — at-sf budget the loaded
#: runs kept starving the sf0.01 sweep of. The parent key's headline
#: median + ratio sentinel still gate regressions at the headline sf;
#: the solos keep relative-share coverage at sf0.01.
AT_SF_DEMOTED = (
    "dedup_connected_groups/inc_components",
    "dedup_connected_groups/evict_components",
)

#: verdict-priority keys that record an interleaved sample/reference
#: ratio (rq_spark/bench_ref.py) next to their wall-clock median — the
#: noise-immune regression signal for the keys where ±30% ambient
#: noise would otherwise mask a real 25% slowdown.
RATIO_KEYS = (
    "dedup_text",
    "dedup_incremental",
    "dedup_connected_groups",
    "stream_stateful",
    "mm_real_decode",
    "sim_topk_cosine",
    # r11 (r10 verdict task #4): the 1.5-5 s mid-tier keys whose
    # 1.2-1.3x ambient swings polluted two verdicts running — five
    # more interleaved reference pairs cost ~5 s of budget and buy a
    # noise-immune signal for every headline key >= ~1.5 s
    "agg_groupby_distinct",
    "corpus_curation",
    "text_metrics",
    "event_sessions_rate",
    "distinct_sort_sample",
)

#: r15 (r14 verdict "what's wrong" #2): the ratio channel pairs every
#: key against the CPU sentinel only, so r14's failure mode — shuf_ref
#: +38% with ref_med flat (box IO/memory pressure) — inflated the
#: shuffle-heavy keys' "noise-immune" ratios and left the round
#: un-adjudicable from the artifact alone. These keys' samples are ALSO
#: interleaved with the pinned SHUFFLE sentinel
#: (bench_ref.shuffle_reference_job) and report ``ratio_vs_shuf``:
#: under IO pressure both sides of that pair inflate together, so
#: "ratio_vs_ref up AND ratio_vs_shuf flat" reads as shuffle-path
#: ambient drift while "both up" reads as a real key regression.
#: Subset of RATIO_KEYS: the keys whose cost is dominated by exchanges
#: or the state store rather than arithmetic (the ones r14 could not
#: adjudicate). ~0.5 s/sentinel × 3 runs × 6 keys ≈ 9 s of budget.
SHUF_RATIO_KEYS = (
    "dedup_text",
    "dedup_incremental",
    "dedup_connected_groups",
    "stream_stateful",
    "agg_groupby_distinct",
    "distinct_sort_sample",
)

#: hard ceiling for the driver-parseable FINAL line (r11, r10 verdict
#: task #1). The driver keeps only a 2000-char stdout TAIL and parses
#: the last JSON line from it; BENCH_r10.json lost its headline
#: (parsed: null) because the single full-artifact line grew past the
#: window. The final line carries ONLY the headline summary and is
#: degraded field-by-field if it would ever exceed this.
FINAL_LINE_MAX = 1500


def final_summary_line(artifact: dict) -> str:
    """Compact FINAL summary of a full bench artifact, guaranteed to
    fit the driver's 2000-char stdout tail window (<= FINAL_LINE_MAX).

    Keeps the fields a round-over-round verdict needs — headline total,
    per-query medians, noise-immune ratios, health flags — and leaves
    the bulky per-branch detail (branches, branches_at_sf, ref_sec,
    error texts) on the full-artifact line printed just before it. If
    an unexpectedly large artifact (many errors/partials) would push
    past the ceiling, fields are dropped in reverse order of verdict
    value (error keys -> ratio_vs_ref) before the queries dict is ever
    touched; each drop is recorded in "dropped" so the artifact says
    what it lost.
    """
    summary = {
        "metric": artifact["metric"],
        "value": artifact["value"],
        "unit": artifact["unit"],
        "queries": artifact["queries"],
        "ratio_vs_ref": artifact["ratio_vs_ref"],
        # shuffle-normalized ratios for the shuffle-heavy keys (r15,
        # r14 verdict #2): lets the verdict separate "key grew" from
        # "shuffle path grew" without a quiet-box reproduction
        "ratio_vs_shuf": artifact.get("ratio_vs_shuf"),
        # machine-health scalars (r13, r12 verdict tasks #3/#4): the
        # two pinned sentinel medians — cpu (median per-key ref_sec vs
        # the ~0.45 s design point) and shuffle (~0.7 s design point).
        # r12's driver anomaly (ratio 56.9 vs a 26-29 band) needed a
        # judge-run idle-box reproduction to adjudicate as ambient
        # load; with these two numbers ON the final line the same
        # anomaly is self-diagnosing: cpu_ref high → CPU-bound load
        # (ratios still trustworthy); shuf_ref high with ref_med flat
        # → memory/IO pressure (distrust shuffle-heavy keys' ratios);
        # both flat → a real regression.
        "ref_med": artifact.get("ref_med"),
        "shuf_ref": artifact.get("shuffle_ref_sec"),
        "at_sf_complete": artifact["at_sf_complete"],
        "sf": artifact["sf"],
        "runs": artifact["runs"],
        "reduced_runs": artifact["reduced_runs"],
        "timed_out": artifact["timed_out"],
        "skipped": artifact["skipped"],
        "partial": artifact["partial"],
        # keys only: the full texts live on the full-artifact line
        "errors": sorted(artifact["errors"]),
    }
    line = json.dumps(summary, separators=(",", ":"))
    # drop order = reverse verdict value; "queries" LAST (ADVICE r11:
    # the old two-victim loop could still return an over-long line on
    # a future artifact shape, silently re-beheading the driver tail).
    # The two health scalars cost ~35 chars and exist precisely for
    # distressed runs, so they drop only after every list field.
    for victim in (
        "errors", "ratio_vs_shuf", "ratio_vs_ref", "timed_out", "skipped",
        "partial", "reduced_runs", "ref_med", "shuf_ref", "queries",
    ):
        if len(line) <= FINAL_LINE_MAX:
            break
        summary.pop(victim, None)
        summary.setdefault("dropped", []).append(victim)
        line = json.dumps(summary, separators=(",", ":"))
    if len(line) > FINAL_LINE_MAX:
        # last resort: the four fields the driver contract requires,
        # all scalars — cannot exceed the ceiling
        line = json.dumps(
            {
                "metric": artifact["metric"],
                "value": artifact["value"],
                "unit": artifact["unit"],
                "sf": artifact["sf"],
                "dropped": ["all_detail"],
            },
            separators=(",", ":"),
        )
    # fail at BENCH time, never at driver-parse time
    assert len(line) <= FINAL_LINE_MAX, len(line)
    return line


def main() -> None:
    bench_start = time.time()  # the sweep budget bounds TOTAL wall-clock
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or 0.1)
    runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))
    budget = float(os.environ.get("SPARK_GRAFT_BENCH_BUDGET_SEC", "515"))
    # hard deadline: past this, remaining HEADLINE keys are skipped
    # outright (recorded under "skipped"). The soft budget already
    # degrades runs and truncates sweeps, but under extreme ambient
    # load the per-run 10 s floor + post-cancel joins across 24 keys
    # could still push total wall past the driver's kill — and a
    # killed bench leaves NO artifact, which is strictly worse than a
    # partial one.
    hard = float(os.environ.get("SPARK_GRAFT_BENCH_HARD_SEC", "540"))

    from rq_spark.queries import all_queries
    from rq_spark.session import get_spark

    spark = get_spark("rq_spark_bench")
    qs = all_queries()

    # JVM/codegen warmup (not counted): run every headline query once at
    # the smallest scale factor. Generated-code sources are identical
    # across input paths, so this compiles each query's exact codegen
    # stages (janino cache hit on the timed run) for pennies of data —
    # without it ~1.5 s of first-query cost is classloader/codegen
    # bootstrap, not execution. Falls back to sf_dir if no sibling
    # sf0.001 exists (then the warmup is the full query AND pre-warms
    # the OS page cache — recorded in the emitted "warmup" field so
    # such runs are never compared against sibling-warmup runs).
    warm_dir = os.path.join(os.path.dirname(sf_dir.rstrip("/")), "sf0.001")
    warmup_mode = "sf0.001"
    if not os.path.isdir(warm_dir):
        warm_dir = sf_dir
        warmup_mode = "sf_dir"
    for name in HEADLINE:
        if time.time() - bench_start > 0.35 * min(budget, hard):
            # extreme ambient load: warmup is optional, a timed-out
            # bench with NO artifact is not — skip the rest
            print("WARN bench: skipping remaining warmups (load)",
                  file=sys.stderr)
            break
        fn = qs.get(name)
        if fn is not None:
            try:
                fn(spark, warm_dir).write.format("noop").mode("overwrite").save()
            except Exception as e:  # noqa: BLE001 — warmup is best-effort,
                # but a broken query must be visible NOW, not as a timing
                # anomaly in the timed pass
                print(
                    f"WARN bench warmup failed for {name}: "
                    f"{type(e).__name__}: {e}",
                    file=sys.stderr,
                )

    from rq_spark.util import release_all_caches

    release_all_caches()  # drop every warmup working set before timing
    spark.catalog.clearCache()

    import threading

    timed_out: list[str] = []

    def _run_bounded(fn, data_dir) -> float | None:
        """Execute one query inside the remaining budget. A run that
        straddles an ambient-load spike is CANCELLED (cancelAllJobs)
        rather than allowed to push the whole bench past the driver's
        timeout — the artifact always lands; the key is reported under
        'timed_out' instead of carrying a fake number."""
        box: list = []

        def work():
            try:
                fn(spark, data_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
                box.append(None)
            except Exception as e:  # noqa: BLE001 — reported by caller
                box.append(e)

        t0 = time.time()
        remaining = max(10.0, min(budget, hard) - (t0 - bench_start))
        th = threading.Thread(target=work, daemon=True)
        th.start()
        th.join(remaining)
        if th.is_alive():
            spark.sparkContext.cancelAllJobs()
            # short post-cancel drain: a worker that ignores the
            # cancel for longer is abandoned (daemon thread) so the
            # artifact still lands inside the hard deadline
            th.join(10)
            return None
        if box and isinstance(box[0], Exception):
            raise box[0]
        return time.time() - t0

    errors: dict[str, str] = {}

    def _run_safe(tag: str, fn, data_dir) -> float | None:
        """_run_bounded that survives a raising query: the failure is
        recorded under 'errors' and the bench continues — a broken
        solo must never discard already-measured headline timings."""
        try:
            return _run_bounded(fn, data_dir)
        except Exception as e:  # noqa: BLE001 — recorded in the artifact
            errors[tag] = f"{type(e).__name__}: {e}"[:300]
            print(f"WARN bench: {tag} failed: {errors[tag]}", file=sys.stderr)
            return None

    from rq_spark.bench_ref import (
        pairwise_ratio,
        reference_job,
        shuffle_reference_job,
    )

    def _ref_once() -> float | None:
        """One timed run of the pinned reference job (bench_ref.py)."""
        return _run_safe(
            "ratio_ref", lambda s, _d: reference_job(s), sf_dir
        )

    # the reference's first runs carry codegen compile + JIT warm-in
    # (~2x, measured) — warm it twice UNCOUNTED or the first priority
    # key's ratio reads against an inflated denominator
    for _ in range(2):
        _ref_once()

    # the SHUFFLE sentinel (r13, r12 verdict task #4): one warm, two
    # timed, median — once per RUN, not per pair (it characterizes the
    # run's contention mode next to the per-pair CPU sentinel; see
    # bench_ref.shuffle_reference_job). ~2 s of budget total.
    _run_safe("shuffle_ref", lambda s, _d: shuffle_reference_job(s), sf_dir)
    _shuf = [
        _run_safe(
            "shuffle_ref", lambda s, _d: shuffle_reference_job(s), sf_dir
        )
        for _ in range(2)
    ]
    _shuf = [t for t in _shuf if t is not None]
    shuffle_ref_sec = round(statistics.median(_shuf), 3) if _shuf else None

    timings: dict[str, float] = {}
    ratio_vs_ref: dict[str, float] = {}
    ratio_vs_shuf: dict[str, float] = {}
    ref_sec: dict[str, float] = {}
    shuf_sec: dict[str, float] = {}
    reduced_runs: list[str] = []
    skipped: list[str] = []
    for name in HEADLINE:
        fn = qs.get(name)
        if fn is None:
            print(f"WARN bench: no catalog entry for {name}", file=sys.stderr)
            continue
        if time.time() - bench_start > hard:
            skipped.append(name)
            continue
        # degradation insurance, two tiers (r12 added the middle one):
        # deep into the HARD deadline (extreme ambient load) fall back
        # to ONE run per remaining key — a noisier artifact beats a
        # timed-out empty one. Before that, past 68% of the sweep
        # budget, drop remaining keys to TWO runs: on an ambient-slow
        # run the tail keys' third samples were exactly what starved
        # the at-sf attribution sweep (r12 run 7: at_sf_complete false
        # with zero errors — the budget went to third samples of
        # already-measured keys). A 2-run median on a tail key is
        # worth less than the graph/stream at-sf solos it buys back.
        # Affected keys are recorded in reduced_runs so their numbers
        # are never read as 3-run medians. THRESHOLD BASIS (r13,
        # ADVICE r12 — the old 55% tier quoted a "~50% healthy share"
        # that conflicted with the 1-run tier's "~60%" rationale, and
        # the measured truth sided with the latter): a healthy r13 run
        # finishes the whole headline pass at headline_done_frac
        # 0.616 (recorded in every artifact for re-tuning), i.e. the
        # LAST key starts near 0.60 — so 55% tripped the reducer on
        # perfectly healthy runs (observed: explode_ops reduced, the
        # same failure mode r9s2 fixed for the 1-run tier). 0.68 sits
        # demonstrably above the healthy share with margin, while a
        # genuinely loaded run (everything 1.5-2×) still crosses it
        # mid-pass where the savings matter. The 1-run tier stays
        # keyed to `hard`.
        elapsed = time.time() - bench_start
        if elapsed > 0.7 * hard:
            n_runs = 1
        elif elapsed > 0.68 * min(budget, hard):
            n_runs = min(runs, 2)
        else:
            n_runs = runs
        if n_runs < runs:
            reduced_runs.append(name)
        samples: list[float] = []
        refs: list[float | None] = []
        shuf_refs: list[float | None] = []
        for _ in range(n_runs):
            if name in RATIO_KEYS:
                # interleaved pair: the reference samples the machine's
                # throughput at the same moment as the key sample it
                # precedes, so their ratio cancels ambient load
                refs.append(_ref_once())
            if name in SHUF_RATIO_KEYS:
                # second pair against the pinned SHUFFLE sentinel (r15,
                # r14 verdict #2): under IO/memory pressure this side
                # inflates with the key while the CPU side does not
                shuf_refs.append(
                    _run_safe(
                        "shuffle_ref",
                        lambda s, _d: shuffle_reference_job(s),
                        sf_dir,
                    )
                )
            dt = _run_safe(name, fn, sf_dir)
            if dt is None:
                break
            samples.append(dt)
        if samples:
            timings[name] = round(statistics.median(samples), 3)
            ratio = pairwise_ratio(samples, refs)
            if ratio is not None:
                ratio_vs_ref[name] = round(ratio, 2)
                ref_sec[name] = round(
                    statistics.median([r for r in refs if r is not None]), 3
                )
            sratio = pairwise_ratio(samples, shuf_refs)
            if sratio is not None:
                ratio_vs_shuf[name] = round(sratio, 2)
                shuf_sec[name] = round(
                    statistics.median(
                        [r for r in shuf_refs if r is not None]
                    ),
                    3,
                )
        elif name not in errors:
            timed_out.append(name)
        # a finished query's persisted working set must not sit in
        # storage memory while the NEXT key is timed (its own persists
        # stay inside its own timed runs, so this is fair)
        release_all_caches()
        spark.catalog.clearCache()

    # where the headline pass actually ended, as a fraction of the
    # sweep budget — the measured basis for the 2-run reducer threshold
    # below (ADVICE r12: its comment and the 1-run tier's rationale
    # quoted conflicting 50%/60% figures; now every artifact records
    # the real number)
    headline_done_frac = round(
        (time.time() - bench_start) / min(budget, hard), 3
    )

    # --- per-branch attribution sweeps (solo plans, see module doc) ---
    from rq_spark.bench_branches import branch_queries

    branch_runs = int(os.environ.get("SPARK_GRAFT_BENCH_BRANCH_RUNS", "1"))

    # sweep order: attribution value first — the HEAVY keys (>=10 s,
    # where regressions move the round verdict) lead, then the cheap
    # r1-comparable trio, so the budget valve truncates only the
    # low-value tail
    _PRIORITY = (
        "dedup_incremental", "dedup_connected_groups", "dedup_text",
        "stream_stateful",
        "join_asof_event", "window_frames", "sim_topk_cosine",
        "agg_groupby_distinct",
    )

    def _sweep(
        entries, data_dir, n_runs, no_warm: frozenset = frozenset()
    ) -> tuple[dict[str, float], bool]:
        out: dict[str, float] = {}
        truncated = False
        for name, fn in entries:
            if time.time() - bench_start > min(budget, hard):
                truncated = True
                break
            # per-entry warmup at the tiny sf: a pruned solo plan is a
            # DIFFERENT operator tree than its full key, so its codegen
            # is cold — without this, a 1-run solo measurement carries
            # ~0.5 s of janino compile instead of execution. Keys in
            # ``no_warm`` skip it: the SOLO-BUILT graph/stream entries
            # call the same operator functions the headline key just
            # compiled, and their warmups pay full iteration/
            # micro-batch fixed costs (~3-8 s each) for a <0.5 s
            # compile — that waste is what truncated the r10 sweep
            if name.split("/")[0] not in no_warm and data_dir != warm_dir:
                try:
                    fn(spark, warm_dir).write.format("noop").mode(
                        "overwrite"
                    ).save()
                except Exception:  # noqa: BLE001 — timed run reports it
                    pass
                release_all_caches()
                spark.catalog.clearCache()
            samples = []
            for _ in range(n_runs):
                dt = _run_safe(name, fn, data_dir)
                if dt is None:
                    # distinguish budget cancel (truncation) from a
                    # raising query (recorded, sweep continues)
                    if name not in errors:
                        truncated = True
                    break
                samples.append(dt)
            if samples:
                out[name] = round(statistics.median(samples), 3)
            release_all_caches()
            spark.catalog.clearCache()
        return out, truncated

    branches: dict[str, float] = {}
    branches_at_sf: dict[str, float] = {}
    truncated = False
    at_sf_complete = False
    branch_dir = os.path.join(os.path.dirname(sf_dir.rstrip("/")), "sf0.01")
    if not os.path.isdir(branch_dir):
        branch_dir = sf_dir
    branch_sf = float(
        os.path.basename(branch_dir.rstrip("/")).replace("sf", "") or sf
    )
    if branch_runs > 0:
        bqs = {
            n: f
            for n, f in branch_queries().items()
            if n.split("/")[0] in HEADLINE
        }
        prio = {k: i for i, k in enumerate(_PRIORITY)}
        ordered = sorted(
            bqs.items(), key=lambda kv: prio.get(kv[0].split("/")[0], 99)
        )
        # at-sf solos: the heavy keys + the r1-comparable trio (r10 —
        # every key >= ~10 s gets per-branch numbers at the headline sf)
        at_sf = [
            (n, f)
            for n, f in ordered
            if n.split("/")[0] in AT_SF_KEYS and n not in AT_SF_DEMOTED
        ]
        from rq_spark.bench_branches import SOLO_BUILT

        if branch_dir != sf_dir:

            # NOTE (r12): bench_branches.phase_queries() (the
            # inc_components standing-vs-absorb attribution solo) is
            # deliberately NOT swept here — measured +~10 s of at-sf
            # budget, which on an ambient-slow run starved the entire
            # sf0.01 share sweep (branch_sweep_truncated with
            # branches={}). The phase split is a documented one-command
            # measurement (SURVEY §6) refreshed when the branch changes.
            branches_at_sf, t1 = _sweep(
                at_sf, sf_dir, branch_runs, no_warm=frozenset(SOLO_BUILT)
            )
            truncated |= t1
            # the at-sf sweep is the verdict-priority artifact; record
            # its completeness separately so a truncated LOW-value
            # sf0.01 tail doesn't read as missing heavy-key attribution
            at_sf_complete = not t1 and len(branches_at_sf) == len(at_sf)
            # the fixed-sf0.01 share sweep covers only what the at-sf
            # sweep did not — double coverage buys nothing — and only
            # keys with >=5 tagged branches: below that, a regression
            # is already localized enough by the key's own headline
            # number (all remaining keys are <2 s), and the wall-clock
            # buys the at-sf heavies their 27 solos inside the budget
            from collections import Counter

            n_tags = Counter(n.split("/")[0] for n, _ in ordered)
            rest = [
                (n, f)
                for n, f in ordered
                if (
                    n.split("/")[0] not in AT_SF_KEYS
                    and n_tags[n.split("/")[0]] >= 5
                )
                or n in AT_SF_DEMOTED
            ]
        else:
            rest = ordered
        # SOLO_BUILT keys skip the tiny-sf warmup here too: the demoted
        # graph solos (AT_SF_DEMOTED) would otherwise pay full CC
        # iteration fixed costs (~3-8 s) at sf0.001 for a <0.5 s
        # compile — the exact waste that truncated the r10 sweep
        branches, t2 = _sweep(
            rest, branch_dir, branch_runs, no_warm=frozenset(SOLO_BUILT)
        )
        truncated |= t2

    # a headline key that succeeded on some runs and raised on a later
    # one carries BOTH a median and an error entry — tag it so the
    # recorded median is never mistaken for a clean 3-run measurement
    # (ADVICE r10: the degraded-state ambiguity)
    partial = sorted(k for k in timings if k in errors)

    artifact = {
        "metric": "headline_queries_total",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "ratio_vs_ref": ratio_vs_ref,
        "ratio_vs_shuf": ratio_vs_shuf,
        "ref_sec": ref_sec,
        "shuf_sec": shuf_sec,
        "ref_med": (
            round(statistics.median(ref_sec.values()), 3) if ref_sec else None
        ),
        "shuffle_ref_sec": shuffle_ref_sec,
        "headline_done_frac": headline_done_frac,
        "branches": branches,
        "branches_at_sf": branches_at_sf,
        "branch_sf": branch_sf,
        "branch_runs": branch_runs,
        "branch_sweep_truncated": truncated,
        "at_sf_complete": at_sf_complete,
        "reduced_runs": reduced_runs,
        "timed_out": timed_out,
        "skipped": skipped,
        "partial": partial,
        "errors": errors,
        "sf": sf,
        "runs": runs,
        "warmup": warmup_mode,
    }
    # full artifact first (per-branch detail for humans/builders), then
    # the compact FINAL line — the driver parses the LAST JSON line of
    # a 2000-char stdout tail, and r10's single full line outgrew the
    # window and beheaded the round's perf artifact (parsed: null)
    print(json.dumps(artifact))
    print(final_summary_line(artifact))


if __name__ == "__main__":
    main()
