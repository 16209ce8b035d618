"""Property-based checks for the r8 driver-side kernels (hypothesis):
CDC chunk boundaries, BM25 query tokenization, temperature-mixture
threshold arithmetic, and the funnel/pagerank reference recurrences.
These run WITHOUT Spark — they pin the pure-Python halves whose
distributed twins are oracle-checked in the catalog."""

from __future__ import annotations

import math

from hypothesis import example, given, settings
from hypothesis import strategies as st

from rq_spark.operators.cdc import CDC_AVG, CDC_MIN, chunk_boundaries, gear_table
from rq_spark.operators.retrieval import tokenize_query


@settings(max_examples=60, deadline=None)
@given(st.binary(max_size=4096), st.integers(0, 5))
def test_cdc_spans_partition_any_input(data, pw):
    """Any byte string, any power-of-two avg: spans tile the input
    exactly, sizes within bounds (last chunk may undershoot min)."""
    avg = 16 << pw
    spans = chunk_boundaries(data, min_size=avg // 2, avg_size=avg, max_size=avg * 4)
    pos = 0
    for o, n in spans:
        assert o == pos and n > 0
        pos += n
    assert pos == len(data)
    for o, n in spans[:-1]:
        assert avg // 2 <= n <= avg * 4
    if spans:
        assert spans[-1][1] <= avg * 4


_GEAR = gear_table()
#: a mask test reads the last `_TAPS` bytes, so a hit at data position
#: >= _TAPS - 1 does not depend on what precedes the data
_TAPS = (CDC_AVG - 1).bit_length()


def _mask_hits(data: bytes) -> set[int]:
    """Positions after which the Gear hash hits the cut mask (the
    content-defined cut candidates), by a plain per-byte rolling hash."""
    h, out = 0, set()
    for i, x in enumerate(data):
        h = ((h << 1) + _GEAR[x]) & ((1 << 64) - 1)
        if h & (CDC_AVG - 1) == 0:
            out.add(i)
    return out


@example(  # runs of zeros: the chunkings never meet before the end
    data=bytes(8) + b"\x01\x01\x13\xca?" + bytes(12) + b"T\xef\x12\xe9"
    + bytes(11) + b"\x17\x00k" + bytes(113) + b"?\\e\x01\x00",
    prefix=bytes(3),
)
@settings(max_examples=60, deadline=None)
@given(st.binary(min_size=64, max_size=2048), st.binary(min_size=1, max_size=16))
def test_cdc_suffix_chunks_stable_under_prefix_edit(data, prefix):
    """Content-defined contract under a prefix edit, in `data`'s
    coordinates. For every input: the mask hits whose window lies in
    `data` are the same with and without the prefix, and from the first
    cut the two chunkings share, every later cut is shared.

    Meeting at all needs a precondition, because the min/max rules cut
    by position: in a run of identical bytes the hash is constant, so
    the run holds no hit (forced cuts every CDC_MAX bytes) or only hits
    (cuts every CDC_MIN bytes), counted from where each chunking
    entered it — the pinned example stays out of phase to its end.
    Precondition: a hit `meet` with no other hit in the CDC_MIN - 1
    positions before it, and no forced cut before `meet` in either
    chunking. Then each chunking's chunk holding `meet` starts at least
    CDC_MIN - 1 bytes before it and has no earlier hit to cut at, so
    both cut at `meet`."""
    p = len(prefix)
    cuts_a = [o + n - 1 for o, n in chunk_boundaries(data)[:-1]]
    cuts_b = [o + n - 1 - p for o, n in chunk_boundaries(prefix + data)[:-1]]
    hits_a = _mask_hits(data)
    hits_b = {i - p for i in _mask_hits(prefix + data)}
    aligned = _TAPS - 1
    assert {i for i in hits_a if i >= aligned} == {
        i for i in hits_b if i >= aligned
    }
    shared = sorted(set(cuts_a) & set(cuts_b))
    if shared:
        assert [c for c in cuts_a if c >= shared[0]] == [
            c for c in cuts_b if c >= shared[0]
        ]
    meet = next(
        (
            c
            for c in sorted(hits_a)
            if aligned + CDC_MIN - 1 <= c < len(data) - 1
            and not hits_a.intersection(range(c - CDC_MIN + 1, c))
        ),
        None,
    )
    if meet is None:
        return
    forced = any(c not in hits_a for c in cuts_a if c < meet) or any(
        c not in hits_b for c in cuts_b if c < meet
    )
    if not forced:
        assert meet in cuts_a and meet in cuts_b


@settings(max_examples=100, deadline=None)
@given(st.text(max_size=60))
def test_tokenize_query_idempotent_sorted_distinct(q):
    t = tokenize_query(q)
    assert t == sorted(set(t))
    assert all(s == s.lower() and " " not in s and s for s in t)
    assert tokenize_query(" ".join(t)) == t


@settings(max_examples=80, deadline=None)
@given(
    st.lists(
        st.tuples(st.text(min_size=1, max_size=6), st.integers(1, 10**12)),
        min_size=1,
        max_size=8,
        unique_by=lambda kv: kv[0],
    ),
    st.integers(1, 8),
)
def test_temperature_thresholds_bounds_and_flattening(groups, denom):
    """Pure arithmetic twin of temperature_mixture_thresholds: every
    threshold in [0, 65536]; thresholds are anti-monotone in size
    (bigger source never keeps a larger fraction); FLOOR(SQRT) on a
    double equals isqrt in the supported range."""
    counts = sorted(groups)
    budget = sum(t for _, t in counts) // denom
    roots = {g: math.isqrt(t) for g, t in counts}
    sr = sum(roots.values())
    thr = {g: min(65536, (budget * roots[g] // sr) * 65536 // t) for g, t in counts}
    assert all(0 <= v <= 65536 for v in thr.values())
    bysize = sorted(counts, key=lambda kv: kv[1])
    for (g1, s1), (g2, s2) in zip(bysize, bysize[1:]):
        if s1 < s2:
            # the REAL-VALUED map budget/(sr*sqrt(t)) is strictly
            # anti-monotone; the integer form loses units to THREE
            # floors — the two divisions (< 65536/t + 1 each) AND
            # isqrt(t) vs sqrt(t) in the numerator root (relative loss
            # < 1/isqrt(t), i.e. < 65536/isqrt(t) units; the shared
            # Σroots floor scales both sides equally and cancels).
            # Hypothesis found the isqrt term's necessity at
            # t ≈ 38k (196² vs just-below — ~170 lost units against a
            # 4-unit slack); at corpus scale all three terms vanish,
            # but the bound must be what the arithmetic guarantees.
            slack = (
                65536 // s1 + 65536 // s2
                + 65536 // math.isqrt(s1) + 65536 // math.isqrt(s2)
                + 4
            )
            assert thr[g1] + slack >= thr[g2], (s1, s2)
    for _, t in counts:
        assert int(math.floor(math.sqrt(float(t)))) == math.isqrt(t)


@settings(max_examples=40, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 9), st.integers(0, 9)), max_size=20
    ).map(lambda es: [(a, b) for a, b in es if a != b]),
)
def test_pagerank_reference_mass_conserved(edges):
    """The float reference recurrence conserves total mass exactly
    (teleport + dangling redistribution sum to N) — the invariant the
    fixed-point operator tracks within N·iters units."""
    nodes = sorted({v for e in edges for v in e} | {0, 1})
    sym = edges + [(b, a) for a, b in edges]
    out = {}
    for a, _ in sym:
        out[a] = out.get(a, 0) + 1
    n = len(nodes)
    r = {v: 1.0 for v in nodes}
    for _ in range(4):
        contrib = {v: 0.0 for v in nodes}
        for a, b in sym:
            contrib[b] += r[a] / out[a]
        dang = sum(r[v] for v in nodes if v not in out)
        r = {v: 0.15 + 0.85 * (contrib[v] + dang / n) for v in nodes}
        assert abs(sum(r.values()) - n) < 1e-9 * n


@settings(max_examples=200, deadline=None)
@given(st.integers(1, 5000), st.integers(2, 128), st.data())
def test_chunk_start_sequence_covers_and_tiles(n, chunk, data):
    """Arithmetic twin of chunk_docs' start sequence
    (1, stride, ..., ≤ max(n-overlap, 1)): the last window always
    reaches the tail, consecutive windows overlap by exactly
    `overlap`, and the chunk count is ceil(max(n-overlap,1)/stride)."""
    overlap = data.draw(st.integers(0, chunk - 1))
    stride = chunk - overlap
    hi = max(n - overlap, 1)
    starts = list(range(1, hi + 1, stride))
    assert starts[0] == 1
    assert starts[-1] + chunk - 1 >= n          # tail coverage
    assert all(b - a == stride for a, b in zip(starts, starts[1:]))
    assert len(starts) == -(-hi // stride)
    # every word index 1..n falls inside at least one window
    if len(starts) > 1:
        assert all(b <= a + chunk for a, b in zip(starts, starts[1:]))


@settings(max_examples=150, deadline=None)
@given(
    st.lists(
        st.tuples(st.text(min_size=1, max_size=6), st.integers(1, 10**12)),
        min_size=1,
        max_size=10,
        unique_by=lambda kv: kv[0],
    ),
    st.integers(0, 10**13),
    st.integers(1, 1000),
)
def test_unimax_water_fill_invariants(groups, budget, cap_milli):
    """The closed-form water-fill (r9): allocations never exceed caps,
    the total never exceeds the budget, and when any source is
    unfunded the budget is exhausted maximally (adding one more unit
    to every unfunded source would overshoot) — i.e. the funded-prefix
    inequality and shared level really implement water-filling, for
    ANY sizes/budget/cap, not just the corpus's."""
    from rq_spark.operators.text import _unimax_water_fill

    sizes = dict(groups)
    caps = {g: min(t, t * cap_milli // 1000) for g, t in groups}
    thr = dict(_unimax_water_fill(groups, budget, cap_milli))
    assert set(thr) == set(sizes)
    assert all(0 <= v <= 65536 for v in thr.values())

    # reconstruct the pre-rounding allocation the thresholds encode:
    # funded sources sit at their cap, the rest at one shared level
    order = sorted((caps[g], g) for g in sizes)
    n, prefix, k = len(order), 0, 0
    for i, (c, _g) in enumerate(order, 1):
        if prefix + c * (n - i + 1) > budget:
            break
        prefix, k = prefix + c, i
    level = (budget - prefix) // (n - k) if k < n else 0
    alloc = {
        g: (caps[g] if i <= k else level)
        for i, (_c, g) in enumerate(order, 1)
    }
    # thresholds follow the allocation exactly
    for g in sizes:
        assert thr[g] == min(65536, alloc[g] * 65536 // sizes[g])
    # feasibility: within caps, within budget
    assert all(alloc[g] <= caps[g] for g in sizes)
    assert sum(alloc.values()) <= budget
    # maximality: if anyone is unfunded, one more unit each overshoots
    if k < n:
        assert sum(alloc.values()) + (n - k) > budget
        # the shared level never exceeds any unfunded source's cap
        for _c, g in order[k:]:
            assert level <= caps[g]
    else:
        # everyone funded: total allocation is the total cap
        assert sum(alloc.values()) == sum(caps.values())
