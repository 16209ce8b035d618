"""Similarity search over embedding columns (array<float>).

* Brute-force cosine top-k: broadcast the (small) query set against the
  full corpus — one pass, no shuffle of the corpus, window top-k per
  query. The dot product is a sequential JVM fold so results are
  bit-deterministic (verified bit-identical to DuckDB's
  list_dot_product in tools/check_oracle.py).
* LSH (random hyperplane) ANN: bucket vectors by sign-pattern against
  H fixed hyperplanes (seeded numpy matrix → deterministic), search
  only within the probe's bucket(s). At 100 TB the bucket join replaces
  the corpus broadcast; recall is tested against brute force.
"""

from __future__ import annotations

import logging
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..util import local_frame

_LOG = logging.getLogger(__name__)

_DOUBLE_ARR = "array<double>"


def _nonzero_vec(vec_col: str) -> Column:
    """Intake predicate for every vector operator: NULL, zero-norm,
    **and NULL-element** embeddings are excluded. Cosine is undefined
    at norm 0 (Spark ANSI double division raises DIVIDE_BY_ZERO —
    found by the r10 adversarial-corpus probe on an all-zero
    embedding), and a zero vector seeding the coarse quantizer poisons
    every centroid with NaN. A vector with a NULL ELEMENT (e.g.
    [1.0, NULL, ...]) is just as unusable — dot/cosine propagate the
    NULL through the aggregate fold, so every similarity involving it
    silently becomes NULL and fails every threshold filter (ADVICE
    r11: such a vector passed the old `exists(x != 0)` check via its
    nonzero elements, slipping past `semantic_decontaminate`'s
    fail-loud eval guard — the exact fail-open the guard exists to
    close). The zero-shingle-drop analogue for the vector family.
    The exists predicates are two-valued here (x.isNull() never
    returns NULL; the ~exists(isNull) conjunct runs first in 3VL so
    the x != 0 term is only trusted on NULL-free arrays)."""
    c = F.col(vec_col)
    return (
        c.isNotNull()
        & ~F.exists(c, lambda x: x.isNull())
        & F.exists(c, lambda x: x != 0)
    )


def _unit(x: np.ndarray) -> np.ndarray:
    """Rows of a float64 matrix L2-normalized — the one convention the
    quantizers train, encode and build query LUTs under. The norm is
    clamped: a zero row (e.g. a centroid whose cell summed to zero)
    stays zero instead of poisoning its similarity row with NaN."""
    return x / np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-30)


def dot(a: Column, b: Column, dim: int | None = None) -> Column:
    """Dot product in double, sequential accumulation order.

    With `dim` given, the sum is UNROLLED into a left-associated chain
    of element_at products — bit-identical to the fold (same IEEE-754
    op order: ((0 + a₁b₁) + a₂b₂) + …) but it stays inside whole-stage
    codegen, where the higher-order aggregate/zip_with form drops every
    element to interpreted lambda dispatch (~20× slower per pair).
    Without `dim`, falls back to the fold for unknown-width arrays."""
    ad, bd = a.cast(_DOUBLE_ARR), b.cast(_DOUBLE_ARR)
    if dim is not None:
        acc = F.lit(0.0)
        for i in range(1, dim + 1):
            acc = acc + F.element_at(ad, i) * F.element_at(bd, i)
        return acc
    return F.aggregate(
        F.zip_with(ad, bd, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column, dim: int | None = None) -> Column:
    return F.sqrt(dot(a, a, dim))


def cosine(a: Column, b: Column, dim: int | None = None) -> Column:
    return dot(a, b, dim) / (norm(a, dim) * norm(b, dim))


def _topk_per_query(scored: DataFrame, k: int) -> DataFrame:
    """Deterministic window top-k over (query_id, neighbor_id, cos_sim):
    ties broken by neighbor id so results are stable across runs."""
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rk")
    )


def brute_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """Top-k cosine neighbors per query vector (exact).

    queries is expected to be small → broadcast; the corpus streams
    through one stage (no shuffle) and only (query, k) survivors hit
    the window shuffle.
    """
    q = queries.filter(_nonzero_vec(vec_col)).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
    )
    c = corpus.filter(_nonzero_vec(vec_col)).select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec"))
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            cosine(F.col("q_vec"), F.col("c_vec"), dim).alias("cos_sim"),
        )
    )
    return _topk_per_query(scored, k)


def hyperplanes(n_planes: int, dim: int, seed: int = 42) -> np.ndarray:
    """Deterministic random hyperplanes shared by all workers."""
    return np.random.default_rng(seed).standard_normal((n_planes, dim))


def _band_values(m: np.ndarray, planes: np.ndarray, bands: int, rows: int) -> np.ndarray:
    """(batch, bands) int32 band-bucket values for a stacked vector
    matrix — THE banding kernel, shared by `band_bucket_udf` and the
    fused `semantic_decontaminate` path so the two can never drift
    (identical planes ⇒ identical candidate sets)."""
    bits = (m @ planes.T) > 0  # (batch, bands*rows)
    vals = np.zeros((m.shape[0], bands), dtype=np.int32)
    for b in range(bands):
        for i in range(rows):
            vals[:, b] |= bits[:, b * rows + i].astype(np.int32) << i
    return vals


def band_bucket_udf(planes: np.ndarray, bands: int, rows: int):
    """Banded sign-pattern buckets: one numpy matmul per Arrow batch,
    then r sign bits packed per band → array<int> of length `bands`."""

    @F.pandas_udf("array<int>")
    def bucket(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([], dtype="object")
        m = np.stack(vecs.to_numpy())  # (batch, dim)
        return pd.Series(list(_band_values(m, planes, bands, rows)))

    return bucket


def ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    bands: int = 16,
    rows_per_band: int = 4,
    dim: int = 64,
    probe_hamming: int = 0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_query_rows: int = 1_000_000,
) -> DataFrame:
    """Approximate top-k by banded random-hyperplane LSH with OR
    amplification: a corpus vector is indexed once per band (bands ×
    r-bit buckets), a candidate is any corpus vector sharing ≥1 band
    bucket with the query, and candidates get exact cosine + window
    top-k.

    Recall for a neighbor at angle θ (bit-agreement p = 1-θ/π) is
    1-(1-pʳ)^B — with B=16, r=4 that is ≥0.95 at cos 0.45 and ≥0.9999
    at cos 0.8, versus ~0.03 for the old single 8-bit probe. Knobs:
    more bands → recall, more rows/band → selectivity. Optional
    MULTI-PROBE (probe_hamming=1) also probes each query band bucket
    with one bit flipped — r extra probes per band registered in the
    QUERY-side bucket table only, so the corpus index (the big side
    at 100 TB) is never re-replicated.

    Scale shape (r15, the fused-probe pattern of
    `semantic_decontaminate` — guide §4.2/§8): the query side is
    driver-sized by contract (the old plan already broadcast it), so
    its ids and per-band bucket tables are COLLECTED once and the
    corpus streams through ONE mapInPandas — band buckets per Arrow
    batch via the shared `_band_values` kernel (identical float32
    matmul to the old `band_bucket_udf`, so candidate sets cannot
    drift), per-corpus-row candidate queries from the broadcast
    bucket dict (np.unique replaces the old dropDuplicates Exchange —
    duplicates are intra-row by construction), self-matches dropped
    in-kernel. The corpus is never exploded ×bands and never
    shuffled; only candidate pairs (∝ band collisions) leave the
    kernel, each carrying its query vector (shipped in the broadcast,
    so the query side is evaluated once) and its corpus vector to the
    JVM cosine — scoring stays the exact whole-stage-codegen fold,
    bit-identical to the pre-r15 plan and the brute-force oracle,
    because the corpus embeddings are real-valued floats where a numpy
    dot could drift in the last ulp. Anything over ``max_query_rows``
    raises a named ValueError (the degenerate corpus-sized-queries
    case — use `lsh_near_pairs` / `knn_graph` shapes instead).

    Contracts: queries are banded at their vector column's element
    precision, the one the corpus batches arrive in (another precision
    can put a near-hyperplane vector in another bucket than its
    identical corpus twin). **Unique ids** on each side: a candidate
    with the query's id is dropped as the self-match, and duplicate
    corpus rows sharing an id emit one pair per row."""
    import pyspark.sql.types as T
    from pyspark.sql.pandas.types import to_arrow_type

    planes = hyperplanes(bands * rows_per_band, dim)
    q_rows = (
        queries.filter(_nonzero_vec(vec_col))
        .select(
            F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
        )
        .collect()
    )
    if len(q_rows) > max_query_rows:
        raise ValueError(
            f"ann_topk: query side has {len(q_rows)} rows "
            f"(> max_query_rows={max_query_rows}) — this operator "
            "collects/broadcasts the query side by contract; for "
            "corpus-sized query sets use the banded self-join shapes "
            "(lsh_near_pairs / knn_graph) instead"
        )
    q_ids = np.array([r.query_id for r in q_rows])
    # stacked like the probe's np.stack of the Arrow lists, at the
    # element type's precision, so sign bits (and buckets) agree
    elem = queries.schema[vec_col].dataType.elementType
    q_dtype = to_arrow_type(elem).to_pandas_dtype()
    Q = (
        np.stack([np.asarray(r.q_vec, dtype=q_dtype) for r in q_rows])
        if q_rows
        else np.zeros((0, dim), dtype=q_dtype)
    )
    bucket_dict: dict[tuple[int, int], np.ndarray] = {}
    if len(Q):
        q_vals = _band_values(Q, planes, bands, rows_per_band)
        from collections import defaultdict

        reg: dict[tuple[int, int], set] = defaultdict(set)
        for qi in range(len(Q)):
            for b in range(bands):
                v = int(q_vals[qi, b])
                probes = {v}
                if probe_hamming >= 1:
                    probes.update(v ^ (1 << i) for i in range(rows_per_band))
                for pv in probes:
                    reg[(b, pv)].add(qi)
        bucket_dict = {
            key: np.fromiter(sorted(s), dtype=np.int64)
            for key, s in reg.items()
        }
    bc = corpus.sparkSession.sparkContext.broadcast((q_ids, Q, bucket_dict))
    out_schema = T.StructType(
        [
            T.StructField("query_id", queries.schema[id_col].dataType),
            T.StructField("neighbor_id", corpus.schema[id_col].dataType),
            T.StructField("q_vec", queries.schema[vec_col].dataType),
            T.StructField("c_vec", corpus.schema[vec_col].dataType),
        ]
    )

    def probe(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ids, qs, bd = bc.value
        for pdf in batches:
            if len(pdf) == 0 or len(ids) == 0:
                continue
            M = np.stack(pdf["_vec"].to_numpy())
            vals = _band_values(M, planes, bands, rows_per_band)
            n_ids = pdf["_id"].to_numpy()
            out_q, out_n, out_v = [], [], []
            for r in range(len(pdf)):
                hits = [
                    bd.get((b, int(vals[r, b]))) for b in range(bands)
                ]
                hits = [h for h in hits if h is not None]
                if not hits:
                    continue
                cand = np.unique(np.concatenate(hits))
                cand = cand[ids[cand] != n_ids[r]]
                if not len(cand):
                    continue
                out_q.append(cand)
                out_n.extend([n_ids[r]] * len(cand))
                out_v.extend([pdf["_vec"].iloc[r]] * len(cand))
            if out_q:
                qi = np.concatenate(out_q)
                yield pd.DataFrame(
                    {
                        "query_id": ids[qi],
                        "neighbor_id": out_n,
                        "q_vec": list(qs[qi]),
                        "c_vec": out_v,
                    }
                )

    scored = (
        corpus.filter(_nonzero_vec(vec_col))
        .select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_vec"))
        .mapInPandas(probe, out_schema)
        .select(
            "query_id",
            "neighbor_id",
            cosine(F.col("q_vec"), F.col("c_vec")).alias("cos_sim"),
        )
    )
    return _topk_per_query(scored, k)


def lsh_near_pairs(
    corpus: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    bands: int = 16,
    rows_per_band: int = 4,
    verify_unrolled: bool = True,
) -> DataFrame:
    """Near-duplicate pairs (cosine ≥ threshold) via banded
    random-hyperplane LSH candidates + EXACT cosine verification — the
    scale path for the true near-dup regime (threshold ≳ 0.9).

    Candidate generation is a self-equi-join on (band, bucket): work ∝
    colliding pairs, never n². Verification is the unrolled
    whole-stage-codegen dot product (bit-identical to DuckDB's
    list_dot_product fold), so verified output equals the exact pair
    set minus LSH misses: a pair at cosine c collides per band with
    p^r, p = 1 − arccos(c)/π, so P(miss) = (1 − p^r)^B ≈ 4e-6 at
    c = 0.9 with B=16, r=4 — and falls off a cliff above (4e-13 at
    0.99). Below c ≈ 0.6, p^r is no longer selective: use
    `embedding_near_pairs` (exact block-grid) for low-threshold work.

    Scale shape (r15 — guide §8/§2.3: decide with small rows, move
    big rows once): every decision up to verification depends only on
    (vid, band, bucket), so the band self-join and the candidate
    dedup run over IDS ONLY — the dim-wide vectors no longer travel
    ×bands through the (band, bucket) exchange, no longer ride every
    pre-dedup collision row through the dropDuplicates exchange (the
    dominant byte term: collisions ∝ pair density), and the pinned
    working set holds each vector once instead of once per band. The
    deduped pair ids then attach both vectors from the same pinned
    featurization via two id equi-joins, and scoring keeps the exact
    whole-stage-codegen cosine fold, bit-identical to the pre-r15
    plan and the all-pairs oracle."""
    from ..util import persist_tracked, release_caches

    planes = hyperplanes(bands * rows_per_band, dim)
    bucket = band_bucket_udf(planes, bands, rows_per_band)
    release_caches("lsh_near_pairs")
    # pinned once: the banding pass reads it, and the two post-dedup
    # vector attaches read it again — without the pin each read
    # re-runs the corpus featurization upstream
    vecs = persist_tracked(
        corpus.filter(_nonzero_vec(vec_col)).select(
            F.col(id_col).alias("vid"), F.col(vec_col).alias("vec")
        ),
        scope="lsh_near_pairs",
    )
    # ids-only banded relation (O(rows·bands) longs, no vectors);
    # pinned so the self-join's two reads run the banding UDF once
    banded = persist_tracked(
        vecs.select(
            "vid",
            F.posexplode(bucket(F.col("vec"))).alias("band", "bucket"),
        ),
        scope="lsh_near_pairs",
    )
    a = banded.select(F.col("vid").alias("a_id"), "band", "bucket")
    b = banded.select(F.col("vid").alias("b_id"), "band", "bucket")
    cand = (
        a.join(b, ["band", "bucket"])
        .filter(F.col("a_id") < F.col("b_id"))
        .dropDuplicates(["a_id", "b_id"])
    )
    cand = cand.join(
        vecs.select(F.col("vid").alias("a_id"), F.col("vec").alias("a_vec")),
        "a_id",
    ).join(
        vecs.select(F.col("vid").alias("b_id"), F.col("vec").alias("b_vec")),
        "b_id",
    )
    # verify_unrolled=False uses the fold-based dot: for wide vectors
    # (dim ≳ 128) the unrolled 3·dim-term expression costs more in
    # janino compile than it saves on a candidate-bounded verify, and
    # for integer-valued vectors the fold is bit-identical anyway
    # (exact sums, order-independent)
    return cand.select(
        "a_id",
        "b_id",
        cosine(
            F.col("a_vec"), F.col("b_vec"), dim if verify_unrolled else None
        ).alias("cos_sim"),
    ).filter(F.col("cos_sim") >= float(threshold))


def semantic_decontaminate(
    train: DataFrame,
    evals: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    bands: int = 16,
    rows_per_band: int = 4,
    max_eval_rows: int = 1_000_000,
) -> DataFrame:
    """Embedding-space benchmark decontamination: (train_id, eval_id,
    cos_sim) for every train document whose embedding is within cosine
    ≥ threshold of ANY eval/benchmark document — the semantic
    complement of n-gram decontamination (paraphrased or lightly
    reworded eval leakage that shares no exact 5-gram).

    Scale shape mirrors `decontaminate` (operators/dedup.py): the eval
    side is a benchmark suite — thousands of rows, not a corpus — so
    its banded buckets BROADCAST and the training corpus streams
    through a map-side (band, bucket) equi-join without ever
    shuffling; candidates ∝ band collisions, each verified with the
    exact cosine, so output equals the exact cross-side pair set minus
    the LSH miss probability ((1 − p^r)^B, see `lsh_near_pairs` — at
    threshold 0.9 with B=16, r=8 the qualifying pairs of the bimodal
    3-gram geometry collide with P(miss) ≤ 1.5e-4).

    Degenerate-input policy (ADVICE r10): every vector operator drops
    NULL/zero-norm embeddings at intake (`_nonzero_vec` — cosine is
    undefined at norm 0), but on the BENCHMARK side of a
    decontamination that silent drop fails OPEN: the eval row's
    contamination becomes undetectable with no signal to the caller.
    So an unusable eval embedding raises a named ValueError instead
    (the adversarial-gate policy); the train side still drops quietly
    — an unmeasurable train vector excludes only itself.

    r14 opt (guide §4.2/§8 — fuse the decide+verify into one native
    batch kernel; the eval side is driver-sized by contract): the old
    shape posexploded the corpus ×bands WITH the dim-wide vectors
    attached (measured 120 MB written from a 10 MB vector relation at
    sf0.1, on ONE AQE-coalesced task), shuffled candidates through a
    dropDuplicates Exchange still carrying both vectors (122 MB), and
    verified with the interpreted fold cosine (~60 µs/pair — 16 s of
    CPU that AQE parked on 2 tasks). Now the eval vectors and their
    band table are COLLECTED once (benchmark-sized — the same rows the
    old plan broadcast as a hash relation) and the train corpus
    streams through ONE mapInPandas: per Arrow batch, band buckets via
    the shared `_band_values` kernel (identical planes/packing ⇒
    identical candidate sets), per-row candidate eval sets from the
    broadcast band dict (duplicates are intra-row, so dedup needs no
    Exchange at all), and exact cosine via float64 numpy dots. ZERO
    Exchange on the corpus path (plan-pinned), work ∝ band collisions
    — the LSH contract — at every scale. For the integer-valued
    featurizations this engine ships, the numpy float64 dot is exact
    in any summation order, so cos_sim is bit-identical to the old
    JVM fold and to the oracle's list_dot_product.

    Contracts (r15, ADVICE r14 hardening):

    * **Eager, driver-sized eval side.** The eval relation is
      COLLECTED at query-BUILD time (Spark jobs run before the caller
      ever acts on the returned plan) and lives on the driver plus one
      broadcast. That is the operator's scale contract — the eval side
      is a benchmark suite, not a corpus. Two guards fail loud instead
      of open: `spark.driver.maxResultSize` bounds a runaway collect,
      and anything over ``max_eval_rows`` (default 1e6 — far past any
      benchmark suite, comfortably under driver memory at dim≲1024)
      raises a named ValueError directing the caller to the banded
      self-join path (`lsh_near_pairs` / `embedding_near_pairs`) that
      handles corpus×corpus shapes. The broadcast is released by
      Spark's ContextCleaner when the returned plan is GC'd — accepted
      explicitly: an eager unpersist would race the caller's action.
    * **Unique ids.** One input row per train_id/eval_id (what every
      featurization here emits — ids come out of a groupBy). Duplicate
      train rows sharing an id would emit one pair PER ROW where the
      pre-r14 plan's dropDuplicates([train_id, eval_id]) collapsed
      them; candidate dedup here is per-row (np.unique over one row's
      band collisions), which is exactly sufficient under this
      contract.
    * **Finite eval embeddings.** A NaN/Inf ELEMENT in an eval vector
      makes its cosine non-finite: the numpy `sims >= thr` comparison
      is False for NaN, so that eval row's contamination would
      silently become undetectable — the exact fail-open the guard
      policy targets. (The pre-r14 JVM plan behaved differently —
      Spark orders NaN above every value, so `cos_sim >= threshold`
      was TRUE and NaN rows flooded detectable pairs — equally wrong
      in the other direction.) Non-finite eval elements therefore
      raise the same named ValueError as NULL/zero-norm rows. NaN on
      the TRAIN side only loses that train row (it can never reach
      `>= thr`), matching the train-side drop-quietly policy."""
    import math

    import pyspark.sql.types as T

    planes = hyperplanes(bands * rows_per_band, dim)

    # one benchmark-sized collect replaces the old persist +
    # guard-count job + band broadcast + vec broadcast. collect() (not
    # toPandas) so a NULL ELEMENT arrives as Python None, distinct
    # from a NaN element (both raise below, with 3VL-accurate
    # reasoning in the docstring).
    ev_rows = evals.select(
        F.col(id_col).alias("eval_id"), F.col(vec_col).alias("eval_vec")
    ).collect()
    if len(ev_rows) > max_eval_rows:
        raise ValueError(
            "semantic_decontaminate: eval side has "
            f"{len(ev_rows)} rows (> max_eval_rows={max_eval_rows}) — "
            "this operator collects the eval/benchmark side to the "
            "driver by contract; for corpus-sized eval sets use the "
            "banded self-join path (lsh_near_pairs / "
            "embedding_near_pairs) instead"
        )
    bad = any(
        r.eval_vec is None
        or any(x is None or not math.isfinite(x) for x in r.eval_vec)
        or not any(x != 0 for x in r.eval_vec)
        for r in ev_rows
    )
    if bad:
        raise ValueError(
            "semantic_decontaminate: eval/benchmark rows carry NULL, "
            "non-finite, or zero-norm embeddings — cosine is undefined "
            "or non-comparable there, so their contamination would "
            "silently become undetectable; clean or re-embed the eval "
            "side"
        )
    eval_ids = np.array([r.eval_id for r in ev_rows])
    E = (
        np.stack(
            [np.asarray(r.eval_vec, dtype=np.float64) for r in ev_rows]
        )
        if ev_rows
        else np.zeros((0, dim), dtype=np.float64)
    )
    e_norm = np.sqrt(np.einsum("ij,ij->i", E, E)) if len(E) else E[:, 0]
    band_dict: dict[tuple[int, int], np.ndarray] = {}
    if len(E):
        ev_vals = _band_values(E, planes, bands, rows_per_band)
        for b in range(bands):
            order = np.argsort(ev_vals[:, b], kind="stable")
            vals_sorted = ev_vals[order, b]
            starts = np.searchsorted(
                vals_sorted, np.unique(vals_sorted), side="left"
            )
            uniq = np.unique(vals_sorted)
            bounds = np.append(starts, len(vals_sorted))
            for i, v in enumerate(uniq):
                band_dict[(b, int(v))] = order[bounds[i] : bounds[i + 1]]
    bc = train.sparkSession.sparkContext.broadcast(
        (eval_ids, E, e_norm, band_dict)
    )
    id_type = train.schema[id_col].dataType
    ev_id_type = evals.schema[id_col].dataType
    out_schema = T.StructType(
        [
            T.StructField("train_id", id_type),
            T.StructField("eval_id", ev_id_type),
            T.StructField("cos_sim", T.DoubleType()),
        ]
    )
    thr = float(threshold)

    def probe(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        e_ids, Em, en, bd = bc.value
        ET = Em.T
        for pdf in batches:
            if len(pdf) == 0 or len(e_ids) == 0:
                continue
            M = np.stack(
                [np.asarray(v, dtype=np.float64) for v in pdf["_vec"]]
            )
            t_norm = np.sqrt(np.einsum("ij,ij->i", M, M))
            vals = _band_values(M, planes, bands, rows_per_band)
            out_t, out_e, out_s = [], [], []
            t_ids = pdf["_id"].to_numpy()
            for r in range(len(pdf)):
                hits = [
                    bd.get((b, int(vals[r, b]))) for b in range(bands)
                ]
                hits = [h for h in hits if h is not None]
                if not hits:
                    continue
                cand = np.unique(np.concatenate(hits))
                sims = (M[r] @ ET[:, cand]) / (t_norm[r] * en[cand])
                keep = sims >= thr
                if keep.any():
                    out_t.append(np.repeat(t_ids[r], int(keep.sum())))
                    out_e.append(e_ids[cand[keep]])
                    out_s.append(sims[keep])
            if out_t:
                yield pd.DataFrame(
                    {
                        "train_id": np.concatenate(out_t),
                        "eval_id": np.concatenate(out_e),
                        "cos_sim": np.concatenate(out_s),
                    }
                )

    return (
        train.filter(_nonzero_vec(vec_col))
        .select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_vec"))
        .mapInPandas(probe, out_schema)
    )


def embedding_near_pairs(
    corpus: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
    n_blocks: int = 16,
) -> DataFrame:
    """EXACT all pairs with cosine ≥ threshold, via a block-grid
    theta-join (Okcan & Riedewald's 1-bucket-theta shape).

    Exact all-pairs is inherently Θ(n²) FLOPs — and LSH candidate
    generation cannot shortcut it here without recall loss: on this
    table the qualifying pairs start at cos 0.4501 while the background
    reaches 0.4497, a gap no hyperplane-LSH family separates with
    near-1 recall. What CAN scale is the join layout: instead of a
    single BroadcastNestedLoopJoin on `a_id < b_id` (one driver-fed
    nested loop, no partition-level parallelism guarantees), each
    vector is hashed to one of P blocks and replicated to its grid
    cells, and the pair space becomes a COGROUP on the cell id —
    P(P+1)/2 uniform tasks, shuffle volume n·(P+1)/2 vectors (never
    the n² pair rows), no driver broadcast of the corpus. Each cell
    scores its |A|×|B| plane in one Arrow-batched numpy kernel; only
    qualifying pairs leave Python.

    For a HIGH threshold (true near-dup regime, cos ≥ ~0.9) prefer
    candidate generation with `ann_topk`'s banded LSH + exact verify —
    there the bit-agreement probability 1-θ/π is far from ½ and banding
    drives per-pair miss below 1e-8."""
    spark = corpus.sparkSession
    cells = local_frame(
        spark,
        [
            (i * n_blocks + j, i, j)
            for i in range(n_blocks)
            for j in range(i, n_blocks)
        ],
        "cell int, bi int, bj int",
    )
    v = corpus.filter(_nonzero_vec(vec_col)).select(
        F.col(id_col).alias("vid"), F.col(vec_col).alias("vec")
    ).withColumn("blk", F.pmod(F.xxhash64(F.col("vid")), F.lit(n_blocks)).cast("int"))
    # distinct column names per side: both derive from v ⨝ cells, and
    # the cogroup would otherwise trip the ambiguous-self-join check
    a = v.join(F.broadcast(cells), v["blk"] == cells["bi"]).select(
        "vid", "vec", "cell", "bi", "bj"
    )
    b = v.join(F.broadcast(cells), v["blk"] == cells["bj"]).select(
        F.col("vid").alias("b_vid"),
        F.col("vec").alias("b_vec"),
        F.col("cell").alias("b_cell"),
    )
    thr = float(threshold)

    def score(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame({"a_id": [], "b_id": [], "cos_sim": []}).astype(
            {"a_id": "int64", "b_id": "int64", "cos_sim": "float64"}
        )
        if left.empty or right.empty:
            return empty
        # Column-order sequential accumulation: acc += A[:,i]*B[:,i]
        # performs, per pair, the same IEEE-754 op sequence as the
        # sequential fold ((0 + a₁b₁) + a₂b₂) + … — so results are
        # bit-identical to DuckDB's list_dot_product — while numpy
        # vectorizes across the |A|×|B| pair plane. (np.matmul would
        # be faster still but uses blocked/pairwise summation: not
        # reproducible against the oracle's fold order.)
        A = np.stack(left["vec"].to_numpy()).astype(np.float64)
        B = np.stack(right["b_vec"].to_numpy()).astype(np.float64)
        D = np.zeros((len(A), len(B)))
        an = np.zeros(len(A))
        bn = np.zeros(len(B))
        for i in range(A.shape[1]):
            D += np.outer(A[:, i], B[:, i])
            an += A[:, i] * A[:, i]
            bn += B[:, i] * B[:, i]
        C = D / np.outer(np.sqrt(an), np.sqrt(bn))
        mask = C >= thr
        aid = left["vid"].to_numpy()
        bid = right["b_vid"].to_numpy()
        if left["bi"].iat[0] == left["bj"].iat[0]:
            # same-block cell: both orders present — keep one
            mask &= aid[:, None] < bid[None, :]
        ii, jj = np.nonzero(mask)
        lo = np.minimum(aid[ii], bid[jj])
        hi = np.maximum(aid[ii], bid[jj])
        return pd.DataFrame({"a_id": lo, "b_id": hi, "cos_sim": C[ii, jj]})

    return (
        a.groupby("cell")
        .cogroup(b.groupby("b_cell"))
        .applyInPandas(score, schema="a_id bigint, b_id bigint, cos_sim double")
    )


# --------------------------------------------------------------------------
# IVF (inverted-file) ANN: coarse k-means quantizer + cell-probed search
# --------------------------------------------------------------------------


def _seed_sample(
    corpus: DataFrame, n: int, id_col: str, vec_col: str, empty_error: str
) -> tuple[DataFrame, np.ndarray]:
    """The quantizers' training intake and seeds: the usable vectors
    as (vid, vec), and the ``n`` of them with the smallest
    xxhash64(id) — a seedless, data-stable sample — as a float64
    matrix. An empty corpus raises ``ValueError(empty_error)``: the
    loud degenerate-input policy (same as the mixture derivations) —
    a quantizer cannot train on nothing, and letting the empty array
    through surfaces later as an unrelated numpy AxisError inside the
    assignment UDF."""
    v = corpus.filter(_nonzero_vec(vec_col)).select(
        F.col(id_col).alias("vid"), F.col(vec_col).alias("vec")
    )
    seeds = (
        v.withColumn("h", F.xxhash64(F.col("vid")))
        .orderBy("h")
        .limit(n)
        .select("vec")
        .collect()
    )
    if not seeds:
        raise ValueError(empty_error)
    return v, np.array([r.vec for r in seeds], dtype=np.float64)


def ivf_centroids(
    corpus: DataFrame,
    n_centroids: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> np.ndarray:
    """Train the coarse quantizer: deterministic seeds (the n_centroids
    vectors with the smallest xxhash64(id) — a seedless, data-stable
    sample), refined by `iters` distributed Lloyd rounds.

    Scale shape: each round is one narrow assignment pass over the
    corpus (numpy matmul per Arrow batch against the broadcast
    centroid matrix — centroids are n_centroids × dim floats, always
    driver-small) followed by a (cell, dim-position) mean — shuffle
    volume ∝ n_centroids·dim, never ∝ corpus. The centroid matrix is
    the ONLY thing the driver ever holds.
    """
    v, cents = _seed_sample(
        corpus, n_centroids, id_col, vec_col,
        "ivf_centroids: corpus has no vectors; cannot train a coarse "
        "quantizer",
    )
    for _ in range(iters):
        assigned = v.select(
            "vec", ivf_assign_udf(cents)(F.col("vec")).alias("cell")
        )
        means = (
            assigned.select("cell", F.posexplode("vec").alias("pos", "val"))
            .groupBy("cell", "pos")
            .agg(F.avg("val").alias("m"))
            .collect()
        )
        new = cents.copy()  # cells that lost all members keep their seed
        for r in means:
            new[r.cell, r.pos] = r.m
        cents = new
    return cents


def ivf_assign_udf(cents: np.ndarray, nprobe: int = 1):
    """Nearest-centroid assignment (cosine) per Arrow batch. With
    nprobe == 1 returns the single best cell id (int); with nprobe > 1
    returns the nprobe nearest cell ids (array<int>) for query-side
    multi-probing."""
    cn = _unit(cents)
    rtype = "int" if nprobe == 1 else "array<int>"

    @F.pandas_udf(rtype)
    def assign(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([], dtype="int32" if nprobe == 1 else "object")
        m = _unit(np.stack(vecs.to_numpy()).astype(np.float64))
        sims = m @ cn.T  # (batch, n_centroids)
        if nprobe == 1:
            return pd.Series(np.argmax(sims, axis=1).astype(np.int32))
        top = np.argsort(-sims, axis=1)[:, :nprobe].astype(np.int32)
        return pd.Series(list(top))

    return assign


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_centroids: int = 16,
    nprobe: int = 4,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF ANN top-k: partition the corpus into n_centroids Voronoi
    cells (coarse k-means), probe each query against its nprobe
    nearest cells only, exact cosine + window top-k on the candidates.

    This is the classic inverted-file trade: recall is governed by
    nprobe/n_centroids (candidates ≈ corpus · nprobe/n_centroids
    under balanced cells), and the expensive side — the corpus — is
    touched twice, both times as narrow one-pass scans (train
    assignment, index assignment). The search join is a cell-id
    equi-join with the query side broadcast: no corpus broadcast, no
    nested loop, shuffle ∝ candidates. Complements the banded-LSH
    variant (`ann_topk`): IVF adapts to the data's density (cells
    follow the embedding distribution) where LSH is data-oblivious.
    """
    cents = ivf_centroids(
        corpus, n_centroids=n_centroids, iters=iters, id_col=id_col, vec_col=vec_col
    )
    c = corpus.filter(_nonzero_vec(vec_col)).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("c_vec"),
        ivf_assign_udf(cents)(F.col(vec_col)).alias("cell"),
    )
    q = queries.filter(_nonzero_vec(vec_col)).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        F.explode(ivf_assign_udf(cents, nprobe=nprobe)(F.col(vec_col))).alias("cell"),
    )
    cand = c.join(F.broadcast(q), "cell").filter(
        F.col("query_id") != F.col("neighbor_id")
    )
    scored = cand.select(
        "query_id",
        "neighbor_id",
        cosine(F.col("q_vec"), F.col("c_vec")).alias("cos_sim"),
    )
    return _topk_per_query(scored, k)


# ---------------------------------------------------------------------------
# product quantization (PQ)
# ---------------------------------------------------------------------------


def pq_codebooks(
    corpus: DataFrame,
    m: int = 8,
    n_codes: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> np.ndarray:
    """Train product-quantizer codebooks: the (L2-normalized) vector is
    split into `m` contiguous subspaces and each subspace gets its own
    `n_codes`-centroid k-means — the memory-compression layer of
    billion-scale ANN (an encoded vector is m small ints instead of
    dim floats; at m=8 over 64 float64 dims that is 64x).

    Same determinism contract as `ivf_centroids`: seeds are the
    n_codes corpus vectors with the smallest xxhash64(id), refined by
    `iters` distributed Lloyd rounds. All m subspaces train in the
    SAME pass: each round is one mapInPandas over the corpus emitting
    per-batch PARTIAL SUMS keyed (sub, code, pos) — at most
    m·n_codes·dsub rows per batch regardless of batch size — then one
    small groupBy. Shuffle ∝ codebook size × partitions, never ∝
    corpus; the driver only ever holds the (m, n_codes, dsub) array.

    Returns codebooks with shape (m, n_codes, dsub).
    """
    v, s = _seed_sample(
        corpus, n_codes, id_col, vec_col,
        "pq_codebooks: corpus has no vectors; cannot train codebooks",
    )
    s = _unit(s)
    dim = s.shape[1]
    if dim % m:
        raise ValueError(f"pq: dim {dim} not divisible by m={m}")
    dsub = dim // m
    cb = np.stack([s[:, i * dsub : (i + 1) * dsub] for i in range(m)])

    for _ in range(iters):
        books = cb  # capture for the closure

        def partials(batches):
            for pdf in batches:
                if not len(pdf):
                    continue
                x = _unit(np.stack(pdf["vec"].to_numpy()).astype(np.float64))
                out = {"sub": [], "code": [], "pos": [], "s": [], "c": []}
                for sub in range(m):
                    xs = x[:, sub * dsub : (sub + 1) * dsub]
                    d = ((xs[:, None, :] - books[sub][None, :, :]) ** 2).sum(axis=2)
                    code = np.argmin(d, axis=1)
                    for cidx in np.unique(code):
                        sel = xs[code == cidx]
                        for pos in range(dsub):
                            out["sub"].append(sub)
                            out["code"].append(int(cidx))
                            out["pos"].append(pos)
                            out["s"].append(float(sel[:, pos].sum()))
                            out["c"].append(int(len(sel)))
                yield pd.DataFrame(out)

        sums = (
            v.mapInPandas(partials, "sub int, code int, pos int, s double, c long")
            .groupBy("sub", "code", "pos")
            .agg(F.sum("s").alias("s"), F.sum("c").alias("c"))
            .collect()
        )
        new = cb.copy()  # codes that lost all members keep their seed
        for r in sums:
            if r.c:
                new[r.sub, r.code, r.pos] = r.s / r.c
        cb = new
    return cb


def pq_encode_udf(codebooks: np.ndarray):
    """vec → array<int> of m codes (nearest sub-centroid per subspace,
    computed per Arrow batch). Vectors are L2-normalized before
    encoding — the same convention the codebooks were trained under."""
    m, n_codes, dsub = codebooks.shape

    @F.pandas_udf("array<int>")
    def enc(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([], dtype="object")
        x = _unit(np.stack(vecs.to_numpy()).astype(np.float64))
        codes = np.empty((len(x), m), dtype=np.int32)
        for sub in range(m):
            xs = x[:, sub * dsub : (sub + 1) * dsub]
            d = ((xs[:, None, :] - codebooks[sub][None, :, :]) ** 2).sum(axis=2)
            codes[:, sub] = np.argmin(d, axis=1)
        return pd.Series(list(codes))

    return enc


#: Query-set size above which the collected-LUT ADC paths auto-route
#: to the collect-free `ivfpq_topk_join` LUT-column path. 10k queries
#: ≈ 20 MB of LUTs at (m=8, n_codes=32) — past that, a driver collect
#: stops being "serving-sized" and the join path wins. Read at call
#: time.
COLLECT_DISPATCH_MAX = 10_000


def _dispatch_large(
    op: str, corpus: DataFrame, queries: DataFrame, effect: str, **params
) -> DataFrame | None:
    """The collected-LUT paths' large-query-set dispatch: a query set
    larger than `COLLECT_DISPATCH_MAX` (bounded limit-probe — at most
    that many rows plus one are counted, never a full scan of a
    corpus-sized query set) runs `ivfpq_topk_join` with ``params`` and
    the query side shuffled, not broadcast; a logged warning names the
    caller and what the dispatch changes (``effect``). Returns None for
    a serving-sized query set: the caller's collected path runs."""
    n = COLLECT_DISPATCH_MAX
    if queries.limit(n + 1).count() <= n:
        return None
    _LOG.warning(
        "%s: query set exceeds COLLECT_DISPATCH_MAX=%d — dispatching to "
        "the collect-free ivfpq_topk_join (n_centroids=%d, nprobe=%d): %s",
        op, n, params["n_centroids"], params["nprobe"], effect,
    )
    return ivfpq_topk_join(corpus, queries, broadcast_queries=False, **params)


def _luts(unit: np.ndarray, codebooks: np.ndarray) -> np.ndarray:
    """ADC lookup tables of unit query vectors, shape (nq, m, n_codes):
    lut[q, sub, code] = <q_sub, codebooks[sub, code]>, so a code row's
    ADC score is Σ_sub lut[q, sub, codes[sub]]."""
    m, _, dsub = codebooks.shape
    return np.einsum(
        "qsd,scd->qsc", unit.reshape(len(unit), m, dsub), codebooks
    )


def _collected_queries(
    queries: DataFrame, codebooks: np.ndarray, id_col: str, vec_col: str
) -> tuple[list[int], np.ndarray, DataFrame]:
    """The query side of the collected-LUT paths (the serving shape):
    the usable queries are collected once and normalized (`_unit`);
    returns their ids, their LUTs (`_luts`) and the re-rank's
    (query_id, q_vec) relation of the normalized vectors."""
    rows = queries.filter(_nonzero_vec(vec_col)).select(
        F.col(id_col).alias("qid"), F.col(vec_col).alias("vec")
    ).collect()
    qids = [int(r.qid) for r in rows]
    qv = _unit(np.stack([np.array(r.vec, dtype=np.float64) for r in rows]))
    q_vec = local_frame(
        queries.sparkSession,
        [(q, [float(x) for x in v]) for q, v in zip(qids, qv)],
        "query_id long, q_vec array<double>",
    )
    return qids, _luts(qv, codebooks), q_vec


def _adc_rerank(
    adc: DataFrame,
    c_vec: DataFrame,
    q_vec: DataFrame,
    k: int,
    rerank: int | None,
) -> DataFrame:
    """The refine step every ADC search ends in: window top-``rerank``
    (default 4·k) per query by ADC score (ties by neighbor id) over
    ``adc`` (query_id, neighbor_id, adc), join the R·nq survivors to
    the raw corpus vectors ``c_vec`` (neighbor_id, c_vec) and the query
    vectors ``q_vec`` (query_id, q_vec, broadcast or not as the caller
    hints), exact cosine, `_topk_per_query`."""
    if rerank is None:
        rerank = 4 * k
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc").desc(), F.col("neighbor_id").asc()
    )
    short = (
        adc.withColumn("ark", F.row_number().over(w))
        .filter(F.col("ark") <= rerank)
        .select("query_id", "neighbor_id")
    )
    scored = (
        short.join(c_vec, "neighbor_id")
        .join(q_vec, "query_id")
        .select(
            "query_id",
            "neighbor_id",
            cosine(F.col("q_vec"), F.col("c_vec")).alias("cos_sim"),
        )
    )
    return _topk_per_query(scored, k)


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    m: int = 8,
    n_codes: int = 16,
    iters: int = 2,
    rerank: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 8,
    nprobe: int = 4,
) -> DataFrame:
    """PQ/ADC ANN top-k: encode the corpus as m-byte codes, score
    every code against per-query LOOKUP TABLES (asymmetric distance
    computation — m table adds per candidate instead of dim
    multiplies), keep the ADC top-`rerank` per query, then exact-
    cosine re-rank to the final top-k (`_adc_rerank`).

    Scale shape: after the one-off encode pass the search never
    touches raw vectors until re-rank — the scan streams (id, m
    codes), a 64x narrower relation, with the query LUTs
    (nq·m·n_codes floats) broadcast inside the mapInPandas closure.
    Each batch emits at most nq·rerank candidate rows (per-batch
    top-R), the window reduces those to the global top-R, and only
    those R·nq rows join back to raw vectors. The third ANN family
    next to banded-LSH (data-oblivious) and IVF (data-adaptive
    partitioning): PQ compresses MEMORY, and composes with either as
    the IVFPQ of production systems.

    The query set is collected for the LUT closure — the SERVING shape
    (small query batches). A query set larger than
    `COLLECT_DISPATCH_MAX` AUTO-DISPATCHES (`_dispatch_large`) to
    `ivfpq_topk_join`, whose LUTs travel as a joined column with no
    driver collect; that path additionally prunes candidates through
    IVF cells (the production composition — a corpus-sized brute ADC
    sweep would be quadratic regardless of transport), so dispatch
    CHANGES RESULT SEMANTICS: the exhaustive ADC sweep becomes
    cell-pruned, governed by ``n_centroids``/``nprobe`` (explicit
    params so the pruning level is the caller's choice, not a hidden
    default) — a logged warning marks every dispatch.
    """
    routed = _dispatch_large(
        "pq_topk", corpus, queries,
        "the exhaustive ADC sweep becomes IVF-pruned, which can change "
        "top-k/recall",
        k=k, n_centroids=n_centroids, nprobe=nprobe, m=m, n_codes=n_codes,
        iters=iters, rerank=rerank, id_col=id_col, vec_col=vec_col,
    )
    if routed is not None:
        return routed
    if rerank is None:
        rerank = 4 * k
    cb = pq_codebooks(
        corpus, m=m, n_codes=n_codes, iters=iters, id_col=id_col, vec_col=vec_col
    )
    codes = corpus.filter(_nonzero_vec(vec_col)).select(
        F.col(id_col).alias("neighbor_id"),
        pq_encode_udf(cb)(F.col(vec_col)).alias("codes"),
    )
    qids, lut, q_vec = _collected_queries(queries, cb, id_col, vec_col)

    def adc(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            c = np.stack(pdf["codes"].to_numpy()).astype(np.int64)  # (b, m)
            nb = np.asarray(pdf["neighbor_id"])
            # gather: scores (nq, b) = sum_s LUT[q, s, c[:, s]]
            scores = np.zeros((len(qids), len(c)))
            for sub in range(lut.shape[1]):
                scores += lut[:, sub, c[:, sub]]
            r = min(len(c), rerank)  # per-batch top-R; window tightens globally
            out_q, out_n, out_s = [], [], []
            for qi in range(len(qids)):
                top = np.argpartition(-scores[qi], r - 1)[:r]
                out_q.extend([qids[qi]] * len(top))
                out_n.extend(nb[top].tolist())
                out_s.extend(scores[qi, top].tolist())
            yield pd.DataFrame(
                {"query_id": out_q, "neighbor_id": out_n, "adc": out_s}
            )

    cand = codes.mapInPandas(adc, "query_id long, neighbor_id long, adc double")
    c_vec = corpus.filter(_nonzero_vec(vec_col)).select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec")
    )
    return _adc_rerank(
        cand.filter(F.col("query_id") != F.col("neighbor_id")),
        c_vec, F.broadcast(q_vec), k, rerank,
    )


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_centroids: int = 8,
    nprobe: int = 4,
    m: int = 8,
    n_codes: int = 32,
    iters: int = 2,
    rerank: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVFPQ: the production billion-scale composition — IVF cells
    prune WHICH corpus rows are scored (candidates ≈ corpus ·
    nprobe/n_centroids), PQ codes compress WHAT is scored (m ints per
    row instead of dim floats), exact cosine re-ranks the survivors.

    Plan shape: the corpus is scanned once to attach (cell, codes) —
    both assignments ride the same mapInPandas-adjacent projection
    (`_ann_rows`, the index writer's encoder) — then the search is a
    cell-id equi-join against the broadcast probed-query table, an
    ADC lookup-table score on the joined (query, codes) rows, and
    `_adc_rerank`'s window top-R and R·nq-row re-rank join. Nothing
    corpus-sized is broadcast, shuffled wide, or held raw past the
    first scan. Queries are collected for the LUT closure (serving
    shape); a query set larger than `COLLECT_DISPATCH_MAX`
    AUTO-DISPATCHES (`_dispatch_large`) to `ivfpq_topk_join` — the
    same model, candidates, and re-rank with the LUTs as a shuffled
    column instead of a driver closure (a logged warning marks the
    dispatch)."""
    routed = _dispatch_large(
        "ivfpq_topk", corpus, queries,
        "same model and candidates; only the LUT transport changes",
        k=k, n_centroids=n_centroids, nprobe=nprobe, m=m, n_codes=n_codes,
        iters=iters, rerank=rerank, id_col=id_col, vec_col=vec_col,
    )
    if routed is not None:
        return routed
    cents = ivf_centroids(
        corpus, n_centroids=n_centroids, iters=iters, id_col=id_col, vec_col=vec_col
    )
    cb = pq_codebooks(
        corpus, m=m, n_codes=n_codes, iters=iters, id_col=id_col, vec_col=vec_col
    )
    c, c_vec = _ann_rows(corpus, cents, cb, id_col, vec_col)
    qids, lut, q_vec = _collected_queries(queries, cb, id_col, vec_col)
    lut_by_q = {q: lut[i] for i, q in enumerate(qids)}
    q_probe = queries.filter(_nonzero_vec(vec_col)).select(
        F.col(id_col).alias("query_id"),
        F.explode(ivf_assign_udf(cents, nprobe=nprobe)(F.col(vec_col))).alias("cell"),
    )
    cand = c.join(F.broadcast(q_probe), "cell").filter(
        F.col("query_id") != F.col("neighbor_id")
    )

    def adc(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            codes = np.stack(pdf["codes"].to_numpy()).astype(np.int64)
            scores = np.empty(len(codes))
            qcol = pdf["query_id"].to_numpy()
            for q in np.unique(qcol):
                sel = qcol == q
                t = lut_by_q[int(q)]
                s = np.zeros(int(sel.sum()))
                csel = codes[sel]
                for sub in range(len(t)):
                    s += t[sub, csel[:, sub]]
                scores[sel] = s
            yield pdf[["query_id", "neighbor_id"]].assign(adc=scores)

    scored_codes = cand.mapInPandas(
        adc, "query_id long, neighbor_id long, adc double"
    )
    return _adc_rerank(scored_codes, c_vec, F.broadcast(q_vec), k, rerank)


def pq_lut_udf(codebooks: np.ndarray):
    """query vec → FLATTENED ADC lookup table (array<double>, length
    m·n_codes): lut[sub·n_codes + code] = <q_sub, centroid[sub,code]>
    (`_luts` of the normalized vector, the collected paths' formula).
    Computed per Arrow batch from the (model-sized) codebook closure —
    the query table itself never reaches the driver, which is the
    point: LUTs become a COLUMN that joins/broadcasts like any other
    relation instead of a driver-built closure (r7 verdict task #4)."""
    m, n_codes, _ = codebooks.shape

    @F.pandas_udf(_DOUBLE_ARR)
    def lut(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([], dtype="object")
        x = _unit(np.stack(vecs.to_numpy()).astype(np.float64))
        return pd.Series(list(_luts(x, codebooks).reshape(len(x), m * n_codes)))

    return lut


def _adc_expr(codes: Column, lut: Column, m: int, n_codes: int) -> Column:
    """ADC score as a pure JVM expression: Σ_sub lut[sub·n_codes +
    codes[sub]] — the join-based twin of the mapInPandas LUT gather
    (same float64 adds, left-to-right over sub)."""
    return F.aggregate(
        F.zip_with(
            codes,
            F.sequence(F.lit(0), F.lit(m - 1)),
            lambda c, s: F.element_at(lut, s * n_codes + c + 1),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _ivfpq_search(
    codes: DataFrame,
    c_vec: DataFrame,
    queries: DataFrame,
    cents: np.ndarray,
    cb: np.ndarray,
    k: int,
    nprobe: int,
    rerank: int | None,
    id_col: str,
    vec_col: str,
    broadcast_queries: bool,
) -> DataFrame:
    """The collect-free IVFPQ search, written once for the in-query
    `ivfpq_topk_join` and the saved-index `ivfpq_topk_join_from_index`:
    ``codes`` (neighbor_id, cell, codes) and ``c_vec`` (neighbor_id,
    c_vec) are the encoded corpus (`_ann_rows`' shapes) under the model
    (``cents``, ``cb``).

    The queries get (lut, probed cells) in one Arrow pass → cell-id
    equi-join against ``codes`` → the ADC score is a pure JVM fold over
    the codes array indexing the joined lut column (`_adc_expr` —
    whole-stage codegen, no Python on the corpus-sized side) →
    `_adc_rerank`. With ``broadcast_queries`` both query-side tables
    carry broadcast hints; without, the cell join shuffles the queries
    (into ``codes``' bucketing, when it is a bucketed index table)."""
    # the TRAINED codebook can hold fewer codes than requested (corpus
    # smaller than n_codes: seeds = available vectors). The LUT and
    # encode UDFs derive their stride from cb.shape — the ADC indexing
    # must use the same stride, or element_at walks past the LUT on any
    # corpus with < n_codes vectors
    m, n_codes, _ = cb.shape
    usable = queries.filter(_nonzero_vec(vec_col))
    q = usable.select(
        F.col(id_col).alias("query_id"),
        pq_lut_udf(cb)(F.col(vec_col)).alias("lut"),
        F.explode(ivf_assign_udf(cents, nprobe=nprobe)(F.col(vec_col))).alias(
            "cell"
        ),
    )
    q_vec = usable.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
    )
    if broadcast_queries:
        q, q_vec = F.broadcast(q), F.broadcast(q_vec)
    cand = codes.join(q, "cell").filter(F.col("query_id") != F.col("neighbor_id"))
    scored_codes = cand.select(
        "query_id",
        "neighbor_id",
        _adc_expr(F.col("codes"), F.col("lut"), m, n_codes).alias("adc"),
    )
    return _adc_rerank(scored_codes, c_vec, q_vec, k, rerank)


def ivfpq_topk_join(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_centroids: int = 8,
    nprobe: int = 4,
    m: int = 8,
    n_codes: int = 32,
    iters: int = 2,
    rerank: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    broadcast_queries: bool = True,
) -> DataFrame:
    """`ivfpq_topk` for LARGE query sets: the per-query ADC lookup
    tables ship as a broadcast/shuffled TABLE instead of a collected
    driver closure — no `.collect()` of the query relation anywhere,
    so a corpus-vs-corpus join (batch-scoring a day's documents
    against the index, kNN-graph construction) runs fully distributed.

    Trains the model (`ivf_centroids`, `pq_codebooks`), encodes the
    corpus with the index writer's `_ann_rows`, and runs
    `_ivfpq_search` — the same search body the saved-index
    `ivfpq_topk_join_from_index` runs on its tables. With
    `broadcast_queries` (default, the serving shape) the probed-query
    table is broadcast; pass False when the query side outgrows the
    broadcast budget and the same plan degrades to a shuffle equi-join
    on cell — still candidate-bounded, still collect-free.

    Same model, same candidate set, same re-rank as `ivfpq_topk`
    (recall parity asserted in tests/test_similarity.py); only the LUT
    transport differs."""
    cents = ivf_centroids(
        corpus, n_centroids=n_centroids, iters=iters, id_col=id_col, vec_col=vec_col
    )
    cb = pq_codebooks(
        corpus, m=m, n_codes=n_codes, iters=iters, id_col=id_col, vec_col=vec_col
    )
    codes, c_vec = _ann_rows(corpus, cents, cb, id_col, vec_col)
    return _ivfpq_search(
        codes, c_vec, queries, cents, cb, k, nprobe, rerank, id_col, vec_col,
        broadcast_queries,
    )


# the IVFPQ index's bucketed tables as (suffix, bucket key, purge id)
# — see `operators/dedup.py`'s family declarations; the trained model
# rides in the plain ``centroids``/``codebooks`` side tables
ANN_TABLES = [
    ("codes", "cell", "neighbor_id"),
    ("vectors", "neighbor_id", "neighbor_id"),
]


def write_ann_index(
    corpus: DataFrame,
    base_name: str,
    n_centroids: int = 8,
    m: int = 8,
    n_codes: int = 32,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    buckets: int = 8,
    pretrained: tuple[np.ndarray, np.ndarray] | None = None,
) -> None:
    """Materialize the corpus's IVFPQ index ON DISK — the
    `write_minhash_index` pattern applied to the vector family. At
    100 TB the Lloyd training passes and the corpus encode pass are
    ingest-time costs paid ONCE; every subsequent query batch probes
    the saved index without retraining centroids, re-deriving
    codebooks, or re-encoding anything corpus-sized (the in-query
    `ivfpq_topk_join` pays all three per call).

    Writes five catalog tables:

    * ``{base}_codes`` (neighbor_id, cell, codes) — the encoded corpus
      (m small ints per vector instead of dim floats), bucketed AND
      bucket-sorted on ``cell``: a non-broadcast probe shuffles only
      the query side INTO this layout while the index reads
      zero-Exchange (plan-asserted in tests/test_similarity.py).
    * ``{base}_vectors`` (neighbor_id, c_vec) — raw vectors for the
      exact-cosine re-rank, bucketed on ``neighbor_id`` so the
      R·nq-row candidate join shuffles only candidates.
    * ``{base}_centroids`` (cell, centroid) — the coarse quantizer,
      model-sized (n_centroids rows).
    * ``{base}_codebooks`` (sub, code, centroid) — the PQ codebooks,
      model-sized (m·n_codes rows).
    * ``{base}_meta`` — one row pinning (n_centroids, m, n_codes, dim,
      dsub), with n_codes/n_centroids the TRAINED sizes (a corpus
      smaller than the requested code count trains a smaller book).
      The probe takes every model parameter FROM these tables (never
      from the caller), so query-side LUTs/assignments cannot drift
      from the layout the corpus was encoded under.

    ``pretrained=(centroids, codebooks)`` skips the Lloyd training
    passes and encodes under the given model — e.g.
    ``_read_ann_model(spark, old_base)[1:]`` to re-lay-out or compact
    a standing index without retraining (and the exact-rewrite
    yardstick `append_to_ann_index`'s parity test is pinned against).

    Rows carry a generation stamp; the write is staged crash-safe
    through `bucketing.staged_rewrite`: a crash leaves the old index —
    data, MODEL tables, tombstones — intact, or fails loudly; probes
    can never mix new codes with old codebooks."""
    from ..bucketing import staged_rewrite

    if pretrained is not None:
        cents, cb = pretrained
    else:
        cents = ivf_centroids(
            corpus, n_centroids=n_centroids, iters=iters,
            id_col=id_col, vec_col=vec_col,
        )
        cb = pq_codebooks(
            corpus, m=m, n_codes=n_codes, iters=iters,
            id_col=id_col, vec_col=vec_col,
        )
    spark = corpus.sparkSession
    mm, trained_codes, dsub = cb.shape
    staged_rewrite(
        spark, base_name, ANN_TABLES,
        _ann_rows(corpus, cents, cb, id_col, vec_col),
        lambda g: local_frame(
            spark, [(len(cents), mm, trained_codes, mm * dsub, dsub)],
            "n_centroids int, m int, n_codes int, dim int, dsub int",
        ),
        buckets,
        side={
            "centroids": local_frame(
                spark,
                [
                    (int(i), [float(x) for x in row])
                    for i, row in enumerate(cents)
                ],
                "cell int, centroid array<double>",
            ),
            "codebooks": local_frame(
                spark,
                [
                    (int(sub), int(code), [float(x) for x in cb[sub, code]])
                    for sub in range(mm)
                    for code in range(trained_codes)
                ],
                "sub int, code int, centroid array<double>",
            ),
        },
    )


def _ann_rows(
    vecs: DataFrame, cents: np.ndarray, cb: np.ndarray, id_col: str, vec_col: str
) -> list[DataFrame]:
    """The rows of `ANN_TABLES` for ``vecs`` under a trained model:
    (neighbor_id, cell, codes) and (neighbor_id, c_vec), zero-norm and
    NULL-element vectors dropped — shared by the full write and the
    append, so appended rows equal a rewrite's."""
    v = vecs.filter(_nonzero_vec(vec_col))
    return [
        v.select(
            F.col(id_col).alias("neighbor_id"),
            ivf_assign_udf(cents)(F.col(vec_col)).alias("cell"),
            pq_encode_udf(cb)(F.col(vec_col)).alias("codes"),
        ),
        v.select(
            F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec")
        ),
    ]


def append_to_ann_index(
    batch: DataFrame,
    base_name: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    reingest: bool = False,
) -> None:
    """Absorb a batch of new vectors INTO the standing IVFPQ index
    (r11, r10 verdict task #2) — before this, `write_ann_index` was
    overwrite-only and absorbing a day's embeddings meant re-encoding
    the ENTIRE corpus; at 100 TB that is the whole ingest-time encode
    pass again, every day.

    The batch is assigned and PQ-encoded under the model PINNED in
    the index's own tables (`_read_ann_model`: meta + centroids +
    codebooks — model-sized collects only) and appended into the
    bucketed ``{base}_codes`` / ``{base}_vectors`` tables preserving
    their bucket layout. The model tables are NEVER touched: append
    never retrains, so every standing code stays comparable with
    every appended one under the same ADC LUTs. Because the rewrite
    path accepts the same pinned model (``write_ann_index(...,
    pretrained=...)``), append-vs-rewrite probe parity is exact
    (pinned in tests/test_index_append.py together with the preserved
    zero-Exchange index read; an AST assertion pins that this
    function never calls the Lloyd trainers and reads no corpus
    table).

    Append cost ∝ batch: one Arrow encode pass over the new vectors,
    two bucketed writes. Plain append is INSERT: re-appending an
    indexed vec_id duplicates its codes/vector rows. ``reingest=True``
    (r12, r11 verdict task #2) is the upsert path for re-embedded
    documents: the batch is appended, then its ids are tombstoned one
    generation below it (`bucketing.staged_append`) — probes
    immediately see only the new vectors, the dead rows are purged at
    the next `compact_ann_index`.
    Deletions without replacement go through
    `bucketing.add_tombstones`. Model-drift policy is the caller's: a
    shifted embedding distribution under the pinned model degrades
    recall, never correctness (the exact-cosine re-rank still orders
    true candidates exactly). After many appends, restore the
    one-file-per-bucket layout with `compact_ann_index` (rows moved,
    never re-encoded). A reingest batch must be fully indexable: a
    zero-norm / NULL-element embedding raises BEFORE anything is
    written (ADVICE r12: the intake filter would drop its rows while
    the tombstone killed the standing ones — a silent delete)."""
    from ..bucketing import staged_append

    spark = batch.sparkSession

    def rows(base_name):
        _meta, cents, cb = _read_ann_model(spark, base_name)
        if reingest:
            unusable = (
                batch.filter(~_nonzero_vec(vec_col)).select(id_col).take(4)
            )
            if unusable:
                raise ValueError(
                    "reingest batch contains zero-norm/NULL embeddings (e.g. "
                    f"{[r[0] for r in unusable]}): refusing a silent delete — "
                    "pre-filter them, or delete explicitly via "
                    "bucketing.add_tombstones"
                )
        return _ann_rows(batch, cents, cb, id_col, vec_col)

    staged_append(
        spark, base_name, ANN_TABLES, rows,
        reingest=(batch, id_col) if reingest else None,
    )


def compact_ann_index(spark, base_name: str) -> None:
    """Compact both ANN index tables to one file per bucket AND
    physically purge tombstoned rows, then clear the tombstone table
    (r12) — see `operators/dedup.py:compact_minhash_index`. The model
    tables are untouched (compaction moves rows, never re-encodes)."""
    from ..bucketing import compact_index_tables, resolve_index_base

    compact_index_tables(
        spark, resolve_index_base(spark, base_name), ANN_TABLES
    )


def _read_ann_model(spark, base_name: str):
    """Load the (model-sized) trained arrays back from the index's
    catalog tables: centroids (n_centroids, dim) and codebooks
    (m, n_codes, dsub), float64-exact (parquet doubles round-trip)."""
    meta = spark.table(f"{base_name}_meta").collect()[0]
    crows = spark.table(f"{base_name}_centroids").collect()
    cents = np.zeros((meta.n_centroids, meta.dim))
    for r in crows:
        cents[r.cell] = r.centroid
    brows = spark.table(f"{base_name}_codebooks").collect()
    cb = np.zeros((meta.m, meta.n_codes, meta.dsub))
    for r in brows:
        cb[r.sub, r.code] = r.centroid
    return meta, cents, cb


def ivfpq_topk_join_from_index(
    spark,
    queries: DataFrame,
    base_name: str,
    k: int = 10,
    nprobe: int = 4,
    rerank: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    broadcast_queries: bool = True,
) -> DataFrame:
    """`ivfpq_topk_join` against a SAVED index (`write_ann_index`):
    zero training, zero corpus encoding — only the query batch runs
    Python (one Arrow pass attaching LUT + probed cells), then the
    cell equi-join, JVM ADC fold, window top-R, and exact-cosine
    re-rank all read the persisted tables. Model parameters (m,
    n_codes stride, centroids, codebooks) come from the index's meta/
    model tables, never from the caller, so the ADC stride always
    matches what the corpus codes were encoded under.

    With ``broadcast_queries`` (the serving default) the probed-query
    table broadcasts and the corpus index never leaves its scan. When
    the batch outgrows the broadcast budget, pass False: the batch
    shuffles INTO the ``{base}_codes`` table's cell bucketing while
    the index side still reads zero-Exchange — the layout the index
    was written for. Results are identical to the in-query operator
    given the same (deterministically trained) model
    (parity-asserted in tests/test_similarity.py): both run
    `_ivfpq_search`, this face on the tombstone-filtered ``{base}_codes``
    / ``{base}_vectors`` tables and the stored model."""
    from ..bucketing import filter_tombstoned, resolve_index_base

    base_name = resolve_index_base(spark, base_name)
    _meta, cents, cb = _read_ann_model(spark, base_name)
    # deleted/reingested ids drop out map-side (broadcast anti-join on
    # the deletion-sized tombstone table — the index never shuffles)
    codes = filter_tombstoned(
        spark, base_name, spark.table(f"{base_name}_codes"), "neighbor_id"
    )
    c_vec = filter_tombstoned(
        spark, base_name, spark.table(f"{base_name}_vectors"), "neighbor_id"
    ).select("neighbor_id", "c_vec")
    return _ivfpq_search(
        codes, c_vec, queries, cents, cb, k, nprobe, rerank, id_col, vec_col,
        broadcast_queries,
    )


def knn_graph_from_index(
    spark,
    base_name: str,
    k: int = 10,
    nprobe: int = 4,
    rerank: int | None = None,
) -> DataFrame:
    """`knn_graph` against a SAVED index (`write_ann_index`): the
    corpus-vs-itself kNN graph — semantic clustering, graph dedup,
    hard-negative mining — with ZERO retraining and zero re-encoding.
    The query side is the index's own vectors table, so a nightly
    graph rebuild against a standing corpus reads (vectors, codes,
    model) from catalog tables and pays only the probe: one Arrow pass
    attaching LUT + probed cells to the query side, the cell equi-join
    into the bucketed codes table, the JVM ADC fold, and the re-rank.
    Exact parity with the in-query `knn_graph` under the same trained
    model is pinned in tests/test_similarity.py."""
    from ..bucketing import filter_tombstoned, resolve_index_base

    base_name = resolve_index_base(spark, base_name)
    # a deleted doc must appear on NEITHER side of the graph: the
    # neighbor side is filtered inside ivfpq_topk_join_from_index, the
    # query side here
    q = filter_tombstoned(
        spark, base_name, spark.table(f"{base_name}_vectors"), "neighbor_id"
    ).select(
        F.col("neighbor_id").alias("vec_id"),
        F.col("c_vec").alias("embedding"),
    )
    return ivfpq_topk_join_from_index(
        spark,
        q,
        base_name,
        k=k,
        nprobe=nprobe,
        rerank=rerank,
        broadcast_queries=False,
    )


def knn_graph(
    corpus: DataFrame,
    k: int = 10,
    n_centroids: int = 8,
    nprobe: int = 4,
    m: int = 8,
    n_codes: int = 32,
    iters: int = 2,
    rerank: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate k-nearest-neighbor GRAPH of the corpus against
    itself — the building block of semantic clustering, graph-based
    dedup (cut edges above a cosine threshold → connected components
    → keep one per cluster), and hard-negative mining.

    This is exactly the corpus-sized-query-set shape `ivfpq_topk_join`
    exists for: both sides are the corpus, the per-vector ADC lookup
    tables ride as a joined column (no driver collect anywhere), and
    the cell equi-join runs as a shuffle join — candidate work ≈
    |corpus|² · nprobe/n_centroids, the IVF pruning bound, never the
    raw quadratic. Feed the (a,b) edges above a threshold into
    `dedup.connected_components` for cluster-level dedup.

    Returns (query_id, neighbor_id, cos_sim, rank) — k rows per
    corpus vector, exact-cosine re-ranked."""
    return ivfpq_topk_join(
        corpus,
        corpus,
        k=k,
        n_centroids=n_centroids,
        nprobe=nprobe,
        m=m,
        n_codes=n_codes,
        iters=iters,
        rerank=rerank,
        id_col=id_col,
        vec_col=vec_col,
        broadcast_queries=False,
    )
