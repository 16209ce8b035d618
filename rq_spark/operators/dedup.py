"""Deduplication operators: exact, n-gram Jaccard, MinHash-LSH, SimHash.

Design for 100 TB (the whole point of these over a pairwise loop):

* exact: one hash-shuffle on the normalized key — Spark's groupBy does
  map-side partial aggregation, so shuffled bytes ∝ distinct keys.
* n-gram Jaccard (exact): prefix filtering (All-Pairs/PPJoin) — order
  each doc's shingles by ascending global document frequency, join
  only on the first n−⌈t·n⌉+1 (rarest) tokens, verify candidates with
  exact intersection counts. Provably lossless, cost ∝ Σ df_prefix²
  over rare tokens instead of Σ df² over all postings. The brute
  self-join survives as jaccard_pairs(candidates=None) for tests.
* MinHash-LSH: signatures in one pass per document (aggregate fold,
  no Python), banding → candidates via equi-join on (band, hash) —
  work ∝ true near-duplicates, not n². Candidates are then verified
  with *exact* Jaccard, and that verification is candidate-bounded
  (join candidates→shingles, never shingles→shingles).
* SimHash: 64-bit signature via a vectorized pandas UDF, near-dup
  candidates by exact-match on 16-bit bands (Hamming ≤ 3 guarantee
  needs ≥ 4 bands), verified by popcount on the XOR.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

I64_MAX = (1 << 63) - 1

# --------------------------------------------------------------------------
# normalization / exact
# --------------------------------------------------------------------------


def normalize_text(col: Column) -> Column:
    """lower + collapse whitespace + trim (the canonical dedup key)."""
    return F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))


# the DuckDB mirror of normalize_text — ONE definition shared by every
# oracle (queries/dedup.py, queries/text.py, operators/retrieval.py) so
# the tokenizations cannot drift apart
NORM_SQL = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"


def tokenized(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(doc, words array<string>) — THE shared normalize+split pass.

    normalize_text (a regexp_replace over the full text) plus the
    split dominate every text-keying pipeline's scan cost; computing
    this relation once and persisting it lets exact dedup, shingling,
    span windows and excision all read one cached pass instead of
    re-running the regex per branch (r7 verdict task #3)."""
    return df.select(
        F.col(id_col).alias("doc"),
        F.split(normalize_text(F.col(text_col)), " ").alias("words"),
    )


def exact_dedup_groups_from_words(toks: DataFrame) -> DataFrame:
    """`exact_dedup_groups` off a (doc, words) relation: rejoining the
    words array with single spaces reproduces normalize_text exactly
    (the normalized form has no leading/trailing/duplicate spaces, and
    an empty normalization round-trips through [''] → '')."""
    return (
        toks.select("doc", F.concat_ws(" ", "words").alias("_norm"))
        .groupBy("_norm")
        .agg(
            F.min("doc").alias("rep_id"),
            F.count(F.lit(1)).alias("n_dups"),
        )
        .select("rep_id", "n_dups")
    )


def exact_dedup_groups(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """One row per distinct normalized text: representative id + count."""
    return (
        df.select(F.col(id_col), normalize_text(F.col(text_col)).alias("_norm"))
        .groupBy("_norm")
        .agg(
            F.min(id_col).alias("rep_id"),
            F.count(F.lit(1)).alias("n_dups"),
        )
        .select("rep_id", "n_dups")
    )


from ..errors import IllegalStateError
from ..util import checkpoint_adaptive as _checkpoint_adaptive
from ..util import local_frame
from ..util import persist_tracked as _persist_tracked
from ..util import release_caches as _release_caches
from ..util import spread as _spread


# --------------------------------------------------------------------------
# shingling + exact jaccard
# --------------------------------------------------------------------------


def shingle_sets_from_words(toks: DataFrame, n: int = 3) -> DataFrame:
    """`shingle_sets` off a (doc, words) relation (see `tokenized`) —
    the shape that lets one persisted tokenization feed several
    shingle consumers. A document with fewer than n words gets an
    EMPTY array (an unguarded sequence(0, size-n) descends for short
    docs and slice() then aborts the whole stage).

    Gram identity is a hash CHAIN over per-token hashes instead of a
    string: hash each token once, then fold the n token hashes with
    xxhash64 via zip_with against shifted copies of the hash array.
    Equivalent to hashing the joined string (tokens are post-split, so
    a token triple ↔ its "w1 w2 w3" string 1:1), but measured ~10×
    faster than building each gram with slice+concat_ws under a
    transform — and every downstream join/agg shuffles fixed-width
    longs instead of ~25-byte strings. False-collision probability per
    doc ≈ shingles²/2⁶⁴ ≈ 1e-13, below any oracle's resolution."""
    wh = F.transform(F.col("words"), lambda w: F.xxhash64(w))
    sz = F.size(wh)
    # chain[i] after step s covers tokens i..i+s; zip_with pads the
    # shorter (shifted) side with null, and those tail entries are cut
    # by the final slice to the n-gram count sz-(n-1)
    chain = wh
    for s in range(1, n):
        shifted = F.slice(wh, s + 1, F.greatest(sz - s, F.lit(0)))
        chain = F.zip_with(chain, shifted, lambda x, y: F.xxhash64(x, y))
    grams = F.when(sz >= n, F.slice(chain, 1, sz - (n - 1))).otherwise(
        F.array().cast("array<bigint>")
    )
    return toks.select("doc", F.array_distinct(grams).alias("sh_arr"))


def shingle_sets(df: DataFrame, text_col: str, id_col: str, n: int = 3) -> DataFrame:
    """One row per document: (doc, sh_arr array<bigint>) of distinct
    hashed word n-grams (`shingle_sets_from_words` over an inline
    tokenization — Catalyst collapses the two projections, so the
    standalone plan is unchanged)."""
    return shingle_sets_from_words(tokenized(df, text_col, id_col), n=n)


def shingles(df: DataFrame, text_col: str, id_col: str, n: int = 3) -> DataFrame:
    """(id, shingle) pairs, distinct per document (shingle = int64 hash)."""
    return shingle_sets(df, text_col, id_col, n=n).select(
        "doc", F.explode("sh_arr").alias("shingle")
    )


def shingles_from_words(toks: DataFrame, n: int = 3) -> DataFrame:
    """`shingles` off a (doc, words) relation (see `tokenized`)."""
    return shingle_sets_from_words(toks, n=n).select(
        "doc", F.explode("sh_arr").alias("shingle")
    )


def jaccard_pairs(
    sh: DataFrame, threshold: float, candidates: DataFrame | None = None
) -> DataFrame:
    """Exact Jaccard over shingle sets.

    Without candidates: full shingle self-join (verification tool).
    With candidates (a_id, b_id): candidate-bounded — intersections are
    computed by joining candidates→shingles, so cost ∝ |candidates|.
    """
    sizes = sh.groupBy("doc").agg(F.count(F.lit(1)).alias("n"))
    if candidates is None:
        a = sh.select(F.col("doc").alias("a_id"), "shingle")
        b = sh.select(F.col("doc").alias("b_id"), "shingle")
        inter = (
            a.join(b, "shingle")
            .filter(F.col("a_id") < F.col("b_id"))
            .groupBy("a_id", "b_id")
            .agg(F.count(F.lit(1)).alias("c"))
        )
    else:
        a_sh = candidates.join(
            sh.select(F.col("doc").alias("a_id"), "shingle"), "a_id"
        )
        inter = (
            a_sh.join(
                sh.select(F.col("doc").alias("b_id"), "shingle"),
                ["b_id", "shingle"],
            )
            .groupBy("a_id", "b_id")
            .agg(F.count(F.lit(1)).alias("c"))
        )
    sa = sizes.select(F.col("doc").alias("a_id"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc").alias("b_id"), F.col("n").alias("nb"))
    return (
        inter.join(sa, "a_id")
        .join(sb, "b_id")
        .select(
            "a_id",
            "b_id",
            (F.col("c").cast("double") / (F.col("na") + F.col("nb") - F.col("c"))).alias(
                "jaccard"
            ),
        )
        .filter(F.col("jaccard") >= threshold)
    )


# --------------------------------------------------------------------------
# MinHash + LSH
# --------------------------------------------------------------------------


def minhash_signatures(sets: DataFrame, num_hashes: int = 128) -> DataFrame:
    """Per-doc MinHash signature as num_hashes algebraic MIN aggregates
    over exploded (doc, shingle-hash) rows: sig[k] = min of
    xxhash64(shingle, k).

    min() is algebraic: Spark computes partial minima map-side, so
    shuffled bytes ∝ docs × num_hashes, never ∝ corpus tokens. The
    128 xxhash64 calls stay inside whole-stage codegen (measured ~3×
    faster than the tempting narrow form `array_min(transform(...))`,
    which drops every element evaluation to interpreted higher-order-
    function dispatch).

    Construction note (r15, guide §7.3 — driver-side cost IS part of
    the query's wall): the whole signature is ONE parsed SQL
    expression, not num_hashes Column objects. The Column form cost
    ~5 Py4J round-trips per hash (~500 per call site at ~0.7 ms each
    — measured 2.9 s of the dedup_incremental BUILD phase across its
    two signature sites); one `F.expr` string is two round-trips
    total. `xxhash64(shingle, k)` in SQL hashes the (shingle, int k)
    pair exactly as `F.xxhash64(col, F.lit(k))` did, and the array of
    min-aggregates lands in the aggregate's result expressions — the
    same physical HashAggregate (96 min buffers, map-side partials)
    as the old agg-then-project shape, so signatures stay
    bit-identical."""
    sh = sets.select("doc", F.explode("sh_arr").alias("shingle"))
    sig_expr = "array({})".format(
        ",".join(f"min(xxhash64(shingle, {k}))" for k in range(num_hashes))
    )
    return sh.groupBy("doc").agg(F.expr(sig_expr).alias("sig"))


def band_table(sig: DataFrame, bands: int, rows: int) -> DataFrame:
    """(doc, band, bhash) — each signature split into `bands` bands of
    `rows` hashes, each band folded to one xxhash64. This relation is
    the LSH index: in a standing corpus it is what you precompute once
    at ingest (and bucket by (band, bhash)) so later probes never
    re-shingle the corpus."""
    return sig.select(
        "doc",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.xxhash64(F.slice("sig", b * rows + 1, rows)),
            )
        ).alias("band", "bhash"),
    )


def lsh_candidates(sig: DataFrame, bands: int, rows: int) -> DataFrame:
    """Band the signature, hash each band, equi-join on (band, hash).
    This is the scale path: a shuffle on band-hash instead of n²."""
    banded = band_table(sig, bands=bands, rows=rows)
    a = banded.select(F.col("doc").alias("a_id"), "band", "bhash")
    b = banded.select(F.col("doc").alias("b_id"), "band", "bhash")
    return (
        a.join(b, ["band", "bhash"])
        .filter(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id")
        .distinct()
    )


def minhash_dedup_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.5,
    num_hashes: int = 96,
    bands: int = 24,
    shingle_n: int = 3,
) -> DataFrame:
    """Full pipeline: shingle → MinHash → LSH candidates → exact-Jaccard
    verify. With 24 bands × 4 rows, P(miss) at j=0.8 is (1-0.8⁴)²⁴ ≈ 3e-6
    per pair — measure-zero across any realistic result set — so the
    verified output equals the exact-Jaccard pair set w.h.p., which is
    what the DuckDB oracle checks. (Down from 128 hashes/32 bands: the
    signature agg is the pipeline's biggest whole-stage-codegen compile,
    and compile time scales with agg width; 25% fewer hashes ≈ 1s less
    per cold session at equal practical recall.)

    The shingle-set DataFrame is persisted: signatures, both sides of
    the verification join, and the size table all reuse one shingling
    pass instead of re-normalizing/re-splitting the corpus 3×. Docs
    with zero shingles (< n words) are dropped up front — they can't
    match anything and would otherwise share one degenerate signature
    and LSH-collide with each other."""
    _release_caches("minhash")
    sets = _persist_tracked(
        shingle_sets(_spread(df), text_col, id_col, n=shingle_n)
        .filter(F.size("sh_arr") > 0),
        scope="minhash",
    )
    sig = minhash_signatures(sets, num_hashes=num_hashes)
    cand = lsh_candidates(sig, bands=bands, rows=num_hashes // bands)
    return verify_jaccard_arrays(cand, sets, threshold)


def text_dedup_bundle(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.5,
    num_hashes: int = 96,
    bands: int = 24,
    shingle_n: int = 3,
    prefix_order: str = "hash",
    toks: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """(minhash_pairs, exact_pairs) off ONE shared shingling pass —
    algorithmically identical to `minhash_dedup_pairs` and
    `ngram_jaccard_pairs` (same params, same verify), but the corpus is
    read/normalized/shingled ONCE and the persisted shingle relation
    feeds both pipelines. At 100 TB shingling dominates both costs, so
    running the scale path and its exact verification twin together
    halves the expensive pass; used by the merged `dedup_text` catalog
    query, whose one action consumes both lazy results.

    Both branches are candidate-bounded: MinHash via LSH banding
    (probabilistic, P(miss) ≈ 3e-6 per true pair), exact via prefix +
    positional filtering (`prefix_filter_candidates` — provably
    lossless), so neither side ever pays the Σdf² full self-join, and
    both verify through the explosion-free `verify_jaccard_arrays`.

    prefix_order defaults to "hash" (array_sort + slice, zero extra
    shuffles — measured ~5× faster than "df" at sf0.1, where the
    df-rank's posting-list window sort dominates); pass "df" for
    corpora with pathological skew, where frequency-ranked prefixes
    bound the candidate join tighter (tradeoff discussion in
    `prefix_filter_candidates`).

    The two candidate sets are verified in ONE pass: union with a
    provenance tag, dedup-and-OR the tags in one groupBy, verify the
    merged relation against the shingle arrays once, split by tag.
    Candidate sets of near-dup generators overlap almost entirely (the
    LSH set w.h.p. contains every true pair; the prefix set provably
    does), so separate verifies would join ~the same pairs against the
    corpus arrays twice.

    ``toks``: an optional pre-tokenized (doc, words) relation (see
    `tokenized`) — pass the caller's persisted tokenization so the
    bundle's shingling reads it instead of re-running the normalize
    regex over the corpus (the caller owns spreading/persisting it)."""
    _release_caches("text_bundle")
    base = (
        shingle_sets_from_words(toks, n=shingle_n)
        if toks is not None
        else shingle_sets(_spread(df), text_col, id_col, n=shingle_n)
    )
    sets = _persist_tracked(
        base.filter(F.size("sh_arr") > 0),
        scope="text_bundle",
    )
    sig = minhash_signatures(sets, num_hashes=num_hashes)
    # raw band-collision pairs, NOT lsh_candidates: its trailing
    # .distinct() would shuffle the pair set once just to dedup, and
    # the provenance groupBy below dedups the same keys anyway.
    # banded is persisted because the self-join consumes it TWICE
    # (broadcast + probe side): unpersisted, each side re-runs the
    # 96-min minhash aggregation — the bundle's most expensive stage —
    # from the shingle cache (measured ~2× the signature cost per
    # dedup_text run at sf0.1). The relation is docs×bands rows of
    # three longs, the cheapest thing in the pipeline to pin.
    banded = _persist_tracked(
        band_table(sig, bands=bands, rows=num_hashes // bands),
        scope="text_bundle",
    )
    cand = (
        banded.select(F.col("doc").alias("a_id"), "band", "bhash")
        .join(banded.select(F.col("doc").alias("b_id"), "band", "bhash"), ["band", "bhash"])
        .filter(F.col("a_id") < F.col("b_id"))
    )
    ex_cand = prefix_filter_candidates(sets, threshold, order=prefix_order)
    merged = (
        cand.select("a_id", "b_id", F.lit(True).alias("_lsh"), F.lit(False).alias("_px"))
        .unionAll(
            ex_cand.select(
                "a_id", "b_id", F.lit(False).alias("_lsh"), F.lit(True).alias("_px")
            )
        )
        .groupBy("a_id", "b_id")
        .agg(F.max("_lsh").alias("_lsh"), F.max("_px").alias("_px"))
    )
    # persist: both returned branches read this one small relation
    # (~|true pairs| rows); without it the union the caller builds
    # would recompute the whole candidate DAG per branch
    verified = _persist_tracked(
        verify_jaccard_arrays(merged, sets, threshold), scope="text_bundle"
    )
    return (
        verified.filter("_lsh").select("a_id", "b_id", "jaccard"),
        verified.filter("_px").select("a_id", "b_id", "jaccard"),
    )


def incremental_minhash_pairs(
    corpus: DataFrame,
    batch: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.5,
    num_hashes: int = 96,
    bands: int = 24,
    shingle_n: int = 3,
    corpus_toks: DataFrame | None = None,
    batch_toks: DataFrame | None = None,
) -> DataFrame:
    """Near-dup pairs between an incoming BATCH and a standing CORPUS
    (new_id from batch, corpus_id from corpus, jaccard) — the
    operation a training-data pipeline runs on every ingest: "which
    of today's documents already exist (near-) verbatim in the 100 TB
    corpus?".

    Scale shape, and why this is not just `minhash_dedup_pairs` on
    the union: the corpus side touches only its LSH band table and
    (for verification) the shingle sets of MATCHED candidates. In
    production both corpus relations are precomputed at ingest —
    `band_table` bucketed by (band, bhash) and shingle sets bucketed
    by doc — so a daily probe costs shingling the batch plus one
    broadcast-hash-join per relation; nothing corpus-sized shuffles.
    Here both sides are built in-query (the testdata has no standing
    index), but the join strategy is already the probe shape: the
    batch band table is explicitly `F.broadcast` (a daily batch is
    ~1e-4 of the corpus; if it outgrows the broadcast threshold the
    hint degrades to a shuffle join on (band, bhash), which is still
    candidate-bounded).

    Candidates are verified with exact Jaccard, so output pairs equal
    the exact cross-side pair set w.h.p. (the `minhash_dedup_pairs`
    banding argument: P(miss) ≈ 3e-6 per true pair at j=0.8). The
    candidate join and verify are `_minhash_probe`, shared with
    `incremental_minhash_pairs_from_index`.

    ``corpus_toks``/``batch_toks``: optional pre-tokenized (doc,
    words) relations (see `tokenized`) so a caller-owned persisted
    tokenization replaces the per-side normalize regex."""
    _release_caches("incremental")
    c_base = (
        shingle_sets_from_words(corpus_toks, n=shingle_n)
        if corpus_toks is not None
        else shingle_sets(_spread(corpus), text_col, id_col, n=shingle_n)
    )
    b_base = (
        shingle_sets_from_words(batch_toks, n=shingle_n)
        if batch_toks is not None
        else shingle_sets(_spread(batch), text_col, id_col, n=shingle_n)
    )
    c_sets = _persist_tracked(
        c_base.filter(F.size("sh_arr") > 0), scope="incremental"
    )
    b_sets = _persist_tracked(
        b_base.filter(F.size("sh_arr") > 0), scope="incremental"
    )
    return _minhash_probe(
        F.broadcast(_band_rows(b_sets, num_hashes, bands, "new_id")),
        _band_rows(c_sets, num_hashes, bands, "corpus_id"),
        b_sets,
        c_sets,
        threshold,
    )


def _band_rows(
    sets: DataFrame, num_hashes: int, bands: int, id_name: str
) -> DataFrame:
    """(``id_name``, band, bhash): the LSH band table of (doc, sh_arr)
    shingle sets — the one banding the in-query probe, the index
    writer, the appender and the saved-index probe all apply."""
    return band_table(
        minhash_signatures(sets, num_hashes=num_hashes),
        bands,
        num_hashes // bands,
    ).select(F.col("doc").alias(id_name), "band", "bhash")


def _minhash_probe(
    b_bands: DataFrame,
    c_bands: DataFrame,
    b_sets: DataFrame,
    c_sets: DataFrame,
    threshold: float,
) -> DataFrame:
    """The batch-vs-corpus MinHash probe, written once for
    `incremental_minhash_pairs` and `incremental_minhash_pairs_from_index`:
    candidate pairs are the distinct (new_id, corpus_id) sharing a
    (band, bhash) row of ``b_bands``/``c_bands`` (`_band_rows`; the
    caller hints the batch side), verified by exact Jaccard of their
    (doc, sh_arr) shingle sets ``b_sets``/``c_sets``."""
    cand = (
        b_bands.join(c_bands, ["band", "bhash"])
        .select("new_id", "corpus_id")
        .distinct()
    )
    ca = c_sets.select(F.col("doc").alias("corpus_id"), F.col("sh_arr").alias("_cc"))
    ba = b_sets.select(F.col("doc").alias("new_id"), F.col("sh_arr").alias("_bb"))
    c = F.size(F.array_intersect("_bb", "_cc")).cast("double")
    j = c / (F.size("_bb") + F.size("_cc") - c)
    return (
        cand.join(ba, "new_id")
        .join(ca, "corpus_id")
        .select("new_id", "corpus_id", j.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


# Each persisted family's bucketed tables, declared once as the
# (suffix, bucket key, purge id) triples its write, append and compact
# all take (`bucketing.staged_rewrite`, `staged_append`,
# `compact_index_tables`); the reasons for each key sit in the
# family's write docstring.
MINHASH_TABLES = [
    ("bands", ["band", "bhash"], "corpus_id"),
    ("shingles", "doc", "doc"),
]
HAMMING_TABLES = [("hbands", ["band", "bval"], "doc")]
LABELS_TABLES = [("labels", "node", "node")]
# an edge dies when EITHER endpoint is tombstoned
LEDGER_TABLES = [("edges", "a_id", ["a_id", "b_id"])]


def write_minhash_index(
    corpus: DataFrame,
    text_col: str,
    id_col: str,
    base_name: str,
    num_hashes: int = 96,
    bands: int = 24,
    shingle_n: int = 3,
    buckets: int = 8,
) -> None:
    """Materialize the standing corpus's LSH index ON DISK — the
    daily-ingest shape `incremental_minhash_pairs` documents: at 100 TB
    the corpus bands/shingles are computed ONCE at ingest, and every
    subsequent batch probe reads them back without recomputing (or
    re-shuffling) anything corpus-sized.

    Writes three catalog tables:

    * ``{base}_bands`` (corpus_id, band, bhash) — bucketed AND
      bucket-sorted on (band, bhash), so a non-broadcast probe join on
      exactly those keys reads the corpus side zero-Exchange, zero-Sort
      (bucket i of the batch's shuffle meets bucket i of the table,
      task-local; plan-asserted in tests/test_dedup.py).
    * ``{base}_shingles`` (doc, sh_arr) — bucketed on doc: the verify
      join shuffles only the candidate pairs (∝ matches) while the
      corpus shingle arrays stay put.
    * ``{base}_meta`` — one row pinning (num_hashes, bands, shingle_n).
      The probe takes its banding parameters FROM this table (never
      from the caller), so batch and index banding cannot drift apart
      — band hashes are only comparable under identical banding.

    The write is staged crash-safe through `bucketing.staged_rewrite`
    (a crash leaves the old index intact, tombstones included, or fails
    loudly — never a silent mix). See `bucketing.add_tombstones` for
    the deletion / reingest lifecycle."""
    from ..bucketing import staged_rewrite

    spark = corpus.sparkSession
    sets = shingle_sets(_spread(corpus), text_col, id_col, n=shingle_n).filter(
        F.size("sh_arr") > 0
    )
    sets = _persist_tracked(sets, scope="minhash_index_write")
    staged_rewrite(
        spark, base_name, MINHASH_TABLES,
        [_band_rows(sets, num_hashes, bands, "corpus_id"), sets],
        lambda g: local_frame(
            spark, [(num_hashes, bands, shingle_n)],
            "num_hashes int, bands int, shingle_n int",
        ),
        buckets,
    )
    _release_caches("minhash_index_write")


def append_to_minhash_index(
    batch: DataFrame,
    text_col: str,
    id_col: str,
    base_name: str,
    reingest: bool = False,
) -> None:
    """Absorb an ingested batch INTO the standing LSH index (r11, r10
    verdict task #2) — closes the "probe daily, rewrite weekly" gap:
    before this, absorbing a day's documents meant re-shingling and
    re-hashing the ENTIRE corpus (`write_minhash_index` is
    overwrite-only), which at 100 TB is the whole ingest cost again.

    The batch is shingled and banded under the banding parameters
    PINNED in ``{base}_meta`` — never caller arguments, so an appended
    batch can never be banded differently from the standing rows —
    and appended into the bucketed ``{base}_bands`` /
    ``{base}_shingles`` tables preserving their bucket layout
    (`bucketing.staged_append`; the bucket count is
    read from the table's own catalog metadata). MinHash permutations
    are deterministic functions of num_hashes, so the appended rows
    are byte-identical to what a full rewrite over corpus ∪ batch
    would produce — probe parity is exact, not probabilistic
    (pinned in tests/test_index_append.py, together with the
    preserved zero-Exchange corpus read and an AST assertion that
    this function touches no corpus-sized relation: its only
    spark.table read is the one-row meta).

    Append cost ∝ batch: shingle + hash the new documents, one
    bucketed write per table. Nothing corpus-sized is read, shuffled,
    or rewritten. Plain append is INSERT: re-appending an
    already-indexed doc_id duplicates its rows. ``reingest=True``
    (r12, r11 verdict task #2) is the UPSERT path for re-crawled
    documents: the batch is appended, then its ids are tombstoned one
    generation below it (`bucketing.staged_append`) — probes
    immediately see only the new signatures, and the dead rows are
    physically purged at the next `compact_minhash_index`.
    Deletions without replacement go through
    `bucketing.add_tombstones` directly — and a reingest batch must be
    fully indexable: a re-crawled doc whose new text yields ZERO
    shingles raises BEFORE anything is written (ADVICE r12: tombstoning
    it with no replacement rows would be exactly the silent delete the
    append-then-tombstone ordering exists to prevent; explicitly delete
    such docs via `add_tombstones` if that is the intent). After many
    appends, restore the one-file-per-bucket sort guarantee with
    `compact_minhash_index` (rows moved, never re-shingled)."""
    from ..bucketing import staged_append

    spark = batch.sparkSession

    def rows(base_name):
        meta = spark.table(f"{base_name}_meta").collect()[0]
        sets = shingle_sets(
            _spread(batch), text_col, id_col, n=meta.shingle_n
        ).filter(F.size("sh_arr") > 0)
        sets = _persist_tracked(sets, scope="minhash_index_append")
        if reingest:
            # intake guard BEFORE any write (cost ∝ batch, bounded
            # probe): every batch id must have produced shingle rows,
            # or the reingest tombstone would silently delete it with
            # no replacement
            unusable = (
                batch.select(F.col(id_col).alias("doc"))
                .distinct()
                .join(sets.select("doc"), "doc", "left_anti")
                .take(4)
            )
            if unusable:
                _release_caches("minhash_index_append")
                raise ValueError(
                    "reingest batch contains docs whose text yields no "
                    f"shingles (e.g. {[r.doc for r in unusable]}): refusing "
                    "a silent delete — pre-filter them, or delete "
                    "explicitly via bucketing.add_tombstones"
                )
        return [
            _band_rows(sets, meta.num_hashes, meta.bands, "corpus_id"),
            sets,
        ]

    staged_append(
        spark, base_name, MINHASH_TABLES, rows,
        reingest=(batch, id_col) if reingest else None,
    )
    _release_caches("minhash_index_append")


def incremental_minhash_pairs_from_index(
    spark,
    batch: DataFrame,
    text_col: str,
    id_col: str,
    base_name: str,
    threshold: float = 0.5,
    broadcast_batch: bool = True,
) -> DataFrame:
    """`incremental_minhash_pairs` against a SAVED index
    (`write_minhash_index`): only the batch is shingled/hashed
    in-query; the corpus band and shingle relations stream from the
    bucketed tables. Banding parameters come from the index's meta
    table, so results are identical to the in-query operator on the
    same split (parity-asserted in tests/test_dedup.py).

    With ``broadcast_batch`` (the daily-ingest default) the probe is a
    broadcast-hash join into the band table — the corpus side never
    leaves its scan. When the batch outgrows the broadcast budget,
    pass False: the batch shuffles INTO the table's (band, bhash)
    bucketing while the corpus side still reads zero-Exchange — the
    layout the index was written for. The probe itself is
    `_minhash_probe`, the in-query operator's body."""
    from ..bucketing import filter_tombstoned, resolve_index_base

    base_name = resolve_index_base(spark, base_name)
    meta = spark.table(f"{base_name}_meta").collect()[0]
    _release_caches("incremental_idx")
    b_sets = _persist_tracked(
        shingle_sets(_spread(batch), text_col, id_col, n=meta.shingle_n)
        .filter(F.size("sh_arr") > 0),
        scope="incremental_idx",
    )
    b_bands = _band_rows(b_sets, meta.num_hashes, meta.bands, "new_id")
    # deleted/reingested ids drop out map-side (broadcast anti-join on
    # the deletion-sized tombstone table — the corpus never shuffles)
    c_bands = filter_tombstoned(
        spark, base_name, spark.table(f"{base_name}_bands"), "corpus_id"
    )
    c_sets = filter_tombstoned(
        spark, base_name, spark.table(f"{base_name}_shingles"), "doc"
    )
    return _minhash_probe(
        F.broadcast(b_bands) if broadcast_batch else b_bands,
        c_bands,
        b_sets,
        c_sets,
        threshold,
    )


def compact_minhash_index(spark, base_name: str) -> None:
    """Compact both LSH index tables to one file per bucket AND
    physically purge tombstoned rows (r12), then clear the tombstone
    table — after this, probes pay zero anti-join overhead again.
    Both rewrites are the zero-shuffle task-local bucket rewrite of
    `bucketing.compact_bucketed_table`; the purge rides them as a
    broadcast map-side filter."""
    from ..bucketing import compact_index_tables, resolve_index_base

    compact_index_tables(
        spark, resolve_index_base(spark, base_name), MINHASH_TABLES
    )


def repeated_spans(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 8,
    min_docs: int = 2,
    toks: DataFrame | None = None,
) -> DataFrame:
    """Passage-level dedup: every position where an n-token window of
    one document reappears in ANOTHER document — the 'remove repeated
    substrings across the corpus' operator of Lee et al.'s training-
    data dedup (token-window rolling hashes as the scalable stand-in
    for the suffix array; window hits = repeated passages to cut).

    Returns (doc_id, pos, n_docs): 1-based token position of each
    window shared by >= min_docs distinct documents, with the sharing
    count as severity.

    Scale shape: the window hashes are the dedup family's int64
    chains, positions ride a posexplode (corpus tokens × 1 rows);
    the repeat test is one partial-agg groupBy on the hash (shuffle ∝
    distinct windows) and a semi-join back — no pairwise join, no
    quadratic term, unlike doc-level Jaccard this never compares
    documents to each other."""
    if n & (n - 1):
        raise ValueError(f"repeated_spans: n must be a power of two, got {n}")
    # ``toks``: optional shared (doc, words) tokenization (see
    # `tokenized`) so one persisted normalize+split pass feeds the
    # span census alongside the other dedup branches
    if toks is not None:
        src, id_expr, words = toks, F.col("doc"), F.col("words")
    else:
        src, id_expr = df, F.col(id_col)
        words = F.split(normalize_text(F.col(text_col)), " ")
    wh = F.transform(words, lambda w: F.xxhash64(w))
    sz = F.size(wh)
    # DOUBLING hash composition: combine the chain with itself shifted
    # by its current span — log2(n) zip_with passes instead of n-1.
    # The gram identity stays an injective-w.h.p. function of the n
    # tokens; nothing shares it (the Jaccard family keeps its own
    # sequential 3-chains), and the oracle certifies positions from
    # gram STRINGS, so only the function's injectivity matters.
    chain = wh
    span = 1
    while span < n:
        shifted = F.slice(chain, span + 1, F.greatest(sz - span, F.lit(0)))
        chain = F.zip_with(chain, shifted, lambda x, y: F.xxhash64(x, y))
        span *= 2
    grams = F.when(sz >= n, F.slice(chain, 1, sz - (n - 1))).otherwise(
        F.array().cast("array<bigint>")
    )
    _release_caches("spans")
    win = _persist_tracked(
        src.select(
            id_expr.alias("doc_id"), F.posexplode(grams).alias("pos0", "h")
        ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "h"),
        scope="spans",
    )  # both the repeat census and the join-back read it: scan once
    shared = (
        # count_distinct = ONE exchange (map-side partial distinct),
        # vs distinct + groupBy which shuffles twice on different keys
        win.groupBy("h")
        .agg(F.count_distinct("doc_id").alias("n_docs"))
        .filter(F.col("n_docs") >= min_docs)
    )
    return win.join(shared, "h").select("doc_id", "pos", "n_docs")


def decontaminate(
    train: DataFrame,
    eval_df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 5,
    min_overlap: int = 1,
    train_toks: DataFrame | None = None,
    eval_toks: DataFrame | None = None,
) -> DataFrame:
    """Benchmark decontamination: which TRAIN documents share at least
    ``min_overlap`` word n-grams with any EVAL/benchmark document —
    the contamination check a pipeline runs before training so test
    sets don't leak into the corpus (the n-gram-overlap method used by
    public LM training reports; long n-grams ≈ verbatim leakage).

    Returns (train_id, eval_id, n_shared) — one row per contaminated
    (train doc, benchmark doc) pair with the count of shared distinct
    n-grams, so callers can drop or audit by severity.

    Scale shape: the benchmark side is tiny (thousands of eval docs vs
    a 100 TB corpus), so its exploded shingles are broadcast; the
    corpus is shingled in place and NEVER shuffles — cost is one
    corpus scan + a broadcast-hash-join + a partial-agg count keyed on
    (train, eval). Shingles are the same int64 hash chains as the
    dedup family (fixed-width probes, not ~40-byte gram strings).

    ``train_toks``/``eval_toks``: optional pre-tokenized (doc, words)
    relations (see `tokenized`)."""
    t_sh = (
        shingles_from_words(train_toks, n=n)
        if train_toks is not None
        else shingles(_spread(train), text_col, id_col, n=n)
    ).withColumnRenamed("doc", "train_id")
    e_sh = (
        shingles_from_words(eval_toks, n=n)
        if eval_toks is not None
        else shingles(eval_df, text_col, id_col, n=n)
    ).withColumnRenamed("doc", "eval_id")
    return (
        t_sh.join(F.broadcast(e_sh), "shingle")
        .groupBy("train_id", "eval_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_overlap)
    )


def prefix_filter_candidates(
    sets: DataFrame, threshold: float, order: str = "hash"
) -> DataFrame:
    """EXACT candidate pairs (a_id, b_id) for Jaccard >= threshold via
    prefix + positional + size filtering (the All-Pairs / PPJoin
    family: Bayardo et al., "Scaling Up All Pairs Similarity Search",
    WWW 2007; Xiao et al., "Efficient Similarity Joins for Near
    Duplicate Detection", WWW 2008 — public literature). Input is the
    shingle-set relation (doc, sh_arr).

    Prefix filter: J(a,b) >= t implies overlap c >= t·max(|a|,|b|), so
    under ANY global total order on tokens, a and b must share a token
    among each one's first p_s = n_s − ⌈t·n_s⌉ + 1 tokens (pigeonhole:
    were all c common tokens outside the prefix, there would be at
    most n_s − p_s = ⌈t·n_s⌉ − 1 < c of them). The equi-join therefore
    runs on prefix tokens only — candidate-bounded, never the full
    Σdf² self-join.

    Positional filter (PPJoin): for a pair's FIRST matching token at
    prefix positions (i, j), tokens before those positions are
    pairwise disjoint (an earlier common token would be an earlier
    match — both docs list tokens in the same global order), so
    overlap <= 1 + min(na−i, nb−j); pairs whose bound misses the
    Jaccard-required overlap ⌈t/(1+t)·(na+nb)⌉ are dropped before
    verification. Implemented as min(i)/min(j) aggregates in the same
    groupBy that dedups candidate pairs — pruning at zero extra
    shuffle vs a plain distinct.

    Size filter: min(na, nb) >= t·max(na, nb), the same necessary
    condition, applied inside the join.

    order="hash" (default): tokens are ranked by their (uniform) hash
    value — prefixes come from array_sort + slice on sh_arr, pure
    whole-stage codegen with ZERO extra shuffles. Pruning is
    frequency-blind, but hashed word n-grams (n ≥ 3) have mild df
    skew in natural text, so candidates stay near the df-ordered
    count (sf0.1: 210k vs 125k) at a fraction of the cost (~5×
    faster end-to-end — the df path's posting-list window sort
    dominates). order="df": tokens are ranked by ascending global
    document frequency, so prefixes hold the RAREST tokens and a
    high-df stopword shingle can never enter prefixes and
    quadratically explode the candidate join — the safe choice for
    corpora with pathological shingle skew (boilerplate-heavy crawls,
    tiny n). Costs one map-side-combined df aggregate, one sh↔df
    equi-join, and one per-doc window sort.

    Float safety leans conservative everywhere (1e-6 slack on every
    ⌈·⌉ and filter): rounding can only LENGTHEN a prefix or KEEP a
    borderline candidate, never drop a true pair; extra candidates are
    harmless because verification is exact. Tests prove equality with
    the brute self-join at two thresholds; the driver's DuckDB oracle
    (a full self-join) re-proves it per round."""
    if order == "hash":
        sz = F.size("sh_arr")
        plen = sz - F.ceil(sz * threshold - 1e-6) + 1
        prefix = sets.select(
            "doc",
            sz.alias("n"),
            F.posexplode(F.slice(F.array_sort("sh_arr"), 1, plen)).alias(
                "_p0", "shingle"
            ),
        ).select("doc", "shingle", (F.col("_p0") + 1).alias("_pos"), "n")
    elif order == "df":
        from pyspark.sql import Window

        sh = sets.select("doc", F.explode("sh_arr").alias("shingle"))
        tok_df = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("_df"))
        w = Window.partitionBy("doc").orderBy("_df", "shingle")
        prefix = (
            sh.join(tok_df, "shingle")
            .select("doc", "shingle", F.row_number().over(w).alias("_pos"))
            .join(sets.select("doc", F.size("sh_arr").alias("n")), "doc")
            .filter(
                F.col("_pos")
                <= F.col("n") - F.ceil(F.col("n") * threshold - 1e-6) + 1
            )
        )
    else:
        raise ValueError(f"order must be 'df' or 'hash', got {order!r}")

    a = prefix.select(
        F.col("doc").alias("a_id"),
        "shingle",
        F.col("_pos").alias("ia"),
        F.col("n").alias("na"),
    )
    b = prefix.select(
        F.col("doc").alias("b_id"),
        "shingle",
        F.col("_pos").alias("ib"),
        F.col("n").alias("nb"),
    )
    alpha = F.ceil(
        (F.col("na") + F.col("nb")) * (threshold / (1.0 + threshold)) - 1e-6
    )
    return (
        a.join(b, "shingle")
        .filter(
            (F.col("a_id") < F.col("b_id"))
            & (F.col("na") >= F.col("nb") * threshold - 1e-6)
            & (F.col("nb") >= F.col("na") * threshold - 1e-6)
        )
        .groupBy("a_id", "b_id")
        .agg(
            F.min("ia").alias("i0"),
            F.min("ib").alias("j0"),
            F.first("na").alias("na"),
            F.first("nb").alias("nb"),
        )
        .filter(
            1 + F.least(F.col("na") - F.col("i0"), F.col("nb") - F.col("j0"))
            >= alpha
        )
        .select("a_id", "b_id")
    )


def verify_jaccard_arrays(
    cand: DataFrame, sets: DataFrame, threshold: float
) -> DataFrame:
    """Exact-Jaccard verification of candidate pairs against the
    shingle-set arrays: two equi-joins candidates↔sets, then
    array_intersect in whole-stage codegen. Cost ∝ |candidates| ×
    avg set size with NO intermediate row explosion — the exploded
    alternative (candidates→shingles→shingles + groupBy count)
    materializes |candidates| × |doc shingles| rows first, measured
    4× slower at sf0.1. sh_arr is array_distinct by construction, so
    sizes and intersection counts equal the set-semantics values the
    oracle computes.

    Any extra columns on `cand` beyond (a_id, b_id) ride through
    unchanged — `text_dedup_bundle` uses this to verify the union of
    two candidate generators once, with per-generator provenance
    flags."""
    sa = sets.select(F.col("doc").alias("a_id"), F.col("sh_arr").alias("_aa"))
    sb = sets.select(F.col("doc").alias("b_id"), F.col("sh_arr").alias("_bb"))
    c = F.size(F.array_intersect("_aa", "_bb")).cast("double")
    j = c / (F.size("_aa") + F.size("_bb") - c)
    extra = [n for n in cand.columns if n not in ("a_id", "b_id")]
    return (
        cand.join(sa, "a_id")
        .join(sb, "b_id")
        .select("a_id", "b_id", j.alias("jaccard"), *extra)
        .filter(F.col("jaccard") >= threshold)
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.5,
    shingle_n: int = 3,
    prefix_filter: bool = True,
) -> DataFrame:
    """Exact n-gram Jaccard pairs. With prefix_filter=True (default)
    candidates come from `prefix_filter_candidates` and are verified
    by `verify_jaccard_arrays` — provably the same result set as the
    full self-join, but candidate-bounded (rare prefix tokens only).
    prefix_filter=False keeps the brute Σdf² self-join as the
    verification twin for tests."""
    _release_caches("ngram")
    sets = _persist_tracked(
        shingle_sets(_spread(df), text_col, id_col, n=shingle_n)
        .filter(F.size("sh_arr") > 0),
        scope="ngram",
    )
    if not prefix_filter:
        sh = sets.select("doc", F.explode("sh_arr").alias("shingle"))
        return jaccard_pairs(sh, threshold)
    cand = prefix_filter_candidates(sets, threshold)
    return verify_jaccard_arrays(cand, sets, threshold)


# --------------------------------------------------------------------------
# SimHash
# --------------------------------------------------------------------------


def _simhash_votes_ref(hs_per_text) -> list[int]:
    """Kept per-text uint64 vote kernel — the original shape: unpack
    each text's token hashes to an (n_tok, 64) bit matrix with uint64
    shifts, column-sum, repack with uint64 shifts. Reference for the
    batched kernel's equality + comparative-throughput checks (the
    test_cdc.py pattern) — do not optimize this one."""
    import numpy as np

    shifts = np.arange(64, dtype=np.uint64)
    out = []
    for hs in hs_per_text:
        if not len(hs):
            out.append(0)
            continue
        bits = (hs[:, None] >> shifts) & np.uint64(1)  # (n_tok, 64)
        votes = 2 * bits.sum(axis=0, dtype=np.int64) - len(hs)
        v = int(((votes > 0).astype(np.uint64) << shifts).sum())
        out.append(v - (1 << 64) if v >= (1 << 63) else v)
    return out


def _simhash64_batch_ref(texts) -> list[int]:
    """Kept end-to-end scalar reference (original `simhash64_udf`
    body): Python-semantics tokenize + memoized blake2b + the per-text
    uint64 vote kernel. Pinned signature source for the equality
    checks in tests/test_dedup.py — do not optimize this one."""
    import hashlib

    import numpy as np

    memo: dict[str, int] = {}

    def tok_hash(tok: str) -> int:
        h = memo.get(tok)
        if h is None:
            h = int.from_bytes(
                hashlib.blake2b(tok.encode(), digest_size=8).digest(), "big"
            )
            memo[tok] = h
        return h

    hs_per_text = [
        np.fromiter(
            (tok_hash(tok) for tok in (t or "").lower().split()),
            dtype=np.uint64,
        )
        for t in texts
    ]
    return _simhash_votes_ref(hs_per_text)


#: per-text token-count ceiling for the float32 vote paths: every
#: intermediate (counts, partial dot sums) is an integer ≤ the text's
#: token count, exact in float32 below 2^24 — kept one bit conservative
_FLOAT32_SAFE_TOKENS = 1 << 23

#: T·V ceiling for the dense per-vocab count matrix (float32 C is
#: 4·T·V bytes, ~200 MB at this cap); past it the byte-histogram form
#: (memory ∝ T·2048, vocabulary-independent) takes over
_DENSE_COUNTS_MAX = 50_000_000

#: entry ceiling for ONE np.bincount slab on the dense path. bincount
#: returns int64, so an unsliced T·V bincount would transiently hold
#: 8·T·V bytes (~400 MB at the cap — twice the documented C budget,
#: per concurrent Arrow batch; ADVICE r10). Slabbing over text-major
#: contiguous ranges bounds the int64 intermediate to 64 MB per batch
#: while keeping the counting fully vectorized (same total bincount
#: work: Σ tokens + T·V minlength zeroing). A single text's slab is
#: V entries wide, so the bound is only real when V fits a slab —
#: batches with a wider vocabulary route to the byte-histogram path,
#: whose memory is vocabulary-independent (r11 self-review: before
#: this gate, T=1 with V near _DENSE_COUNTS_MAX still paid 8·V).
_DENSE_BINCOUNT_SLAB = 8_000_000

#: slab TARGET for the dense-path loop (r14 opt): each bincount call
#: allocates-and-zeroes a fresh int64 buffer of the slab's element
#: count, and past glibc's mmap threshold that buffer is mmap'd and
#: page-faulted anew per call — measured 2-3× of the whole kernel's
#: wall on the throughput-floor shape. 250k elements (2 MB) keeps the
#: per-call buffer heap-recycled and cache-resident; the ceiling above
#: stays the ROUTING bound (a single text's slab is V wide, so the
#: worst-case intermediate for huge vocabularies is unchanged).
_DENSE_SLAB_TARGET = 250_000


def _simhash_votes(codes, lens, hs) -> "np.ndarray":
    """Batched majority-vote kernel (r10, r9 verdict task #7): all
    texts' votes in C-implemented bit/byte ops and ONE float32 BLAS
    matmul — no per-text Python loop, no wide-integer numpy hot path.

    Input: ``codes`` (flat distinct-token indices over the whole
    batch, text-major), ``lens`` (tokens per text), ``hs`` (uint64
    blake2b per distinct token). Output: packed int64 signature per
    text (0 for empty texts).

    Why this shape: on this numpy build every ≥32-bit integer path is
    scalar, not SIMD (the CDC finding — uint64 element ops ~40× slower
    than uint16; measured here too: np.add.reduceat 55 ms and
    np.cumsum 310 ms for the same 11M-element segment sum this path
    does in ~5 ms). So:

    1. distinct hashes → (V, 64) 0/1 table via np.unpackbits;
    2. per-text vote sums = token-count matrix (T, V) from text-major
       slab bincounts (int64 intermediate ≤ _DENSE_BINCOUNT_SLAB
       entries, never 8·T·V) @ bit table — exact in float32 because
       every intermediate is an integer ≤ the text's token count
       < 2^24;
    3. majority signs → np.packbits → int64 view.

    When T·V outgrows a dense count matrix, the same matmul runs on
    per-BYTE-value histograms instead — (T, 8, 256) counts against the
    (256, 8) byte→bits table — whose size is vocabulary-independent
    (T·2048). Pathological texts (≥2^23 tokens) fall back to the
    per-text reference for exactness.

    Bit-identical to `_simhash_votes_ref` (equality- and
    throughput-pinned in tests/test_dedup.py, the test_cdc.py
    pattern; measured ~10× on the vote stage, ~1.5-2× end-to-end
    where Python tokenization dominates): bit b of the result is the
    majority vote of bit b = (h >> b) & 1 over the text's
    token-MULTISET (duplicates vote repeatedly)."""
    import numpy as np

    out = np.zeros(len(lens), dtype=np.int64)
    total = int(lens.sum())
    if total == 0:
        return out
    if int(lens.max()) >= _FLOAT32_SAFE_TOKENS:
        # float32 vote sums stop being integer-exact past 2^24/2;
        # an 8M-token text is not worth a third code path
        bounds = np.cumsum(lens)[:-1]
        return np.array(
            _simhash_votes_ref(np.split(hs[codes], bounds)), dtype=np.int64
        )
    V = len(hs)
    nonempty = np.nonzero(lens)[0]
    T = len(nonempty)
    text_ids = np.repeat(np.arange(T, dtype=np.int64), lens[nonempty])
    if T * V <= _DENSE_COUNTS_MAX and V <= _DENSE_BINCOUNT_SLAB:
        # (V, 64) bit table; with bitorder='little' over the uint8
        # view, unpack→vote→pack applies the same bit permutation on
        # both ends, so the result is endianness-invariant. Built ONLY
        # on this branch: the byte-histogram path exists for huge
        # vocabularies, where a 320·V-byte table would itself defeat
        # that path's vocabulary-independent memory bound
        table = np.unpackbits(
            hs[:, None].view(np.uint8), axis=1, bitorder="little"
        ).astype(np.float32)
        # count matrix built slab-by-slab: codes are text-major, so
        # each text range is contiguous and one bincount fills a
        # contiguous row block of C — the int64 bincount intermediate
        # stays ≤ _DENSE_BINCOUNT_SLAB entries instead of T·V
        C = np.empty((T, V), dtype=np.float32)
        slab_t = max(1, _DENSE_SLAB_TARGET // V)
        tok_bounds = np.concatenate(
            ([0], np.cumsum(lens[nonempty], dtype=np.int64))
        )
        for t0 in range(0, T, slab_t):
            t1 = min(t0 + slab_t, T)
            s, e = tok_bounds[t0], tok_bounds[t1]
            # copyto with an unsafe cast converts int64→float32 while
            # STORING into the preallocated C block: one pass, zero
            # extra allocation (r14 opt — the bincount→astype→assign
            # chain allocated and traversed two more slab-sized
            # buffers per call, measured ~2× of this loop's wall)
            np.copyto(
                C[t0:t1].reshape(-1),
                np.bincount(
                    (text_ids[s:e] - t0) * V + codes[s:e],
                    minlength=(t1 - t0) * V,
                ),
                casting="unsafe",
            )
        sums = C @ table
    else:
        # byte-histogram form: counts of (text, byte-pos, byte-value)
        # matmul'd against the byte→bits table; memory ∝ T·2048 only
        hb = hs[codes].view(np.uint8).reshape(-1, 8)
        base = (text_ids * 8)[:, None] + np.arange(8, dtype=np.int64)
        idx = ((base << 8) + hb).ravel()
        cnt = (
            np.bincount(idx, minlength=T * 2048)
            .astype(np.float32)
            .reshape(T, 8, 256)
        )
        bits256 = np.unpackbits(
            np.arange(256, dtype=np.uint8)[:, None], axis=1,
            bitorder="little",
        ).astype(np.float32)
        sums = np.einsum("tpv,vk->tpk", cnt, bits256).reshape(T, 64)
    n_col = lens[nonempty, None].astype(np.float32)
    # majority: 2·sum > n, written subtraction-free in the exact range
    signs = sums > (n_col - sums)
    packed = np.packbits(signs, axis=1, bitorder="little")  # (T, 8)
    out[nonempty] = packed.view(np.int64).ravel()
    return out


def _simhash64_batch(texts) -> "np.ndarray":
    """Tokenize (Python semantics, byte-identical to the original
    UDF: .lower().split()) + blake2b per DISTINCT token, then the
    batched vote kernel. Equality-pinned end-to-end against
    `_simhash64_batch_ref`."""
    import hashlib

    import numpy as np

    tok_lists = [(t or "").lower().split() for t in texts]
    lens = np.array([len(ts) for ts in tok_lists], dtype=np.int64)
    total = int(lens.sum())
    if total == 0:
        return np.zeros(len(tok_lists), dtype=np.int64)
    vocab: dict[str, int] = {}
    sd = vocab.setdefault
    codes = np.fromiter(
        (sd(tok, len(vocab)) for ts in tok_lists for tok in ts),
        dtype=np.int64,
        count=total,
    )
    hs = np.fromiter(
        (
            int.from_bytes(
                hashlib.blake2b(tok.encode(), digest_size=8).digest(), "big"
            )
            for tok in vocab
        ),
        dtype=np.uint64,
        count=len(vocab),
    )
    return _simhash_votes(codes, lens, hs)


@F.pandas_udf(T.LongType())
def simhash64_udf(texts: pd.Series) -> pd.Series:
    """64-bit SimHash over word tokens (vectorized per Arrow batch).

    Bit-twiddling over variable-length token lists is the rare case
    where a pandas UDF beats 64 fold expressions; the hash itself is
    Python's blake2b (stable, seedless) so results are deterministic
    across workers and runs. Kernel: `_simhash64_batch` — one
    batch-level vote pass through np.bincount + a float32 BLAS matmul
    (this numpy build's reduceat/cumsum integer reductions are scalar,
    see `_simhash_votes`) — equality- and throughput-pinned against
    `_simhash64_batch_ref`/`_simhash_votes_ref`.
    """
    return pd.Series(_simhash64_batch(texts), dtype="int64")


def _banded_sig(sig: DataFrame, bands: int) -> DataFrame:
    """(doc, sig, band, bval): each 64-bit signature exploded into its
    `bands` equal slices. ONE implementation shared by the in-query
    pair join, the persisted index writer, and the index appender —
    banding of standing and appended/probed rows can never drift."""
    width = 64 // bands
    mask = (1 << width) - 1
    return sig.select(
        "doc",
        "sig",
        F.posexplode(
            F.array(
                *[
                    F.shiftrightunsigned("sig", b * width).bitwiseAND(F.lit(mask))
                    for b in range(bands)
                ]
            )
        ).alias("band", "bval"),
    )


def _check_hamming_params(max_hamming: int, bands: int) -> None:
    if 64 % bands:
        raise ValueError(f"bands must divide 64, got {bands}")
    if max_hamming > bands - 1:
        raise ValueError(
            f"radius {max_hamming} exceeds the pigeonhole guarantee of "
            f"{bands} bands (max {bands - 1}); raise `bands`"
        )


def hamming_near_pairs(
    sig: DataFrame, max_hamming: int = 3, bands: int = 4
) -> DataFrame:
    """Near-dup pairs among 64-bit signatures by banding: split into
    `bands` equal bands — any pair within Hamming distance bands-1
    shares at least one exact band (pigeonhole) — then verify with
    popcount. Input is a (doc, sig) relation of any 64-bit signature
    (SimHash, or the perceptual `imagehash.dhash64`). Candidate work ∝
    band collisions, never n² — narrower bands widen the guaranteed
    radius but collide more (2^-width random-pair rate per band), the
    standard multi-index-hashing tradeoff. The scan is
    `_hamming_self_pairs`, shared with `hamming_near_pairs_from_index`."""
    _check_hamming_params(max_hamming, bands)
    return _hamming_self_pairs(_banded_sig(sig, bands), max_hamming)


def _hamming_self_pairs(banded: DataFrame, max_hamming: int) -> DataFrame:
    """The corpus-vs-self Hamming pair scan over (doc, sig, band, bval)
    rows (`_banded_sig`'s shape), written once for `hamming_near_pairs`
    and `hamming_near_pairs_from_index`: a (band, bval) self-join, each
    pair once (a_id < b_id), popcount-verified, then distinct."""
    a = banded.select(
        F.col("doc").alias("a_id"), F.col("sig").alias("a_sig"), "band", "bval"
    )
    b = banded.select(
        F.col("doc").alias("b_id"), F.col("sig").alias("b_sig"), "band", "bval"
    )
    # popcount-verify BEFORE the pair-level distinct (r11 verdict):
    # hamming is a function of (a_id, b_id), so deduping after the
    # verify is equivalent — and the distinct's shuffle then carries
    # (id, id, tinyint) instead of (id, id, sig, sig), with
    # non-qualifying collisions dropped map-side instead of shuffled
    return (
        a.join(b, ["band", "bval"])
        .filter(F.col("a_id") < F.col("b_id"))
        .withColumn(
            "hamming", F.bit_count(F.col("a_sig").bitwiseXOR(F.col("b_sig")))
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("a_id", "b_id", "hamming")
        .distinct()
    )


def simhash_near_pairs(
    df: DataFrame, text_col: str, id_col: str, max_hamming: int = 3
) -> DataFrame:
    """Text near-dup pairs by SimHash banding (see hamming_near_pairs)."""
    sig = _spread(df).select(
        F.col(id_col).alias("doc"), simhash64_udf(F.col(text_col)).alias("sig")
    )
    return hamming_near_pairs(sig, max_hamming=max_hamming)


def write_hamming_index(
    sig: DataFrame, base_name: str, bands: int = 4, buckets: int = 8
) -> None:
    """Materialize a standing Hamming-band index ON DISK (r11, r10
    verdict task #5) — the `write_minhash_index` pattern for the
    third and last dedup family: 64-bit signatures (SimHash text,
    dHash images — any (doc, sig) relation) banded ONCE at ingest.
    Before this, `hamming_near_pairs` re-exploded every signature
    into its bands on every call — cheap per row, but at 100 TB it is
    still a full-corpus scan + shuffle per nightly dedup run.

    Writes two catalog tables:

    * ``{base}_hbands`` (doc, sig, band, bval) — bucketed AND
      bucket-sorted on (band, bval). The signature rides in the row,
      so the popcount verify needs NO second join. The corpus-vs-self
      pair scan (`hamming_near_pairs_from_index`) self-joins this
      table — BOTH sides read the same bucketing, so the candidate
      join runs with ZERO Exchange (plan-asserted in
      tests/test_index_append.py); a batch probe
      (`hamming_probe_from_index`) broadcasts or shuffles INTO the
      layout while the corpus side never moves.
    * ``{base}_meta`` — one row pinning ``bands``. Probes and appends
      take the banding FROM this table (never from the caller):
      band values are only comparable under identical banding.

    Rows carry a generation stamp; the write is staged crash-safe
    through `bucketing.staged_rewrite`. See `bucketing.add_tombstones`
    (r12)."""
    from ..bucketing import staged_rewrite

    _check_hamming_params(0, bands)
    spark = sig.sparkSession
    staged_rewrite(
        spark, base_name, HAMMING_TABLES, [_banded_sig(sig, bands)],
        lambda g: local_frame(spark, [(bands,)], "bands int"),
        buckets,
    )


def append_to_hamming_index(
    batch_sig: DataFrame, base_name: str, reingest: bool = False
) -> None:
    """Absorb a batch of new signatures INTO the standing Hamming
    index — banding read from ``{base}_meta`` (pinned, never a caller
    argument), rows appended into the bucketed table preserving its
    layout. Banding is a pure deterministic bit-slice, so the appended
    rows are byte-identical to a full rewrite over corpus ∪ batch —
    parity is exact. Append cost ∝ batch: one explode over the new
    signatures, one bucketed write; the only catalog read is the
    one-row meta. ``reingest=True`` is the upsert path: the batch ids
    are tombstoned AFTER the new rows land, so only the NEW signature
    of a re-crawled doc is visible to probes (r12; see
    `append_to_minhash_index`) — and a NULL signature in a reingest
    batch raises before anything is written (its banded rows could
    never match a probe: the tombstone would be a silent delete,
    ADVICE r12)."""
    from ..bucketing import staged_append

    spark = batch_sig.sparkSession

    def rows(base_name):
        meta = spark.table(f"{base_name}_meta").collect()[0]
        if reingest and batch_sig.filter(F.col("sig").isNull()).take(1):
            raise ValueError(
                "reingest batch contains NULL signatures (their banded "
                "rows can never match a probe): refusing a silent delete "
                "— pre-filter them, or delete explicitly via "
                "bucketing.add_tombstones"
            )
        return [_banded_sig(batch_sig, meta.bands)]

    staged_append(
        spark, base_name, HAMMING_TABLES, rows,
        reingest=(batch_sig, "doc") if reingest else None,
    )


def hamming_near_pairs_from_index(
    spark, base_name: str, max_hamming: int = 3
) -> DataFrame:
    """`hamming_near_pairs` over a SAVED index: the corpus-vs-self
    near-dup pair scan with the banding explode already paid at
    ingest. The self-join consumes the table's (band, bval) bucketing
    on BOTH sides, so the candidate join is a zero-Exchange
    SortMergeJoin — the only shuffle left in the whole pair scan is
    the final pair-level distinct, which is ∝ QUALIFYING pairs (the
    popcount verify runs map-side before it, r11 verdict), never
    ∝ corpus. Both faces run `_hamming_self_pairs`, this one on the
    tombstone-filtered table; exact pair parity with the in-query
    operator over the same signatures is pinned in
    tests/test_index_append.py."""
    from ..bucketing import filter_tombstoned, resolve_index_base

    base_name = resolve_index_base(spark, base_name)
    meta = spark.table(f"{base_name}_meta").collect()[0]
    _check_hamming_params(max_hamming, meta.bands)
    return _hamming_self_pairs(
        filter_tombstoned(
            spark, base_name, spark.table(f"{base_name}_hbands"), "doc"
        ),
        max_hamming,
    )


def hamming_probe_from_index(
    spark,
    batch_sig: DataFrame,
    base_name: str,
    max_hamming: int = 3,
    broadcast_batch: bool = True,
) -> DataFrame:
    """Batch-vs-corpus Hamming probe against a SAVED index: which of
    today's signatures near-duplicate something already standing?
    (new_id, corpus_id, hamming). Only the batch is banded in-query;
    the corpus side streams from the bucketed table. With
    ``broadcast_batch`` (the daily-ingest default) the corpus never
    leaves its scan; a too-big batch shuffles INTO the (band, bval)
    bucketing while the index side still reads zero-Exchange.

    Same-id matches are KEPT (new_id == corpus_id, hamming 0) — the
    same semantics as `incremental_minhash_pairs_from_index`, and the
    re-ingest signal `append_to_hamming_index` callers check before
    appending (r11 self-review: the families' probes must agree, or a
    duplicate-ingest check passes on one index and silently fails on
    the other)."""
    from ..bucketing import resolve_index_base

    base_name = resolve_index_base(spark, base_name)
    meta = spark.table(f"{base_name}_meta").collect()[0]
    _check_hamming_params(max_hamming, meta.bands)
    b = _banded_sig(batch_sig, meta.bands).select(
        F.col("doc").alias("new_id"), F.col("sig").alias("n_sig"), "band", "bval"
    )
    if broadcast_batch:
        b = F.broadcast(b)
    from ..bucketing import filter_tombstoned

    c = filter_tombstoned(
        spark, base_name, spark.table(f"{base_name}_hbands"), "doc"
    ).select(
        F.col("doc").alias("corpus_id"),
        F.col("sig").alias("c_sig"),
        "band",
        "bval",
    )
    # verify-then-distinct (r11 verdict): see hamming_near_pairs
    return (
        b.join(c, ["band", "bval"])
        .withColumn(
            "hamming", F.bit_count(F.col("n_sig").bitwiseXOR(F.col("c_sig")))
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("new_id", "corpus_id", "hamming")
        .distinct()
    )


def compact_hamming_index(spark, base_name: str) -> None:
    """Compact the Hamming band table to one file per bucket AND
    physically purge tombstoned rows, then clear the tombstone table
    (r12) — see `compact_minhash_index`."""
    from ..bucketing import compact_index_tables, resolve_index_base

    compact_index_tables(
        spark, resolve_index_base(spark, base_name), HAMMING_TABLES
    )


# --------------------------------------------------------------------------
# duplicate clusters (connected components)
# --------------------------------------------------------------------------


#: driver-tier bounds (r12): a relation whose take-probe finds at most
#: this many rows is resolved on the driver, past it the distributed
#: path runs. `_DRIVER_BATCH_ROWS` bounds `absorb_edges`' full-driver
#: tier (the batch's edges, then its no-edge nodes);
#: `_DRIVER_GRAPH_ROWS` bounds `connected_components`' driver tier.
_DRIVER_BATCH_ROWS = 10_000
_DRIVER_GRAPH_ROWS = 10_000


def connected_components(
    edges: DataFrame,
    nodes: DataFrame | None,
    max_iter: int = 20,
    scope: str = "components",
) -> DataFrame:
    """Min-label connected components. edges: (a_id, b_id) undirected
    pairs; nodes: (node), or None for the edges' endpoints. Returns
    (node, rep) with rep = smallest node id in the component. Every
    non-NULL endpoint gets a label (a self-loop's too, and the
    non-NULL end of a NULL edge's), every other non-NULL node is its
    own singleton, and NULL is never a node.

    Two tiers, identical rows (parity pinned against a plain-Python
    reference in tests/test_dedup.py):

    * Driver: edges take-probed within `_DRIVER_GRAPH_ROWS` are
      labelled by `_minlabel_union_find` and returned as a
      `local_frame` — the probe is the only job (the loop pays 3-4 s
      of per-round fixed cost on a 75-edge graph at sf0.1, r12).
    * Loop: past the bound, `_min_label_loop`, one checkpoint job per
      round. ``max_iter`` bounds this tier only: IllegalStateError if
      it does not converge — unconverged labels would silently split
      one true cluster into several. With ``nodes`` None the edges
      are checkpointed first: their plan would otherwise embed
      absorb's standing-labels chain and batch-projection joins, which
      every round re-plans (22 s -> 1.1 s on a 72-edge contracted
      graph at sf0.1, r11).

    Singletons skip both tiers: ``nodes`` left-anti the labelled
    endpoints.

    ``scope`` names the persist-registry scope (r11): concurrent CC
    invocations (e.g. the inc_components branch running its old-graph
    CC while the components branch runs the full one from a sibling
    thread) must pass DISTINCT scopes, or the second call's
    entry-release would unpersist the first's live loop relations.
    """
    _release_caches(scope)
    bound = _DRIVER_GRAPH_ROWS
    probe = edges.take(bound + 1)
    if len(probe) <= bound:
        ends = {x for r in probe for x in (r.a_id, r.b_id) if x is not None}
        remap = _minlabel_union_find((r.a_id, r.b_id) for r in probe)
        t = edges.schema["a_id"].dataType.simpleString()
        # one partition, like the loop's coalesced output: a bucketed
        # write of the result (write_labels) makes a file per input
        # partition per bucket, and every later labels scan opens them
        labels = local_frame(
            edges.sparkSession,
            [(x, remap.get(x, x)) for x in sorted(ends)],
            f"node {t}, rep {t}",
        ).coalesce(1)
        labelled = F.broadcast(labels.select("node"))  # driver-sized
    else:
        if nodes is None:
            edges = _checkpoint_adaptive(edges)
        labels, labelled = _min_label_loop(edges, max_iter, scope)
    if nodes is None:
        return labels
    singles = nodes.dropna(subset="node").join(labelled, "node", "left_anti")
    return labels.unionAll(singles.select("node", F.col("node").alias("rep")))


def _min_label_loop(edges: DataFrame, max_iter: int, scope: str):
    """`connected_components`' loop tier: (node, rep) labels of the
    non-NULL endpoints, and their persisted (node) relation. Min-label
    propagation with pointer jumping: every node starts labeled with
    itself; each round every node takes the minimum of (its label, its
    neighbors' labels, its LABEL'S label), until fixpoint. The third
    term is the path-doubling shortcut — the distance a label travels
    roughly doubles per round, so convergence needs O(log d) rounds for
    component diameter d (same regime as the alternating
    large-star/small-star algorithm) instead of the d rounds plain
    neighbor propagation needs. Near-dup clusters are small
    quasi-cliques (2-3 rounds); the default max_iter = 20 therefore
    covers diameters up to ~2^19, and a pathological chain that still
    fails raises instead of returning split clusters.

    Each round is two shuffle joins + one min-agg, and the data never
    leaves the cluster — the driver only reads the single convergence
    counter. Each round's labels are checkpointed through
    `util.checkpoint_adaptive` (reliable when the application has set a
    checkpoint dir — the fault-tolerant choice on a real cluster — else
    executor-local), so the query plan stays O(1) deep across rounds
    instead of nesting one join tree per iteration."""
    sym = _persist_tracked(
        edges.select(F.col("a_id").alias("src"), F.col("b_id").alias("dst"))
        .unionAll(edges.select(F.col("b_id").alias("src"), F.col("a_id").alias("dst"))),
        scope=scope,
    )
    edge_nodes = _persist_tracked(
        sym.select(F.col("src").alias("node")).dropna().distinct(), scope=scope
    )
    labels = edge_nodes.select("node", F.col("node").alias("rep"))
    converged = False
    for _ in range(max_iter):
        neigh = (
            sym.join(labels.withColumnRenamed("node", "src"), "src")
            .groupBy(F.col("dst").alias("node"))
            .agg(F.min("rep").alias("nrep"))
        )
        # pointer jump: each node also sees its representative's label
        # (every rep value is itself a node in `labels`)
        jump = labels.select(
            F.col("node").alias("rep"), F.col("rep").alias("jrep")
        )
        cand = F.least(
            F.coalesce("nrep", F.col("rep")), F.coalesce("jrep", F.col("rep"))
        )
        new = (
            labels.join(neigh, "node", "left")
            .join(jump, "rep", "left")
            .select(
                "node",
                F.least(F.col("rep"), cand).alias("new_rep"),
                (cand < F.col("rep")).alias("chg"),
            )
        )
        # checkpoint truncates lineage; eager=False so the convergence
        # count below is the job that materializes it (one job/round)
        new = _checkpoint_adaptive(new, eager=False)
        changed = new.filter("chg").count()
        labels = new.select("node", F.col("new_rep").alias("rep"))
        if changed == 0:
            converged = True
            break
    if not converged:
        raise IllegalStateError(
            f"connected_components did not converge in {max_iter} rounds "
            "(component diameter exceeds max_iter — raise it)"
        )
    return labels, edge_nodes


def _minlabel_union_find(edge_pairs) -> dict:
    """Driver-side min-label union-find over (a, b) pairs: returns a
    map from every node of a non-self-loop, non-NULL edge to the
    MINIMUM node reachable from it — exactly the min-label CC fixed
    point over those edges. Union by value keeps the root the minimum,
    so find() IS the label. NULL endpoints are skipped (the distributed
    equi-joins drop them too)."""
    parent: dict = {}

    def find(x):
        r = x
        while parent.get(r, r) != r:
            r = parent[r]
        while parent.get(x, x) != x:
            parent[x], x = r, parent[x]
        return r

    for a, b in edge_pairs:
        if a is None or b is None:
            continue
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    touched = set(parent)
    touched.update(find(x) for x in list(parent))
    return {x: find(x) for x in touched}


def _absorb_small_batch(
    labels: DataFrame,
    edge_rows: list,
    node_rows: list,
    return_delta: bool = False,
) -> DataFrame:
    """absorb_edges' FULL-driver tier (r12): the batch's edges and
    no-edge nodes fit on the driver (gated by `_DRIVER_BATCH_ROWS` —
    the daily-ingest case), so the absorb's distributed work is ONE
    bounded lookup — the standing reps of the batch's endpoints
    (labels scanned map-side against the broadcast endpoint set,
    output ≤ |endpoints| rows), which Spark runs as TWO jobs: the
    broadcast build of the endpoint relation, then the scan — plus
    the final lazy label rewrite, whose broadcast remap costs one
    more job when the caller acts. Every driver-built relation here
    is a `local_frame`, so none of these jobs starts a Python worker.
    Everything in between (fresh-node discovery, the rep-space
    contraction, min-label union-find) is driver arithmetic over
    batch-sized lists. vs the distributed shape this removes the
    merged-label persist and four broadcast builds per absorb. The
    standing labels are still read TWICE — once by the endpoint-lookup
    collect here, once by the returned plan (ADVICE r12: an earlier
    claim of exactly-once was wrong) — so callers chaining daily
    absorbs through this tier should MATERIALIZE yesterday's output
    (localCheckpoint/persist) first, or each day's absorb re-evaluates
    the entire prior-day plan twice with nothing saved between."""
    sess = labels.sparkSession
    node_type = labels.schema["node"].dataType
    schema = T.StructType(
        [T.StructField("node", node_type), T.StructField("rep", node_type)]
    )
    ends = {r.a_id for r in edge_rows} | {r.b_id for r in edge_rows}
    ends.update(r.node for r in node_rows)
    if not ends:
        if return_delta:
            return local_frame(sess, [], schema)
        return labels.select("node", "rep")
    ends = sorted(ends, key=lambda x: (x is None, x))
    ends_df = local_frame(
        sess, [(x,) for x in ends],
        T.StructType([T.StructField("node", node_type)]),
    )
    # the one distributed lookup (broadcast build + scan): standing
    # (node, rep) for batch endpoints
    found = labels.join(F.broadcast(ends_df), "node", "left_semi").collect()
    rep = {r.node: r.rep for r in found}
    fresh = [x for x in ends if x not in rep]
    for x in fresh:
        rep[x] = x
    remap = _minlabel_union_find(
        (rep[r.a_id], rep[r.b_id])
        for r in edge_rows
        if r.a_id is not None and r.b_id is not None
    )
    # remap entries that actually MOVE a representative (union-find
    # includes identity rows for each component's min element)
    strict = {k: v for k, v in remap.items() if k != v}
    strict_schema = T.StructType(
        [T.StructField("rep", node_type), T.StructField("_srep", node_type)]
    )
    fresh_rows = [(x, remap.get(rep[x], rep[x])) for x in fresh]
    if return_delta:
        # delta = standing nodes whose rep moved (labels scanned
        # map-side against the broadcast strict remap) ∪ every fresh
        # node with its final rep — fresh nodes are absent from the
        # standing labels, so the join can never produce them
        out = local_frame(sess, [], schema)
        if strict:
            out = labels.join(
                F.broadcast(local_frame(
                    sess, sorted(strict.items()), strict_schema
                )),
                "rep",
            ).select("node", F.col("_srep").alias("rep"))
        if fresh:
            out = out.unionAll(local_frame(sess, fresh_rows, schema))
        return out
    out = labels.select("node", "rep")
    if remap:
        remap_df = local_frame(sess, sorted(remap.items()), strict_schema)
        out = labels.join(F.broadcast(remap_df), "rep", "left").select(
            "node", F.coalesce("_srep", "rep").alias("rep")
        )
    if fresh:
        out = out.unionAll(local_frame(sess, fresh_rows, schema))
    return out


def absorb_edges(
    labels: DataFrame,
    new_edges: DataFrame,
    new_nodes: DataFrame | None = None,
    max_iter: int = 20,
    scope: str = "absorb_edges",
    return_delta: bool = False,
) -> DataFrame:
    """Incremental connected components (r11): merge a batch's NEW
    near-dup edges into STANDING cluster labels without recomputing
    the corpus graph — the absorb step of the daily-ingest loop the
    persisted indexes feed (probe pairs against the standing index,
    then absorb them here; before this, new pairs meant re-running
    `connected_components` over every edge ever seen).

    ``labels``: (node, rep) — a MIN-LABEL FIXED POINT over the old
    graph (exactly `connected_components` output: rep = smallest node
    id in the component). ``new_edges``: (a_id, b_id), endpoints
    standing or new. ``new_nodes``: optional (node) relation for batch
    docs with no edges (they become singletons); endpoints of
    new_edges are included automatically.

    Returns (node, rep) over standing ∪ batch nodes, EXACTLY equal to
    `connected_components(old_edges ∪ new_edges, all_nodes)`.

    ``return_delta`` (r14): return ONLY the rows that differ from the
    standing labels — batch nodes (new) plus standing nodes whose rep
    moved (∝ touched components) — instead of the full corpus-sized
    relation. `standing ⊕ delta` (delta wins per node) equals the full
    return, pinned in tests/test_graph.py. This is what makes the
    PERSISTED absorb cost ∝ touched end-to-end: `append_labels` writes
    the delta gen-stamped into the bucketed labels table and
    `read_labels`' latest-wins view applies it, so the per-batch write
    is delta-sized where the full path pays a corpus-sized staged
    rewrite. The delta costs one extra map-side pass over the standing
    labels (the strict-remap join) and nothing else new.

    Why the full return is exact: contract each old component to its
    representative; a new edge
    (a, b) connects rep(a) to rep(b), and min-label CC over that
    CONTRACTED graph yields, per touched representative, the minimum
    node id of its merged super-component — composing node → old rep
    → super rep is therefore the same min-reachable-node label the
    full recompute assigns (parity pinned in tests/test_graph.py on
    chain merges, new-only cliques, batch singletons, and the empty
    batch; the catalog's `inc_components` branch hash-checks it
    against the full recursive-CTE oracle at driver level).

    Scale shape — work ∝ batch + touched components, never corpus:
    projecting the batch edges into rep space is two joins whose
    small side is the batch; the iterative CC runs on the contracted
    graph (nodes = touched representatives — for a daily batch, a
    vanishing fraction of the corpus); the final label rewrite is one
    left join against the standing labels whose right side is the
    (touched-comp-sized) remap. Those three batch-sized sides carry
    explicit broadcast hints, so the corpus-sized labels relation is
    scanned map-side and never shuffled on a corpus-sized key —
    pinned, not left to the planner's statistics (r11 self-review:
    the sibling index probes hint theirs, and a misestimate here
    would sort-merge-shuffle the standing labels three times).

    ``scope`` names the persist-registry scope (r12): CHAINED absorbs
    — day 2 absorbing into day 1's output, the production daily loop —
    must pass distinct scopes, or the second call's entry-release
    would unpersist the first call's merged-label relation while the
    second's plan still reads it (the same contract as
    `connected_components`). Repeated calls under ONE scope (a true
    daily loop, yesterday's output fully materialized) keep the
    release-at-entry behavior so caches never accumulate.

    Three execution tiers (r12), identical output (path parity pinned
    in tests/test_graph.py), outermost first:

    * Full driver: if the batch's edges AND no-edge nodes fit on the
      driver (take-probed within `_DRIVER_BATCH_ROWS`), the WHOLE
      absorb is the probes, one bounded endpoint lookup (two jobs: its
      broadcast build and the labels scan) + driver union-find + one
      lazy label rewrite — no persist, no broadcast chain, no Python
      worker; the standing labels are read TWICE (endpoint lookup +
      the returned plan), so chained daily callers should materialize
      yesterday's output first — see `_absorb_small_batch` (r13,
      ADVICE r12). The daily-ingest case.
    * Contracted driver: bigger batches whose CONTRACTED graph (≤ one
      edge per distinct-rep batch pair) is still driver-small — e.g. a
      backfill with heavy internal duplication — resolve the
      contracted min-label remap in `connected_components`' driver
      tier (within `_DRIVER_GRAPH_ROWS`) instead of paying 3-4
      distributed CC rounds of per-job fixed cost.
    * Otherwise: `connected_components`' loop tier over the
      checkpointed contracted edges — work ∝ touched components, never
      corpus."""
    _release_caches(scope)
    bound = _DRIVER_BATCH_ROWS
    eprobe = new_edges.take(bound + 1)
    if len(eprobe) <= bound:
        nprobe = new_nodes.take(bound + 1) if new_nodes is not None else []
        if len(nprobe) <= bound:
            return _absorb_small_batch(
                labels, eprobe, nprobe, return_delta=return_delta
            )
    ends = new_edges.select(F.col("a_id").alias("node")).unionAll(
        new_edges.select(F.col("b_id").alias("node"))
    )
    if new_nodes is not None:
        ends = ends.unionAll(new_nodes.select("node"))
    ends = ends.distinct()
    # ADVICE r11: `ends ANTI-JOIN labels` broadcasts only BuildRight
    # for equi LeftAnti, so the corpus-sized labels on the right would
    # sort-merge-shuffle on node. Flip it: scan labels map-side against
    # the broadcast batch endpoints (left_semi, batch-sized output),
    # then anti-join the endpoints against THAT — both joins broadcast
    # the batch-sized side, the standing labels never shuffle.
    existing = labels.select("node").join(
        F.broadcast(ends), "node", "left_semi"
    )
    fresh = ends.join(F.broadcast(existing), "node", "left_anti").select(
        "node", F.col("node").alias("rep")
    )
    all_labels = _persist_tracked(labels.unionAll(fresh), scope=scope)
    la = all_labels.select(F.col("node").alias("a_id"), F.col("rep").alias("_ra"))
    lb = all_labels.select(F.col("node").alias("b_id"), F.col("rep").alias("_rb"))
    redges = (
        F.broadcast(F.broadcast(new_edges).join(la, "a_id"))
        .join(lb, "b_id")
        .filter(F.col("_ra") != F.col("_rb"))
        .select(F.col("_ra").alias("a_id"), F.col("_rb").alias("b_id"))
        .distinct()
    )
    # the contracted graph is BATCH-BOUNDED by construction (≤ one
    # edge per distinct batch pair): re-cluster it on the driver when
    # it fits, else in the distributed loop (r12)
    remap = connected_components(
        redges, None, max_iter, scope=f"{scope}_cc"
    ).select(
        F.col("node").alias("rep"), F.col("rep").alias("_srep")
    )
    if return_delta:
        # strict remap = representatives that actually move (both
        # remap sources include identity rows for each merged
        # component's min element); delta = every label row riding a
        # moved rep (all_labels ⊇ fresh, so remapped batch nodes come
        # out of this join too) ∪ fresh singletons whose rep stands
        strict = remap.where(F.col("_srep") != F.col("rep"))
        moved = F.broadcast(strict.select("rep"))
        strict = F.broadcast(strict)
        changed = all_labels.join(strict, "rep").select(
            "node", F.col("_srep").alias("rep")
        )
        kept_fresh = fresh.join(moved, "rep", "left_anti").select(
            "node", "rep"
        )
        return changed.unionAll(kept_fresh)
    return all_labels.join(F.broadcast(remap), "rep", "left").select(
        "node", F.coalesce("_srep", "rep").alias("rep")
    )


def evict_nodes(
    labels: DataFrame,
    edges: DataFrame,
    deleted: DataFrame,
    max_iter: int = 20,
    broadcast_deletions: bool = True,
    scope: str = "evict_nodes",
    return_delta: bool = False,
) -> DataFrame:
    """Takedown closure at the CLUSTER-LABEL layer (r13, r12 verdict
    top_next): remove deleted documents from standing connected-
    component labels without recomputing the corpus graph. The index
    families already delete cleanly (tombstones), but `absorb_edges`'
    label relation was insert/merge-only: a tombstoned doc stayed in
    the standing (node, rep) rows forever — and could BE the min-label
    representative other docs point at.

    Deletion from connected components is NOT a filter: removing a cut
    vertex SPLITS a component, and removing the representative renames
    one. So the honest incremental shape is component-scoped
    recompute — drop the deleted nodes' rows, find the TOUCHED
    components (those containing a deleted node), and re-run min-label
    CC over only those components' SURVIVING edges; every untouched
    component keeps its rows verbatim (no edge crosses components, so
    nothing else can change).

    ``labels``: (node, rep) — a min-label fixed point over ``edges``
    (exactly `connected_components` output; every edge endpoint must
    appear in it). ``edges``: (a_id, b_id), the STANDING edge relation
    the labels were computed over. Edge provenance at scale: the
    daily-ingest loop should KEEP the edge ledger next to the labels
    (append each day's probe pairs — edges are ∝ true near-dups, a
    vanishing fraction of the corpus), because the alternative —
    regenerating them from the index's self-scan after tombstoning —
    is a full corpus-sized pair scan per takedown, defeating the
    ∝-touched-components contract this operator exists for (the
    ledger-kept path only ever SCANS the ledger map-side, it never
    recomputes pairs). ``deleted``: (node) takedown ids; ids absent
    from the labels are ignored.

    Returns (node, rep) EXACTLY equal to
    `connected_components(edges minus any edge touching a deleted
    node, nodes minus deleted)` — parity pinned in tests/test_graph.py
    on a cut-vertex split, a deleted-representative rename, a
    whole-component takedown, and both execution tiers.

    ``return_delta`` (r14): return ONLY the surviving nodes whose rep
    MOVED (∝ touched components) instead of the corpus-sized surviving
    relation — the deleted nodes' disappearance is the caller's half
    (persisted labels tombstone them, `evict_labels`). Standing labels
    with the delta applied latest-wins, minus the deleted ids, equals
    the full return (pinned in tests/test_graph.py); costs one extra
    map-side labels pass (old-rep lookup against the broadcast
    re-clustered survivors).

    Scale shape — work ∝ touched components, never corpus: the deleted
    ids and the touched-component relations are deletion-bounded and
    ride every join as the BROADCAST side, so the corpus-sized labels
    relation is scanned map-side (three semi/anti passes, zero
    Exchange — plan-asserted) and the edges relation once. The
    re-clustering itself runs on the touched components' surviving
    subgraph only, through `connected_components`: driver union-find
    when the surviving edges fit (within `_DRIVER_GRAPH_ROWS`), else
    the distributed CC loop. Pass
    ``broadcast_deletions=False`` when a mass takedown outgrows the
    broadcast budget; the joins degrade to shuffles ∝ labels/edges,
    still touched-component-bounded on the small side."""
    _release_caches(scope)
    del_ids = deleted.select("node").distinct()
    if broadcast_deletions:
        del_ids = F.broadcast(del_ids)
    # components containing a deleted node — deletion-bounded, read by
    # three downstream joins, so persist the tiny relation once
    touched = _persist_tracked(
        labels.join(del_ids, "node", "left_semi").select("rep").distinct(),
        scope=scope,
    )
    btouched = F.broadcast(touched) if broadcast_deletions else touched
    # surviving nodes of the touched components (∝ touched components)
    surv_nodes = _persist_tracked(
        labels.join(btouched, "rep", "left_semi")
        .select("node")
        .join(del_ids, "node", "left_anti"),
        scope=scope,
    )
    bsurv = F.broadcast(surv_nodes) if broadcast_deletions else surv_nodes
    # surviving edges inside touched components: an edge's endpoints
    # always share a component, so membership of EITHER endpoint in
    # the surviving-touched set decides both "touched" and "survives"
    # (a deleted endpoint fails the semi-join) — two map-side passes
    # over the edges scan
    surv_edges = edges.join(
        bsurv.withColumnRenamed("node", "a_id"), "a_id", "left_semi"
    ).join(bsurv.withColumnRenamed("node", "b_id"), "b_id", "left_semi")
    # untouched components keep their rows verbatim (map-side anti)
    kept = labels.join(btouched, "rep", "left_anti").select("node", "rep")
    # re-cluster the touched survivors: driver union-find when bounded
    # (the takedown-sized case), else the distributed CC loop
    fresh = connected_components(
        surv_edges, surv_nodes, max_iter, scope=f"{scope}_cc"
    )
    if not return_delta:
        return kept.unionAll(fresh)
    # the delta: touched survivors whose rep MOVED, found by one
    # map-side old-rep lookup of the standing labels against the
    # broadcast re-clustered rows (touched-component-sized)
    bfresh = F.broadcast(fresh) if broadcast_deletions else fresh
    return (
        labels.select("node", F.col("rep").alias("_old"))
        .join(bfresh, "node")
        .where(F.col("rep") != F.col("_old"))
        .select("node", "rep")
    )


def write_labels(
    labels: DataFrame, base_name: str, buckets: int = 8
) -> None:
    """Persist standing cluster labels ON DISK — the last
    caller-managed piece of the daily-ingest loop (r13): the indexes
    are persisted catalog tables, but the (node, rep) label relation
    the absorb/evict steps maintain lived only as a caller-held
    DataFrame, so every restart forced a full `connected_components`
    recompute. Labels are tiny next to the corpus (two ints per
    document), so the daily refresh is an honest FULL rewrite of
    yesterday's output through the SAME crash-safe staging as the
    index families (`bucketing.staged_rewrite`) — and the same
    blue/green serving pointers resolve here too, so a labels table
    can rotate without downtime.

    Writes ``{base}_labels`` bucketed on ``node`` (downstream joins on
    node — e.g. the final rewrite inside `absorb_edges` — meet the
    layout zero-Exchange when bucketed the same) and ``{base}_meta``
    (one row stamping the write generation). Rows carry the write
    generation (r14) so `append_labels` deltas can overlay them
    latest-wins. Daily loop shape:
    ``new = absorb_edges(read_labels(spark, base), todays_edges, ...)``
    then ``write_labels(new, base)``; takedowns evict first
    (`evict_nodes`) and write the result back — or, since r14, both
    arrows run ∝-touched via `append_labels`/`evict_labels` with this
    full rewrite demoted to periodic compaction (`compact_labels`)."""
    from ..bucketing import staged_rewrite

    spark = labels.sparkSession
    staged_rewrite(
        spark, base_name, LABELS_TABLES, [labels.select("node", "rep")],
        lambda g: local_frame(spark, [(g,)], "written_gen long"),
        buckets,
    )


def read_labels(spark, base_name: str) -> DataFrame:
    """The standing persisted labels back as (node, rep) — resolves
    serving pointers and touches the meta table first so a half-swapped
    table set fails loudly (same read discipline as the index probes).

    Latest-wins overlay (r14): the table may hold `append_labels`
    delta rows on top of the last full rewrite, each stamped with its
    write generation — per node, the highest-gen row is the label, and
    nodes carrying a tombstone at least as new as their best row are
    evicted (`evict_labels`). Both steps preserve the ∝-touched read
    shape: the table is bucketed on node, so the per-node window is a
    task-local sort over the bucketed scan — NO Exchange (plan-pinned
    in tests/test_label_delta.py) — and the tombstone anti-join
    broadcasts the deletion-sized side; the relation still reports
    hash-partitioning on node, so downstream absorb/evict joins keep
    their map-side plans.

    Mid-swap crash recovery (ADVICE r13): when the meta table is
    missing but its ``__prewrite`` backup stands — a `write_labels`
    swap died mid-flight — the read rolls BACK to yesterday's labels
    via `bucketing.recover_index` instead of failing with no public
    repair path (the rollback used to live only inside
    `begin_index_rewrite`, which the daily loop reaches through
    `write_labels` — AFTER it already needed this read's output)."""
    from pyspark.sql import Window

    from ..bucketing import (
        filter_tombstoned,
        recover_index,
        resolve_index_base,
    )

    base_name = resolve_index_base(spark, base_name)
    meta = f"{base_name}_meta"
    if not spark.catalog.tableExists(meta) and spark.catalog.tableExists(
        f"{meta}__prewrite"
    ):
        recover_index(spark, [meta, f"{base_name}_labels"])
    spark.table(meta).collect()
    t = spark.table(f"{base_name}_labels")
    if "gen" not in t.columns:  # pre-r14 layout: plain full rewrite
        return t.select("node", "rep")
    t = filter_tombstoned(spark, base_name, t, "node")
    w = Window.partitionBy("node").orderBy(F.col("gen").desc())
    return (
        t.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select("node", "rep")
    )


def append_labels(delta: DataFrame, base_name: str) -> None:
    """Absorb a (node, rep) label DELTA into the persisted standing
    labels — the ∝-touched persistence arrow `absorb_edges(...,
    return_delta=True)` feeds (r14). The full `write_labels` staged
    rewrite is honest but corpus-sized PER CALL; a daily batch (or a
    streaming micro-batch) only ever moves ∝ touched components' rows,
    so persisting the absorb used to pay write amplification ∝
    corpus/batch. This appends just the delta, gen-stamped, into the
    bucketed labels table (layout preserved — rows hash into their
    node's bucket, exactly `append_to_hamming_index`'s discipline);
    `read_labels`' latest-wins view applies it. Cost ∝ delta: one gen
    bump + one bucketed append; the standing table is never read.

    Idempotent under replay: re-appending the same delta lands the
    same (node, rep) at a higher gen — latest-wins resolves to the
    same label, the duplicate rows are dead weight until
    `compact_labels`. A node in the delta twice with DIFFERENT reps is
    caller error (absorb/evict deltas are one-row-per-node by
    construction) — within one append the gen tie would make
    latest-wins nondeterministic, so it raises."""
    from ..bucketing import staged_append

    spark = delta.sparkSession

    def rows(base_name):
        if "gen" not in spark.table(f"{base_name}_labels").columns:
            raise IllegalStateError(
                f"{base_name}_labels predates gen-stamped labels (pre-r14 "
                "layout): run one full write_labels rewrite first, then "
                "deltas can overlay it."
            )
        # pin the delta BEFORE touching the table: its plan almost
        # always reads the standing labels (absorb/evict deltas do), and
        # it is read twice below (dup guard + write) — one delta-sized
        # materialization instead of two corpus-side scans, and no
        # read-while-appending on {base}_labels
        pinned = _checkpoint_adaptive(delta.select("node", "rep"))
        dup = pinned.groupBy("node").count().filter(F.col("count") > 1).take(1)
        if dup:
            raise IllegalStateError(
                f"label delta carries node {dup[0]['node']} more than once "
                "— same-gen rows would make the latest-wins read "
                "nondeterministic; absorb/evict deltas are one-row-per-node, "
                "pre-aggregate a hand-built delta."
            )
        return [pinned]

    staged_append(spark, base_name, LABELS_TABLES, rows)


def evict_labels(
    spark,
    base_name: str,
    edges: DataFrame,
    deleted: DataFrame,
) -> None:
    """Takedown against the PERSISTED labels, ∝ touched (r14): the
    composition `evict_nodes(read_labels(...), edges, deleted)` +
    `write_labels` is exact but pays a corpus-sized rewrite per
    takedown. This runs the ∝-touched shape end-to-end: compute only
    the relabeled survivors (`evict_nodes(..., return_delta=True)`),
    APPEND them gen-stamped, then tombstone the deleted ids — the
    append-then-tombstone order of the index families' reingest path
    (a crash between the two leaves survivors correctly relabeled and
    the deleted ids still visible — the detectable direction the
    takedown journal replays; tombstoning first would leave survivors
    pointing at representatives that no longer exist).

    ``edges``: the standing edge relation the labels are a fixed point
    over — in the daily loop, `read_edge_ledger` AFTER
    `prune_edge_ledger` removed the deleted ids' edges (the order
    `lifecycle.takedown` pins). Replay-idempotent: on a re-run the
    deleted ids are already tombstone-hidden from `read_labels`, so no
    component is touched, the delta is empty, and the re-tombstone is
    absorbed by the gen algebra."""
    from ..bucketing import add_tombstones

    delta = evict_nodes(
        read_labels(spark, base_name),
        edges,
        deleted,
        scope=f"evict_labels_{base_name}",
        return_delta=True,
    )
    append_labels(delta, base_name)
    add_tombstones(spark, base_name, deleted.select("node"), "node")


def compact_labels(spark, base_name: str, buckets: int | None = None) -> None:
    """Fold the accumulated label deltas and tombstones back into one
    row per node (r14) — the maintenance arrow that completes the
    incremental labels lifecycle (write → append/evict → COMPACT),
    exactly `compact_bucketed_table`'s role for the index families:
    the latest-wins read stays correct under any number of appends,
    but each appended file adds task-local sort input and open/seek
    overhead, and dead rows (overlaid or tombstoned) stay on disk
    until compacted. One honest full rewrite of the current view
    through `write_labels`' crash-safe staging, then the standing
    tombstones are cleared (every id they covered is physically gone;
    clearing BEFORE the swap could resurrect rows if the rewrite
    crashed mid-flight, so it runs after).

    The bucket count is PRESERVED by default — read from the standing
    table (the label rung caught the regression: falling through to
    `write_labels`' default of 8 silently shrank a 32-bucket table's
    read and join parallelism 4× at every compaction); pass
    ``buckets`` only to deliberately re-bucket."""
    from ..bucketing import (
        clear_tombstones,
        resolve_index_base,
        table_buckets,
    )

    base_name = resolve_index_base(spark, base_name)
    if buckets is None:
        buckets = table_buckets(spark, f"{base_name}_labels")
    write_labels(read_labels(spark, base_name), base_name, buckets=buckets)
    clear_tombstones(spark, base_name)


# --------------------------------------------------------------------------
# persisted edge ledger (r14, r13 verdict top_next)
#
# `evict_nodes`' own contract says the daily loop must KEEP the edge
# ledger next to the labels — edges are ∝ true near-dups, a vanishing
# fraction of the corpus — because the alternative (regenerating the
# standing pair relation from the index's self-scan per takedown) is a
# full corpus-sized scan, defeating the ∝-touched-components contract.
# r13 persisted the labels half (`write_labels`/`read_labels`); the
# edges half was still a caller-held DataFrame, so a RESTARTED session
# could read its labels yet could not run a single takedown without a
# corpus-sized pair regeneration. The ledger closes that gap:
#
#   * ``{base}_edges`` (a_id, b_id, gen), bucketed on ``a_id`` —
#     endpoint joins (the evict path's surviving-node semi-joins, any
#     per-node edge lookup) meet the layout map-side; the gen stamp is
#     the same deletion algebra as the index families.
#   * ``{base}_meta`` — one row stamping the write generation; read
#     first by every reader so a half-swapped set fails loudly.
#   * deletions are TOMBSTONES on NODE ids (`prune_edge_ledger` —
#     cost ∝ deletions): an edge is dead iff EITHER endpoint carries a
#     tombstone at least as new as the edge row, filtered map-side by
#     `read_edge_ledger` and purged physically by
#     `compact_edge_ledger`. A later re-ingest of an evicted doc
#     appends its new edges at a HIGHER gen, which outlive the old
#     tombstone — the same resurrection semantics as the indexes.
#
# Daily loop shape (restart-safe end-to-end):
#     edges = read_edge_ledger(spark, lbase)        # only for evicts
#     new = absorb_edges(read_labels(spark, base), day_pairs, ...)
#     write_labels(new, base); append_edge_ledger(day_pairs, lbase)
# takedowns: prune_edge_ledger THEN evict_nodes over the (pruned)
# ledger read — `lifecycle.takedown` composes the full pinned order.
# --------------------------------------------------------------------------


def write_edge_ledger(
    edges: DataFrame, base_name: str, buckets: int = 8
) -> None:
    """Persist the standing near-dup edge relation ON DISK (r14) —
    the full-write face of the ledger (day 0, or a from-scratch
    rebuild). ``edges`` must carry ``a_id``/``b_id`` columns; rows are
    stamped at the write generation and written through the same
    crash-safe staging as the index families and the labels
    (`bucketing.staged_rewrite`) — and the blue/green serving pointers
    resolve here too."""
    from ..bucketing import staged_rewrite

    spark = edges.sparkSession
    staged_rewrite(
        spark, base_name, LEDGER_TABLES, [edges.select("a_id", "b_id")],
        lambda g: local_frame(spark, [(g,)], "written_gen long"),
        buckets,
    )


def append_edge_ledger(new_edges: DataFrame, base_name: str) -> None:
    """Append one day's probe pairs to the standing ledger — cost ∝
    the day's pairs: one gen bump, one bucketed append into the
    existing layout; the standing table is never read (AST-asserted in
    tests/test_index_append.py's discipline). Same single-writer nonce
    check and serving-pointer re-verification as the index
    appenders."""
    from ..bucketing import staged_append

    staged_append(
        new_edges.sparkSession, base_name, LEDGER_TABLES,
        lambda _base: [new_edges.select("a_id", "b_id")],
    )


def read_edge_ledger(spark, base_name: str) -> DataFrame:
    """The standing SURVIVING edges back as (a_id, b_id): resolves
    serving pointers, touches the meta table first (loud half-swap),
    recovers a mid-swap crash the same way `read_labels` does, and
    anti-joins the (deletion-sized, broadcast) node tombstones against
    BOTH endpoints map-side — an edge of an evicted doc is never
    served, per the prune contract."""
    from ..bucketing import filter_tombstoned, recover_index, resolve_index_base

    base_name = resolve_index_base(spark, base_name)
    meta = f"{base_name}_meta"
    if not spark.catalog.tableExists(meta) and spark.catalog.tableExists(
        f"{meta}__prewrite"
    ):
        recover_index(spark, [meta, f"{base_name}_edges"])
    spark.table(meta).collect()
    rows = spark.table(f"{base_name}_edges")
    rows = filter_tombstoned(spark, base_name, rows, "a_id")
    rows = filter_tombstoned(spark, base_name, rows, "b_id")
    return rows.select("a_id", "b_id")


def prune_edge_ledger(
    spark, base_name: str, deleted: DataFrame, node_col: str = "node"
) -> None:
    """Mark every edge touching a deleted doc dead — ONE tombstone
    append of (node, gen) rows, cost ∝ deletions; nothing edge-sized
    moves (the ledger analogue of `bucketing.add_tombstones`, which
    this is: the tombstones carry NODE ids, and the read/compact
    paths apply them to both endpoint columns)."""
    from ..bucketing import add_tombstones

    add_tombstones(spark, base_name, deleted, node_col)


def compact_edge_ledger(spark, base_name: str) -> None:
    """Physically purge dead edges (either endpoint tombstoned) and
    rewrite each bucket as one sorted file — the ledger's maintenance
    face, the same zero-shuffle `compact_bucketed_table` rewrite as
    the index families, then the tombstones are cleared."""
    from ..bucketing import compact_index_tables, resolve_index_base

    compact_index_tables(
        spark, resolve_index_base(spark, base_name), LEDGER_TABLES
    )


def _gram_strings(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int,
    toks: DataFrame | None = None,
) -> DataFrame:
    """Distinct-per-document (doc, gram) word-n-gram STRING rows. The
    bloom path hashes gram strings with md5 (engine-portable bit
    positions) where the join-based paths use int64 hash chains.
    Per-doc dedup is `array_distinct` BEFORE the explode — inside the
    row, no shuffle — the same zero-exchange shape as `shingle_sets`
    (a global .distinct() here would shuffle every corpus gram).
    ``toks``: optional pre-tokenized (doc, words) relation."""
    from .text import word_grams

    if toks is not None:
        return toks.select(
            "doc",
            F.explode(
                F.array_distinct(word_grams(F.col("words"), n))
            ).alias("gram"),
        )
    words = F.split(normalize_text(F.col(text_col)), " ")
    return df.select(
        F.col(id_col).alias("doc"),
        F.explode(F.array_distinct(word_grams(words, n))).alias("gram"),
    )


def _bloom_pos(gram: Column, i: int, m_bits: int) -> Column:
    """i-th bloom bit position: 8 md5 hex digits (32 bits) per hash
    function, mod the filter width — identical on any engine."""
    return (
        F.conv(F.substring(F.md5(gram), 1 + 8 * i, 8), 16, 10).cast("long")
        % m_bits
    )


def bloom_decontaminate(
    train: DataFrame,
    eval_df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 5,
    m_bits: int = 65536,
    k: int = 2,
    min_overlap: int = 1,
    train_toks: DataFrame | None = None,
    eval_toks: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """`decontaminate` through a broadcast BLOOM-FILTER prefilter — the
    100 TB shape where even the eval gram TABLE is too hot to hash-join
    against every corpus gram: the benchmark's n-grams compress to an
    m-bit filter (m/8 bytes — kilobytes here, hundreds of MB for real
    benchmark suites, either way one broadcast), the corpus's grams
    stream through a pure bit-test expression (no shuffle, no join),
    and only the survivors — true matches plus the filter's false
    positives, (1-e^(-kn/m))^k of probes — enter the exact verify
    join. No false negatives, so after exact verification the result
    EQUALS plain `decontaminate`'s: the bloom pass is a pure pruning
    optimization, which is what makes it oracle-checkable.

    Spark's own runtime bloom joins do this adaptively; spelling it as
    an operator makes the decontamination shape explicit and portable.

    Returns (pairs, stats): pairs = (train_id, eval_id, n_shared) as
    `decontaminate`; stats = one row (n_probed, n_passed, n_eval) of
    distinct-gram censuses certifying the filter construction and
    probe bit-for-bit (the oracle rebuilds the same bits in SQL).
    """
    if m_bits % 64:
        raise ValueError(f"m_bits must be a multiple of 64, got {m_bits}")
    tg = (
        _gram_strings(train, text_col, id_col, n, toks=train_toks)
        if train_toks is not None
        else _gram_strings(_spread(train), text_col, id_col, n)
    )
    eg = _gram_strings(eval_df, text_col, id_col, n, toks=eval_toks)
    ev_distinct = eg.select("gram").distinct()

    # build the filter: k positions per eval gram → OR into m/64 words
    pos = ev_distinct.select(
        F.explode(
            F.array(*[_bloom_pos(F.col("gram"), i, m_bits) for i in range(k)])
        ).alias("b")
    )
    word_rows = (
        pos.groupBy(F.shiftright("b", 6).cast("int").alias("wi"))
        .agg(F.expr("bit_or(shiftleft(CAST(1 AS BIGINT), CAST(b & 63 AS INT)))").alias("bits"))
        .collect()
    )
    arr = [0] * (m_bits // 64)
    for r in word_rows:
        arr[r["wi"]] = r["bits"]

    # probe INLINE on the exploded per-doc-distinct gram stream — the
    # corpus side reaches the bit test with zero exchanges (the scale
    # contract; a pre-probe distinct would shuffle every corpus gram)
    probed = tg
    for i in range(k):
        probed = probed.withColumn(f"b{i}", _bloom_pos(F.col("gram"), i, m_bits))
    # the literal filter rides the plan as one array constant (a real
    # broadcast variable inside a pandas UDF at production m). One
    # parsed `array(..L, ..)` expression, not m/64 F.lit Columns: the
    # Column form was ~2k Py4J round-trips ≈ 1.1 s of driver build
    # time per invocation (r15, guide §7.3)
    probed = probed.withColumn(
        "_blm", F.expr("array({})".format(",".join(f"{x}L" for x in arr)))
    )
    passed = None
    for i in range(k):
        c = F.expr(
            f"(shiftright(element_at(_blm, CAST(shiftright(b{i}, 6) AS INT) + 1), "
            f"CAST(b{i} & 63 AS INT)) & CAST(1 AS BIGINT)) = 1"
        )
        passed = c if passed is None else (passed & c)
    # distinct-gram censuses: one count_distinct exchange ∝ distinct
    # grams (the word-count budget), nothing corpus-sized
    stats = (
        probed.agg(
            F.count_distinct("gram").alias("n_probed"),
            F.count_distinct(F.when(passed, F.col("gram"))).alias("n_passed"),
        )
        .crossJoin(ev_distinct.agg(F.count(F.lit(1)).alias("n_eval")))
    )
    # r14 opt: the old pairs path re-derived the corpus gram stream
    # (tg) and semi-joined it against a broadcast DISTINCT of the
    # filter's survivors — but `probed.filter(passed)` IS that
    # semi-join, already computed on the streaming side. Filtering
    # probed directly removes one full corpus gram pass (3 → 2
    # evaluations of the gram stream: stats + pairs), the survivors'
    # gram Exchange, and a broadcast build; corpus grams now reach the
    # verify join with ZERO gram shuffles anywhere (plan-pinned).
    pairs = (
        probed.filter(passed)
        .join(
            F.broadcast(eg.select(F.col("doc").alias("eval_id"), "gram")), "gram"
        )
        .groupBy(F.col("doc").alias("train_id"), "eval_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_overlap)
    )
    return pairs, stats


def excise_spans(
    df: DataFrame,
    spans: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 8,
    toks: DataFrame | None = None,
) -> DataFrame:
    """Apply `repeated_spans` hits: REMOVE every token covered by a
    cross-document repeated n-token window and re-assemble the
    document — the excision step of Lee et al.'s substring dedup (find
    repeated passages, then cut them out of the training text). Pass
    the spans relation in (rather than recomputing it) so one spans
    pass feeds both the report and the excision.

    Deterministic and engine-portable: covered positions are the union
    of [pos, pos+n) intervals, kept tokens are the set difference of
    position arrays (`array_except` — hash-based, linear per doc), and
    the cleaned text is the kept tokens rejoined. Cost beyond the
    spans pass is one broadcast-sized join (docs with hits are the
    rare side) and per-doc O(tokens) array work.

    Returns (doc_id, n_removed, n_kept, clean_text) for documents that
    lost at least one token.

    ``toks``: optional shared (doc, words) tokenization (see
    `tokenized`) — the excision then re-reads the cached arrays
    instead of re-normalizing the corpus."""
    if toks is not None:
        src, id_expr, words = toks, F.col("doc"), F.col("words")
    else:
        src, id_expr = df, F.col(id_col)
        words = F.split(normalize_text(F.col(text_col)), " ")
    starts = spans.groupBy(F.col("doc_id").alias("_sid")).agg(
        F.collect_set("pos").alias("_starts")
    )
    covered = F.array_distinct(
        F.flatten(
            F.transform(F.col("_starts"), lambda p: F.sequence(p, p + (n - 1)))
        )
    )
    kept_pos = F.array_sort(
        F.array_except(F.sequence(F.lit(1), F.size(words)), covered)
    )
    clean = F.concat_ws(
        " ", F.transform(kept_pos, lambda i: F.element_at(words, i))
    )
    return (
        src.join(starts, id_expr == F.col("_sid"))
        .select(
            id_expr.alias("doc_id"),
            (F.size(words) - F.size(kept_pos)).alias("n_removed"),
            F.size(kept_pos).alias("n_kept"),
            clean.alias("clean_text"),
        )
        .filter(F.col("n_removed") > 0)
    )
