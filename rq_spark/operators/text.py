"""Text-analysis operators: token stats, language ID, quality scoring,
fingerprinting — the per-document scoring pass of a training-data
pipeline. Pure `pyspark.sql.functions` expressions (whole-stage
codegen; no Python in the hot path), each mirrored exactly by an ANSI
SQL oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .dedup import normalize_text


def word_grams(words: Column, n: int) -> Column:
    """Word n-gram STRINGS ("w1 w2 … wn") from a split-words array.

    Built by n-1 zip_with passes against shifted copies of the array
    instead of a per-element slice+array_join under transform — the
    same output strings, measured ~6× faster end-to-end (each
    per-element slice is O(n) interpreted dispatch; zip_with walks
    the arrays once per shift). Docs with fewer than n words yield an
    empty array (slice length clamps at 0)."""
    cnt = F.greatest(F.size(words) - (n - 1), F.lit(0))
    acc = F.slice(words, 1, cnt)
    for s in range(1, n):
        acc = F.zip_with(
            acc, F.slice(words, s + 1, cnt), lambda a, b: F.concat_ws(" ", a, b)
        )
    return acc

# marker stopwords per language; counts decide lang_id (argmax with a
# fixed priority order on ties). On real text you'd use a trained
# n-gram model; the operator shape (expression-only scoring) is the
# production-relevant part.
LANG_MARKERS = {
    "en": ["the", "a", "of"],
    "de": ["der", "und", "die"],
    "fr": ["le", "et", "la"],
    "es": ["el", "y", "de"],
    "zh": ["的", "了"],
}


def word_count(col: Column, word: str) -> Column:
    """Occurrences of a whole word: (len - len(removed)) / removed-width
    on the space-padded text; identical replace semantics both engines."""
    padded = F.concat(F.lit(" "), normalize_text(col), F.lit(" "))
    target = f" {word} "
    removed = F.replace(padded, F.lit(target), F.lit(" "))
    width = len(target) - 1
    return ((F.length(padded) - F.length(removed)) / width).cast("int")


def lang_scores(col: Column) -> dict[str, Column]:
    return {
        lang: sum((word_count(col, w) for w in words), F.lit(0))
        for lang, words in LANG_MARKERS.items()
    }


def lang_id(col: Column) -> Column:
    """argmax over marker counts, ties broken by fixed priority order;
    'und' when nothing matches.

    Implemented as max-of-structs — (score, -priority, lang) compared
    lexicographically gives strictly-greater displacement with the
    earlier language winning ties — NOT as a CASE-tower walk: a walk
    embeds the running best twice per step, a 2^n expression blowup
    (measured: seconds of per-row work + codegen compile at n=5)."""
    scores = lang_scores(col)
    entries = [
        F.struct(
            s.cast("long").alias("s"), F.lit(-i).alias("o"), F.lit(lang).alias("l")
        )
        for i, (lang, s) in enumerate(scores.items())
    ]
    best = F.array_max(F.array(*entries))
    return F.when(best["s"] > 0, best["l"]).otherwise(F.lit("und"))


def token_stats(df: DataFrame, text_col: str, id_col: str, *extra: Column) -> DataFrame:
    """Per-document token statistics; ``extra`` columns ride along in
    the same single-scan projection (used by the merged text_metrics
    query to score every text signal in one pass)."""
    t = F.col(text_col)
    words = F.split(normalize_text(t), " ")
    return df.select(
        F.col(id_col),
        F.length(t).alias("n_chars_raw"),
        F.size(words).alias("n_words"),
        F.regexp_count(t, F.lit(r"\w+")).alias("n_tokens"),
        F.size(F.array_distinct(words)).alias("n_uniq_words"),
        *extra,
    )


def quality_features(col: Column) -> dict[str, Column]:
    """Length / punctuation / alpha / digit / whitespace ratios — the
    classic cheap quality signals. Counts are exact ints; each ratio is
    a single IEEE division (engine-portable). A zero-length document
    yields NULL ratios (guarded division: under ANSI mode a bare x/0
    would abort the whole query on the first empty doc — r9 edge-corpus
    probe; the catalog corpus has none, so oracle hashes are
    unaffected)."""
    n = F.length(col).cast("double")

    def ratio(cnt: Column) -> Column:
        return F.when(n > 0, cnt / n)

    alpha = F.length(F.regexp_replace(col, r"[^a-zA-Z]", ""))
    digit = F.length(F.regexp_replace(col, r"[^0-9]", ""))
    punct = F.length(F.regexp_replace(col, r"[^.,;:!?]", ""))
    space = F.length(F.regexp_replace(col, r"[^ ]", ""))
    words = F.split(normalize_text(col), " ")
    return {
        "n_chars": F.length(col),
        "alpha_ratio": ratio(alpha),
        "digit_ratio": ratio(digit),
        "punct_ratio": ratio(punct),
        "space_ratio": ratio(space),
        "mean_word_len": (F.length(F.concat_ws("", words)).cast("double"))
        / F.size(words),
        "uniq_ratio": F.size(F.array_distinct(words)).cast("double") / F.size(words),
    }


def quality_score(col: Column) -> Column:
    """Fixed linear combination → [roughly 0..1]; deterministic: the
    operand order is fixed and every term is a ratio of exact ints."""
    f = quality_features(col)
    return (
        f["alpha_ratio"] * 0.5
        + f["uniq_ratio"] * 0.3
        + (F.lit(1.0) - f["digit_ratio"]) * 0.1
        + (F.lit(1.0) - f["punct_ratio"]) * 0.1
    )


def fingerprint(col: Column) -> Column:
    """Deterministic document fingerprint: md5 of the normalized text."""
    return F.md5(normalize_text(col))


# PII surface patterns — the regex subset where Java (Spark) and RE2
# (DuckDB / most scanners) agree exactly: character classes, bounded
# repetition, ASCII \b; no lookaround, no backrefs. Order matters for
# redaction: email first so its digit runs are gone before the
# number-shaped patterns run.
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "phone": r"\+[0-9]{1,3} [0-9]{3} [0-9]{4}\b",
    "ipv4": r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b",
    "ssn": r"\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b",
}


def pii_counts(col: Column) -> dict[str, Column]:
    """Per-type PII match counts — the detection half of the scrubbing
    pass every training-data pipeline runs before anything else. Pure
    `regexp_count` expressions (JVM-side, codegen'd): at 100 TB this
    rides in the same single scan as the other text signals."""
    return {name: F.regexp_count(col, F.lit(pat)) for name, pat in PII_PATTERNS.items()}


def redact_pii(col: Column) -> Column:
    """Replace every PII span with a typed placeholder (`<EMAIL>` …) —
    the redaction half. Sequential regexp_replace in PII_PATTERNS
    order; each pattern sees the previous one's output, so e.g. an
    email's digit runs can't double-match the number-shaped types."""
    out = col
    for name, pat in PII_PATTERNS.items():
        out = F.regexp_replace(out, pat, f"<{name.upper()}>")
    return out


def dup_ngram_frac(col: Column, n: int = 3) -> Column:
    """Within-document repetition: 1 − distinct/total word n-grams —
    the Gopher-style 'duplicate n-gram fraction' signal (high values =
    boilerplate/spam loops). NULL for docs shorter than n words. Pure
    expression (transform over a sequence + array_distinct), so it
    stays inside the document-scoring scan pass; exact on both engines
    (int/int division of exactly-representable counts)."""
    words = F.split(normalize_text(col), " ")
    total = F.size(words) - (n - 1)
    grams = word_grams(words, n)
    frac = F.lit(1.0) - F.size(F.array_distinct(grams)).cast("double") / total
    return F.when(F.size(words) >= n, frac)


def chunk_docs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    chunk_words: int = 64,
    overlap_words: int = 16,
) -> DataFrame:
    """Sliding-window document chunking — the RAG-ingestion primitive:
    each document becomes overlapping word-window chunks with the char
    offset a retrieval citation needs. Window starts step by
    ``chunk_words - overlap_words``; the start sequence stops at
    ``len - overlap`` so the final window always covers the tail (for
    any n > 0 the last chunk's end ≥ n).

    Offsets are into the NORMALIZED single-space text (the same form
    the chunk text itself is cut from), so
    ``substr(norm, char_start + 1, length(chunk))`` reproduces every
    chunk exactly.

    Scale shape: a pure flat-map — expression-only (split, sequence,
    slice, posexplode), one scan, zero shuffle, output rows ∝
    tokens / stride. Returns (id, chunk_pos, char_start, n_chunk_words,
    chunk_text)."""
    if overlap_words >= chunk_words:
        raise ValueError("overlap_words must be < chunk_words")
    stride = chunk_words - overlap_words
    words = F.split(normalize_text(F.col(text_col)), " ")
    starts = F.sequence(
        F.lit(1),
        F.greatest(F.size(words) - overlap_words, F.lit(1)),
        F.lit(stride),
    )
    s = F.col("_start")
    chunk = F.slice(F.col("_w"), s, chunk_words)
    return (
        df.select(
            F.col(id_col),
            words.alias("_w"),
            F.posexplode(starts).alias("chunk_pos", "_start"),
        )
        .select(
            id_col,
            "chunk_pos",
            F.when(s == 1, F.lit(0))
            .otherwise(
                F.length(F.array_join(F.slice(F.col("_w"), 1, s - 1), " ")) + 1
            )
            .alias("char_start"),
            F.size(chunk).alias("n_chunk_words"),
            F.array_join(chunk, " ").alias("chunk_text"),
        )
    )


def phrase_blocklist_hits(
    df: DataFrame,
    phrases: DataFrame,
    text_col: str,
    id_col: str,
    phrase_id_col: str = "phrase_id",
    phrase_col: str = "phrase",
    toks: DataFrame | None = None,
) -> DataFrame:
    """Multi-phrase exact matching — the banned-phrase / policy
    blocklist filter: which documents contain which of N phrases, with
    exact whole-word occurrence counts.

    Scale shape: NOT a doc×phrase contains() nested loop. Each
    phrase's FIRST word anchors a broadcast equi-join against the
    document's distinct words (one explode ∝ tokens, candidates ∝
    anchor hits), and only candidates pay the contains verify + the
    exact count (the replace length-delta idiom — one pass over the
    text per matched phrase, not per blocklist entry). The phrase
    table is benchmark/policy-sized: it broadcasts.

    Matching is on the NORMALIZED text with word boundaries (a phrase
    never matches inside another word). Pass ``toks`` (a (doc, words)
    relation — the shared persisted tokenization) to skip the
    normalize+split scan. Returns (id, phrase_id, n_hits ≥ 1).

    Counting detail: word boundaries are DOUBLED spaces on the text
    side and single spaces at the phrase's edges, so back-to-back
    occurrences ("bad phrase bad phrase") each keep a boundary space
    to match against — the plain ' p ' replace idiom consumes the
    shared space and undercounts exactly the repetitive-spam case a
    blocklist exists for."""
    if toks is None:
        from .dedup import tokenized

        toks = tokenized(df, text_col, id_col)
    words = toks.select(
        F.col("doc"),
        # single-space rejoin reproduces normalize_text exactly (the
        # normalized form has no leading/trailing/duplicate spaces);
        # then every boundary doubles so adjacent matches can't starve
        # each other of a space
        F.concat(
            F.lit(" "),
            F.replace(F.concat_ws(" ", "words"), F.lit(" "), F.lit("  ")),
            F.lit(" "),
        ).alias("_padded"),
        F.explode(F.array_distinct(F.col("words"))).alias("_w"),
    )
    # the phrase side goes through the SAME normalize_text as the
    # document side — an uppercase / oddly-spaced blocklist entry must
    # match, not silently return zero hits (the anchor join compares
    # against lowercased normalized words). Phrases that normalize to
    # empty can never match and are dropped.
    p = (
        phrases.select(
            F.col(phrase_id_col),
            normalize_text(F.col(phrase_col)).alias("_p"),
        )
        .filter(F.col("_p") != "")
        .withColumn("_anchor", F.split(F.col("_p"), " ").getItem(0))
    )
    cand = words.join(
        F.broadcast(p), words["_w"] == p["_anchor"]
    ).drop("_w", "_anchor")
    target = F.concat(
        F.lit(" "),
        F.replace(F.col("_p"), F.lit(" "), F.lit("  ")),
        F.lit(" "),
    )
    removed = F.replace(F.col("_padded"), target, F.lit(" "))
    n_hits = (
        (F.length("_padded") - F.length(removed))
        / (F.length(target) - 1)
    ).cast("int")
    return (
        cand.select(
            F.col("doc").alias(id_col),
            phrase_id_col,
            n_hits.alias("n_hits"),
        )
        .filter(F.col("n_hits") > 0)
    )


def topk_words(df: DataFrame, text_col: str, k: int = 50) -> DataFrame:
    """Corpus-level top-k vocabulary — the frequency/heavy-hitters
    report a pipeline runs for tokenizer training and corpus QA.
    Exact, with a deterministic (count DESC, word ASC) tiebreak so the
    result is reproducible across engines.

    Scale shape: explode → two-level hash aggregate (map-side partial
    counts mean the shuffle carries one row per DISTINCT word per
    partition, not per token) → `orderBy(...).limit(k)`, which Spark
    compiles to TakeOrderedAndProject — a per-partition heap + driver
    merge of k rows, never a global sort of the vocabulary.

    Returns (word, cnt, rank) with rank 1..k."""
    words = df.select(
        F.explode(F.split(normalize_text(F.col(text_col)), " ")).alias("word")
    ).filter(F.col("word") != "")
    counts = words.groupBy("word").agg(F.count(F.lit(1)).alias("cnt"))
    top = counts.orderBy(F.col("cnt").desc(), F.col("word")).limit(k)
    w = Window.orderBy(F.col("cnt").desc(), F.col("word"))
    return top.withColumn("rank", F.row_number().over(w))


def unigram_lm_model(df: DataFrame, text_col: str) -> tuple[list, int]:
    """Train the statistical language model a perplexity filter needs:
    exact global unigram counts (explode → partial-agg groupBy —
    shuffle ∝ vocabulary, never corpus) collected to the driver.
    CCNet-style pipelines use a 5-gram KenLM; the operator SHAPE is
    identical — train corpus statistics once, broadcast the model,
    score every document in one pass. This corpus's vocabulary is
    tiny (~31 words) so the model is a literal map; at real scale it
    ships as a broadcast table or hashed buckets.

    Returns (sorted [(word, count)], total_tokens)."""
    return unigram_lm_model_from_words(
        df.select(F.split(normalize_text(F.col(text_col)), " ").alias("_lm_w")),
        "_lm_w",
    )


def unigram_lm_model_from_words(
    df: DataFrame, words_col: str, max_vocab: int | None = None
) -> tuple[list, int]:
    """`unigram_lm_model` off a pre-split words-array column — the
    shape that lets one persisted tokenization feed the LM-model scan
    alongside the scoring pass (r8 shared-tokenization).

    ``max_vocab`` bounds the driver collect at real scale the same way
    `fit_bpe`'s default bound does: a distributed deterministic top-N
    truncation (count desc, word asc — TakeOrderedAndProject, a
    per-partition heap), after which the total is the RETAINED-token
    total, i.e. the truncated model is the exact unigram model of the
    vocabulary-restricted corpus. Default None keeps the exact full
    model (the catalog's hash contract); production perplexity filters
    cap the vocabulary anyway (KenLM prunes singletons)."""
    counts_df = (
        df.select(F.explode(F.col(words_col)).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    if max_vocab is not None:
        counts_df = counts_df.orderBy(
            F.col("c").desc(), F.col("w").asc()
        ).limit(max_vocab)
    rows = counts_df.collect()
    counts = sorted((r["w"], r["c"]) for r in rows)
    return counts, sum(c for _, c in counts)


def unigram_lm_product(model: tuple[list, int], words: Column) -> Column:
    """Per-document likelihood under the unigram model: Π p(wᵢ) as an
    ORDERED left fold over the words array. Deliberately NOT a log
    sum: libm log() differs by ulps across engines, while the raw
    product is pure IEEE multiply/divide — bit-deterministic and
    hash-exact against any engine's identical fold. Doc lengths of a
    few hundred words keep the product far above double underflow
    (~1e-2 per factor → ≥1e-240 at 120 words); longer docs should
    switch to the log form and a tolerance check."""
    counts, total = model
    mp = F.create_map(*[F.lit(x) for wc in counts for x in wc])
    probs = F.transform(
        words, lambda w: F.element_at(mp, w).cast("double") / F.lit(float(total))
    )
    return F.aggregate(probs, F.lit(1.0), lambda acc, p: acc * p)


def bigram_lm_model_from_words(
    df: DataFrame,
    words_col: str,
    max_vocab: int | None = None,
    unigram: tuple[list, int] | None = None,
) -> tuple[list, list, int]:
    """The bigram half of a stupid-backoff LM (Brants et al. 2007 —
    the web-scale backoff CCNet-style perplexity filters approximate):
    exact bigram counts alongside the unigram model. Same scale shape
    as the unigram trainer: explode → partial-agg groupBy, shuffle ∝
    distinct bigrams, collected as a broadcast-literal model
    (``max_vocab`` gives the same deterministic top-N driver bound;
    at real scale the model ships as a broadcast table or hashed
    buckets — see dsir_model).

    Pass ``unigram`` to reuse an already-trained unigram model (the
    shared-tokenization pattern: one cached relation, one unigram
    aggregation feeding both LM variants).

    Returns (sorted [(bigram, count)], unigram model list, total)."""
    uni, total = unigram or unigram_lm_model_from_words(
        df, words_col, max_vocab
    )
    grams_df = (
        df.select(
            F.explode(word_grams(F.col(words_col), 2)).alias("g")
        )
        .groupBy("g")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    if max_vocab is not None:
        grams_df = grams_df.orderBy(
            F.col("c").desc(), F.col("g").asc()
        ).limit(max_vocab)
    bi = sorted((r["g"], r["c"]) for r in grams_df.collect())
    return bi, uni, total


def bigram_backoff_product(
    model: tuple[list, list, int], words: Column, alpha: float = 0.4
) -> Column:
    """Per-document transition likelihood under stupid backoff:
    Π over word bigrams of [ c(w₁w₂)/c(w₁) if the bigram was seen,
    else α · c(w₂)/total ] — an ORDERED left fold, kept as a raw IEEE
    product for the same bit-determinism contract as
    `unigram_lm_product` (no libm log). An unseen w₂ contributes
    α·0 = 0 (hard out-of-vocabulary reject); single-word docs have no
    transitions and score 1.0. Very long documents can gradually
    underflow — IEEE subnormal arithmetic is still deterministic on
    both engines, but the signal saturates at 0; switch to the log
    form past a few hundred words."""
    bi, uni, total = model
    mp_bi = F.create_map(*[F.lit(x) for gc in bi for x in gc])
    mp_uni = F.create_map(*[F.lit(x) for wc in uni for x in wc])

    def p(g: Column) -> Column:
        parts = F.split(g, " ")
        bc = F.element_at(mp_bi, g)
        return F.when(
            bc.isNotNull(),
            bc.cast("double")
            / F.element_at(mp_uni, parts.getItem(0)).cast("double"),
        ).otherwise(
            F.lit(float(alpha))
            * F.coalesce(
                F.element_at(mp_uni, parts.getItem(1)).cast("double"),
                F.lit(0.0),
            )
            / F.lit(float(total))
        )

    probs = F.transform(word_grams(words, 2), p)
    return F.aggregate(probs, F.lit(1.0), lambda acc, x: acc * x)


def mixture_sample(df: DataFrame, id_col: str, threshold_hex: Column) -> DataFrame:
    """Deterministic domain-mixture sampling — the 'hit a target
    source/domain mix' step of corpus assembly (e.g. upsample curated
    sources, downsample crawl): keep a row iff the first 4 hex digits
    of md5(id) sort below ``threshold_hex`` (a per-row 4-digit
    lowercase-hex threshold column; '8000' keeps ~1/2, '4000' ~1/4,
    'ffff'+carry → use '￿'-free 'g000'…; any string ≥ 'g' keeps
    all since hex digits top out at 'f').

    Fixed-width lowercase hex compares byte-wise identically to the
    integer bucket on EVERY engine — no hex→int conversion needed, so
    the same predicate runs verbatim in Spark, DuckDB, or a warehouse.
    It is a pure scan-level filter: pushes down, shuffles nothing,
    reproducible run-to-run (unlike rand()-based .sample()), and
    composable with stratified/packing passes downstream."""
    bucket = F.substring(F.md5(F.col(id_col).cast("string")), 1, 4)
    return df.filter(bucket < threshold_hex)


def token_hash_vectors(
    df: DataFrame, text_col: str, id_col: str, dim: int = 64, ngram: int = 1
) -> DataFrame:
    """Dense n-gram-bucket count vectors — the hashing-trick featurizer
    (one dim per hash bucket, value = gram occurrences). Near-duplicate
    documents share most grams, so their vectors land at cosine ≈ 1:
    this is the text→embedding bridge that gives the embedding-dedup
    operators ORGANIC near-dup geometry instead of synthetic fixtures.

    Feature choice drives GEOMETRY, and geometry drives LSH
    selectivity: unigrams (ngram=1) put every pair of same-language
    docs at cosine ≈ 0.85 (shared stopword mass — a continuum, no
    family separates it), while word 3-grams are near-disjoint between
    unrelated docs, yielding a bimodal distribution (near-dups ≥ 0.95,
    background < 0.5 at dim=256, NOTHING between — measured on the
    documents corpus). Use ngram=3/dim=256 for dedup; dim must be
    large enough that birthday collisions don't lift the background
    (64 buckets put it at ~0.5, 256 at ~0.16).

    Engine-portable and bit-exact: the bucket is md5-derived (identical
    on any engine, unlike murmur3), and counts are small integers, so
    dot products and norms are exact in double on both sides. Docs
    with fewer than `ngram` words produce no grams and are excluded
    (same rule as the MinHash pipeline's zero-shingle drop).

    Scale shape: explode → count per (doc, bucket) with map-side
    partials → ≤dim entries per doc assembled into a map → dense array.
    Two shuffles, both keyed on doc_id (high-cardinality, unskewed);
    state per doc is O(dim).

    Returns (id_col, embedding: array<double>).
    """
    return token_hash_vectors_from_words(
        df.select(
            F.col(id_col),
            F.split(normalize_text(F.col(text_col)), " ").alias("_thv_w"),
        ),
        "_thv_w",
        id_col,
        dim=dim,
        ngram=ngram,
    )


def token_hash_vectors_from_words(
    df: DataFrame, words_col: str, id_col: str, dim: int = 64, ngram: int = 1
) -> DataFrame:
    """`token_hash_vectors` off a pre-split words-array column — the
    shared-tokenization shape (one persisted normalize+split pass
    feeding featurization alongside shingling/decontamination)."""
    words = F.col(words_col)
    grams = words if ngram == 1 else word_grams(words, ngram)
    toks = df.select(F.col(id_col), F.explode(grams).alias("tok"))
    bucket = (F.conv(F.substring(F.md5("tok"), 1, 4), 16, 10).cast("int") % dim)
    counts = toks.groupBy(id_col, bucket.alias("bucket")).agg(
        F.count(F.lit(1)).alias("c")
    )
    dense = F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda i: F.coalesce(F.col("m")[i], F.lit(0)).cast("double"),
    )
    return (
        counts.groupBy(id_col)
        .agg(F.map_from_entries(F.collect_list(F.struct("bucket", "c"))).alias("m"))
        .select(F.col(id_col), dense.alias("embedding"))
    )


def dsir_model(
    df: DataFrame, text_col: str, target: Column, buckets: int = 64
) -> tuple[list, int, int, int]:
    """Train the DSIR importance-weight model (Xie et al. 2023,
    "Data Selection for Language Models via Importance Resampling",
    public): hashed word-bigram bag-of-grams counts for the TARGET
    distribution (rows where `target` holds — e.g. a trusted domain
    or language tag) and the RAW distribution (the whole corpus), in
    ONE scan (explode grams, groupBy bucket with a conditional count —
    shuffle ∝ `buckets`, never corpus). The model is O(buckets) and
    collects to the driver (ships as a literal/broadcast, exactly like
    `unigram_lm_model`).

    The bucket is md5-derived (engine-portable, unlike murmur3) so the
    oracle recomputes identical counts.

    Returns (sorted [(bucket, target_count, raw_count)], T, R, buckets)
    with T/R the total target/raw gram occurrences."""
    return dsir_model_from_words(
        df.select(
            F.split(normalize_text(F.col(text_col)), " ").alias("_ds_w"),
            target.alias("_ds_t"),
        ),
        "_ds_w",
        F.col("_ds_t"),
        buckets=buckets,
    )


def dsir_model_from_words(
    df: DataFrame, words_col: str, target: Column, buckets: int = 64
) -> tuple[list, int, int, int]:
    """`dsir_model` off a pre-split words-array column (r8 shared
    tokenization — see `unigram_lm_model_from_words`)."""
    toks = df.select(
        target.alias("is_t"),
        F.explode(word_grams(F.col(words_col), 2)).alias("tok"),
    )
    bucket = F.conv(F.substring(F.md5("tok"), 1, 4), 16, 10).cast("int") % buckets
    rows = (
        toks.groupBy(bucket.alias("b"))
        .agg(
            F.count(F.when(F.col("is_t"), 1)).alias("t"),
            F.count(F.lit(1)).alias("r"),
        )
        .collect()
    )
    counts = sorted((int(x["b"]), int(x["t"]), int(x["r"])) for x in rows)
    return (
        counts,
        sum(t for _, t, _ in counts),
        sum(r for _, _, r in counts),
        buckets,
    )


def dsir_weight(model: tuple[list, int, int, int], words: Column) -> Column:
    """Per-document DSIR importance weight: Π over the doc's hashed
    bigrams g of p̂_target(g)/p̂_raw(g), add-1-smoothed — documents
    that look like the target distribution score > 1, off-target < 1;
    resampling ∝ weight is the DSIR selection step. Like
    `unigram_lm_product` this is an ORDERED left fold of pure IEEE
    ratios (each factor is ((t+1)/(T+B)) / ((r+1)/(R+B)) with integer
    inputs exactly converted), deliberately log-free so the result is
    bit-deterministic and hash-exact against any engine's identical
    fold — even a factor underflowing to subnormal is IEEE-identical
    on both sides."""
    counts, tot_t, tot_r, buckets = model
    mt = F.create_map(*[F.lit(x) for b, t, _ in counts for x in (b, t)])
    mr = F.create_map(*[F.lit(x) for b, _, r in counts for x in (b, r)])
    bl = F.transform(
        word_grams(words, 2),
        lambda g: F.conv(F.substring(F.md5(g), 1, 4), 16, 10).cast("int")
        % buckets,
    )
    dt = float(tot_t + buckets)
    dr = float(tot_r + buckets)
    zero = F.lit(0)
    factors = F.transform(
        bl,
        # coalesce: a NEW document (scored outside the training
        # corpus) can hit buckets absent from the model — smoothing
        # covers them with count 0 instead of a NULL-poisoned product
        lambda b: (
            ((F.coalesce(F.element_at(mt, b), zero) + 1).cast("double")
             / F.lit(dt))
            / ((F.coalesce(F.element_at(mr, b), zero) + 1).cast("double")
               / F.lit(dr))
        ),
    )
    return F.aggregate(factors, F.lit(1.0), lambda acc, p: acc * p)


def budget_mixture_thresholds(
    df: DataFrame, group_col: str, size_col: str, denom: int = 2
) -> list[tuple[str, int]]:
    """The MEASURE half of budget-driven mixture sampling: give every
    source an equal share of a global size budget (total_size //
    (denom * n_sources)), derived from the corpus's own measured
    per-source sizes — big sources get aggressively downsampled,
    small ones kept whole, which is exactly how a target training mix
    is hit in practice (measure, derive rates, apply).

    Thresholds are INTEGER-ONLY 16-bit bucket bounds:
    min(65536, budget * 65536 // size_s) — no floating point anywhere
    in the derivation, so any engine reproduces them bit-for-bit from
    the same counts. 65536 means keep-all.

    Scale shape: one partial-agg groupBy (shuffle ∝ sources — tiny) +
    a driver-side division per source; the APPLY half stays a pure
    scan filter (`mixture_sample`), so the corpus itself is never
    shuffled or materialized.

    Degenerate inputs fail loudly instead of corrupting the mix: a
    NULL group key or a NULL/zero size total (a source with no
    measurable bytes cannot receive a meaningful share, and silently
    skipping it would misstate the per-source budget) raises
    ValueError naming the offending groups.

    Returns sorted [(group, threshold_int)].
    """
    counts = _mixture_counts(df, group_col, size_col)
    total = sum(t for _, t in counts)
    budget = total // (denom * len(counts))
    return [(g, min(65536, budget * 65536 // t)) for g, t in counts]


def _mixture_counts(
    df: DataFrame, group_col: str, size_col: str
) -> list[tuple[str, int]]:
    """Shared measure half of the mixture-threshold derivations: exact
    per-group size totals (one tiny partial-agg groupBy, shuffle ∝
    sources), sorted for determinism, with the loud degenerate-input
    policy every derivation shares."""
    rows = df.groupBy(group_col).agg(F.sum(size_col).alias("t")).collect()
    if not rows:
        # empty corpus: a mixture over zero sources is meaningless,
        # and letting it through surfaces as a bare ZeroDivisionError
        # in the share arithmetic (r9 empty-table probe)
        raise ValueError(
            "mixture thresholds: the corpus has no rows — no sources "
            "to derive a mixture from"
        )
    bad = [
        r[group_col]
        for r in rows
        if r[group_col] is None or r["t"] is None or int(r["t"]) <= 0
    ]
    if bad:
        raise ValueError(
            "mixture thresholds: NULL group key or NULL/zero "
            f"{size_col} total for group(s) {bad!r}; filter or fix these "
            "sources before deriving a mixture"
        )
    return sorted((r[group_col], int(r["t"])) for r in rows)


def temperature_mixture_thresholds(
    df: DataFrame, group_col: str, size_col: str, denom: int = 2
) -> list[tuple[str, int]]:
    """Temperature-based mixture sampling (α = 0.5): per-source target
    shares ∝ size^α instead of the equal shares of
    `budget_mixture_thresholds` — the α-smoothed multinomial every
    multilingual/multi-domain training recipe uses (upweight small
    sources relative to proportional, keep big sources dominant but
    flattened).

    Derivation stays INTEGER-ONLY for the hash contract, with the one
    irrational step done as math.isqrt (exact):
        budget   = Σ size // denom
        share_s  = budget · isqrt(size_s) // Σ isqrt(size_j)
        thr_s    = min(65536, share_s · 65536 // size_s)
    An oracle reproduces isqrt as FLOOR(SQRT(CAST(c AS DOUBLE))) —
    exact for counts below 2^51 (the correctly-rounded double sqrt of
    an integer c < 2^51 never crosses an integer boundary), far above
    any per-source corpus size.

    Same scale shape and degenerate-input policy as
    `budget_mixture_thresholds` (shared `_mixture_counts` measure
    half); the APPLY half is the same pushdown `mixture_sample` scan
    filter."""
    import math

    counts = _mixture_counts(df, group_col, size_col)
    budget = sum(t for _, t in counts) // denom
    roots = {g: math.isqrt(t) for g, t in counts}
    sum_r = sum(roots.values())
    return [
        (g, min(65536, (budget * roots[g] // sum_r) * 65536 // t))
        for g, t in counts
    ]


def unimax_mixture_thresholds(
    df: DataFrame,
    group_col: str,
    size_col: str,
    denom: int = 2,
    cap_milli_epochs: int = 1000,
) -> list[tuple[str, int]]:
    """UniMax mixture sampling (Chung et al. 2023, "UniMax: Fairer and
    More Effective Language Sampling for Large-Scale Multilingual
    Pretraining", public): spread the global budget UNIFORMLY across
    sources subject to a per-source epoch cap, redistributing any
    surplus a small source cannot absorb to the remaining ones
    (water-filling). This fixes the budget waste of
    `budget_mixture_thresholds`: an equal share granted to a source
    smaller than the share is simply truncated there, while UniMax
    re-levels it across the still-unfunded sources, so the kept total
    actually hits the budget.

    Derivation is INTEGER-ONLY (hash contract) and CLOSED-FORM — no
    sequential re-leveling loop. With caps sorted ascending
    (cap_s = min(size_s, size_s·cap_milli_epochs // 1000), the ≤1-epoch
    cap a keep-filter can realize), source i is *fully funded* iff
    funding it and giving every later source at least as much fits:
        prefix_{i-1} + cap_i · (n − i + 1) ≤ budget
    (prefix-closed under the ascending sort since cap_{i+1} ≥ cap_i, so
    the funded set is the first k sources). Everyone else gets the
    integer water level (budget − prefix_k) // (n − k), which the same
    inequality guarantees is below their cap. Thresholds are then the
    16-bit bucket bounds of `mixture_sample`. An oracle reproduces the
    whole derivation with one window pass (row_number + running sum),
    no recursion.

    Same scale shape and degenerate-input policy as the other mixture
    derivations (shared `_mixture_counts` measure half, shuffle ∝
    sources); the APPLY half is the same pushdown md5-bucket scan
    filter. Returns sorted [(group, threshold_int)]."""
    counts = _mixture_counts(df, group_col, size_col)
    budget = sum(t for _, t in counts) // denom
    return sorted(_unimax_water_fill(counts, budget, cap_milli_epochs))


def _unimax_water_fill(
    counts: list[tuple[str, int]], budget: int, cap_milli_epochs: int = 1000
) -> list[tuple[str, int]]:
    """Pure integer half of `unimax_mixture_thresholds` (separated so
    the derivation is property-testable without a session): given
    [(group, size)] and a budget, return [(group, 16-bit threshold)]
    for the water-filled allocation. See the caller for the closed
    form and its funded-prefix argument."""
    capped = sorted(
        (min(t, t * cap_milli_epochs // 1000), g, t) for g, t in counts
    )
    n = len(capped)
    prefix = 0
    k = 0  # fully-funded source count
    for i, (c, _g, _t) in enumerate(capped, 1):
        if prefix + c * (n - i + 1) <= budget:
            prefix += c
            k = i
        else:
            break
    level = (budget - prefix) // (n - k) if k < n else 0
    return [
        (g, min(65536, (c if i <= k else level) * 65536 // t))
        for i, (c, g, t) in enumerate(capped, 1)
    ]


def threshold_hex(thr: Column) -> Column:
    """4-digit lowercase hex of a 16-bit threshold, 'g' for keep-all
    (sorts above every hex digit). Matches `mixture_sample`'s string
    comparison on md5 prefixes."""
    return F.when(thr >= 65536, F.lit("g")).otherwise(
        F.lower(F.lpad(F.conv(thr.cast("string"), 10, 16), 4, "0"))
    )
