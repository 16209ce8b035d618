"""Text-analysis pack over the `documents` table: token stats,
language ID, quality scoring. Pure-expression operators
(operators/text.py) mirrored exactly in the SQL oracles.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from pyspark.sql.window import Window

from ..operators import gopher as G
from ..operators import text as X
from ..operators.dedup import NORM_SQL as _D_NORM_SQL
from ..operators import url as U
from ..util import persist_tracked as _persist_tracked
from ..util import release_caches as _release_caches
from .helpers import overlap, spread, table

_NORM_SQL = _D_NORM_SQL


_TOKEN_SQL = f"""
SELECT doc_id,
       LENGTH(text) AS n_chars_raw,
       len(string_split({_NORM_SQL}, ' ')) AS n_words,
       len(regexp_extract_all(text, '\\w+')) AS n_tokens,
       len(list_distinct(string_split({_NORM_SQL}, ' '))) AS n_uniq_words
FROM documents
"""


def _sql_word_count(word: str) -> str:
    target = f" {word} "
    width = len(target) - 1
    padded = f"' ' || {_NORM_SQL} || ' '"
    return (
        f"CAST((LENGTH({padded}) - LENGTH(REPLACE({padded}, '{target}', ' ')))"
        f" / {width} AS INT)"
    )


def _sql_lang_score(lang: str) -> str:
    return " + ".join(_sql_word_count(w) for w in X.LANG_MARKERS[lang])


def _sql_lang_cols() -> str:
    """Per-language score COLUMNS — evaluated once in a CTE so the
    CASE walk below duplicates only cheap column refs, never the
    string-op trees (the inline walk was a 2^n blowup on both
    engines)."""
    return ", ".join(
        f"({_sql_lang_score(lang)}) AS s_{lang}" for lang in X.LANG_MARKERS
    )


def _sql_lang_case() -> str:
    """Strictly-greater displacement walk over the s_<lang> columns —
    identical tie/und semantics to operators.text.lang_id (all-int
    comparisons, so any faithful argmax formulation hash-matches)."""
    best, best_score = "'und'", "0"
    for lang in X.LANG_MARKERS:
        s = f"s_{lang}"
        best = f"CASE WHEN ({s}) > ({best_score}) THEN '{lang}' ELSE {best} END"
        best_score = f"CASE WHEN ({s}) > ({best_score}) THEN ({s}) ELSE ({best_score}) END"
    return best


def _lang_id_sql() -> str:
    return f"""
WITH s AS (SELECT doc_id, {_sql_lang_cols()} FROM documents)
SELECT doc_id, {_sql_lang_case()} AS lang_guess FROM s
"""


_QUALITY_SQL = f"""
WITH f AS (
  SELECT doc_id,
         LENGTH(text) AS n_chars,
         LENGTH(regexp_replace(text, '[^a-zA-Z]', '', 'g'))
           / CAST(LENGTH(text) AS DOUBLE) AS alpha_ratio,
         LENGTH(regexp_replace(text, '[^0-9]', '', 'g'))
           / CAST(LENGTH(text) AS DOUBLE) AS digit_ratio,
         LENGTH(regexp_replace(text, '[^.,;:!?]', '', 'g'))
           / CAST(LENGTH(text) AS DOUBLE) AS punct_ratio,
         LENGTH(regexp_replace(text, '[^ ]', '', 'g'))
           / CAST(LENGTH(text) AS DOUBLE) AS space_ratio,
         CAST(LENGTH(list_aggregate(string_split({_NORM_SQL}, ' '), 'string_agg', ''))
              AS DOUBLE)
           / len(string_split({_NORM_SQL}, ' ')) AS mean_word_len,
         CAST(len(list_distinct(string_split({_NORM_SQL}, ' '))) AS DOUBLE)
           / len(string_split({_NORM_SQL}, ' ')) AS uniq_ratio
  FROM documents
)
SELECT doc_id, n_chars, alpha_ratio, space_ratio, uniq_ratio, mean_word_len,
       alpha_ratio * 0.5 + uniq_ratio * 0.3
         + (1.0 - digit_ratio) * 0.1 + (1.0 - punct_ratio) * 0.1 AS quality
FROM f
"""


# sequence packing: contexts of _CTX tokens, packed per shard.
# Concat-and-chunk (the GPT pretraining shape): kept docs are laid end
# to end in doc_id order within a shard and the token stream is cut
# every _CTX tokens; a doc's placement is fully determined by the
# running token sum, so the whole operator is one window cumsum. The
# per-SHARD window is the 100 TB design: a global pack would be a
# single-partition sort, while shards (O(corpus/ctx) of them in
# production; deterministic doc_id % _N_SHARDS here) pack in parallel
# and each holds O(shard) state.
_CTX = 256
_N_SHARDS = 8
_DSIR_B = 64  # hashed-bigram buckets of the DSIR model


def corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end curation-then-packing pass a training-data
    pipeline runs: keep documents that (a) look like the target
    language, (b) clear the quality score, (c) fall inside a
    token-count band — one composed expression tree, all JVM-side,
    filters evaluated in a single scan pass — then pack survivors into
    fixed _CTX-token training contexts per shard (shard_id/ctx_id/
    ctx_offset via a per-shard window cumsum; see note above). Each
    kept doc also carries its unigram-LM likelihood (lm_product — the
    perplexity-filter signal, operators/text.py:unigram_lm_model /
    unigram_lm_product; hash-exact because the ordered product fold is
    pure IEEE arithmetic on both engines) and its DSIR importance
    weight (dsir_weight — hashed-bigram target-vs-raw likelihood
    ratio, the importance-resampling selection signal of Xie et al.
    2023, trained here with the corpus's `lang` tag as the target
    distribution; hash-exact by the same ordered-IEEE-fold contract,
    operators/text.py:dsir_model / dsir_weight).

    Evaluation-barrier design (r8, replacing the r7 optimizer-taint
    hack): the expensive lang/quality/LM/DSIR expression trees live in
    ONE projection that is PERSISTED; the keep-filter runs on top of
    the InMemoryRelation, reading cached boolean-cheap columns.
    Catalyst cannot push a filter into a cached plan, so the trees are
    provably evaluated exactly once, in the parallel project — the
    same 10× win the old `monotonically_increasing_id() >= 0` taint
    bought, without resting on undocumented pushdown behavior
    (asserted in tests/test_plans.py: no nondeterministic guard, one
    occurrence of each expensive tree). The tokenization itself
    (normalize+split) is also persisted and shared by the LM-model
    scan, the DSIR-model scan and the scoring projection — three
    scans, one regex pass."""
    _release_caches("curation")
    raw = table(spark, sf_dir, "documents")
    toks = _persist_tracked(
        spread(raw).select(
            "doc_id",
            "lang",
            "text",
            F.split(X.normalize_text(F.col("text")), " ").alias("words"),
        ),
        scope="curation",
    )
    # r8: the bigram stupid-backoff model (CCNet-shaped transition
    # likelihood) trains off the SAME persisted tokenization — the
    # unigram half is reused, so only the bigram-count aggregation is
    # a new scan of the cached relation. r14 opt (guide §2.6): the
    # model trainers are independent blocking driver collects (bigram
    # consumes the unigram RESULT only to embed it in its return, so
    # the two run back to back), so they overlap on the shared
    # scheduler — the key pays max(model scans), not the sum; Spark's
    # block-level cache locking makes the concurrent first reads of
    # the toks persist compute each partition once.
    def lm_models():
        lm = X.unigram_lm_model_from_words(toks, "words")
        return lm, X.bigram_lm_model_from_words(toks, "words", unigram=lm)

    (lm, bi), ds = overlap(
        spark,
        [
            lm_models,
            lambda: X.dsir_model_from_words(
                toks, "words", F.col("lang") == "en", _DSIR_B
            ),
        ],
    )
    t = F.col("text")
    w = F.col("words")
    scored = _persist_tracked(
        toks.select(
            "doc_id",
            X.lang_id(t).alias("lang_guess"),
            X.quality_score(t).alias("quality"),
            F.size(w).alias("n_words"),
            X.unigram_lm_product(lm, w).alias("lm_product"),
            X.bigram_backoff_product(bi, w).alias("lm_bigram"),
            X.dsir_weight(ds, w).alias("dsir_weight"),
        ),
        scope="curation",
    )
    kept = scored.filter(
        (F.col("lang_guess") == "en")
        & (F.col("quality") >= 0.55)
        & (F.col("n_words") >= 20)
        & (F.col("n_words") <= 120)
    ).withColumn("shard_id", F.col("doc_id") % _N_SHARDS)
    w = (
        Window.partitionBy("shard_id")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    start = F.sum("n_words").over(w) - F.col("n_words")
    packed = kept.select(
        "doc_id",
        "lang_guess",
        "quality",
        "n_words",
        "lm_product",
        "lm_bigram",
        "dsir_weight",
        "shard_id",
        F.floor(start / _CTX).cast("long").alias("ctx_id"),
        (start % _CTX).cast("long").alias("ctx_offset"),
    )

    # WHOLE-DOC packing (late r6): the no-split variant SFT pipelines
    # use — a doc never straddles contexts; greedy first-fit in doc_id
    # order. The per-doc state (current context fill, resetting at the
    # boundary) is data-dependent, not a prefix sum, so it runs as a
    # grouped stateful batch op: applyInPandas per shard, each group a
    # single O(shard) walk — shards pack in parallel, exactly the
    # production layout. Oracle: a recursive CTE threads the same
    # (ctx, fill) state.
    def nosplit(pdf):
        pdf = pdf.sort_values("doc_id").reset_index(drop=True)
        ctx, fill, out = 0, 0, []
        for n in pdf["n_words"]:
            if fill + n > _CTX and fill > 0:
                ctx += 1
                fill = 0
            out.append(ctx)
            fill += n
        return pdf.assign(ctx_nosplit=out)

    schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in packed.schema.fields
    )
    return packed.groupBy("shard_id").applyInPandas(
        nosplit, schema + ", ctx_nosplit long"
    )


def _curation_sql() -> str:
    return f"""
WITH RECURSIVE s AS (
  SELECT doc_id, text, {_sql_lang_cols()} FROM documents
), f AS (
  SELECT doc_id,
         {_sql_lang_case()} AS lang_guess,
         LENGTH(regexp_replace(text, '[^a-zA-Z]', '', 'g'))
           / CAST(LENGTH(text) AS DOUBLE) AS alpha_ratio,
         LENGTH(regexp_replace(text, '[^0-9]', '', 'g'))
           / CAST(LENGTH(text) AS DOUBLE) AS digit_ratio,
         LENGTH(regexp_replace(text, '[^.,;:!?]', '', 'g'))
           / CAST(LENGTH(text) AS DOUBLE) AS punct_ratio,
         CAST(len(list_distinct(string_split({_NORM_SQL}, ' '))) AS DOUBLE)
           / len(string_split({_NORM_SQL}, ' ')) AS uniq_ratio,
         len(string_split({_NORM_SQL}, ' ')) AS n_words
  FROM s
), lmcounts AS (
  SELECT w, COUNT(*) AS c
  FROM (SELECT unnest(string_split({_NORM_SQL}, ' ')) AS w FROM documents)
  WHERE w <> '' GROUP BY w
), lmmodel AS (
  SELECT map_from_entries(list(row(w, c) ORDER BY w)) AS mp,
         CAST(SUM(c) AS DOUBLE) AS tot
  FROM lmcounts
), bicounts AS (
  SELECT w[i] || ' ' || w[i+1] AS g, COUNT(*) AS c
  FROM (SELECT w, unnest(generate_series(1, len(w) - 1)) AS i
        FROM (SELECT string_split({_NORM_SQL}, ' ') AS w FROM documents))
  GROUP BY g
), bimodel AS (
  SELECT map_from_entries(list(row(g, c) ORDER BY g)) AS mpb FROM bicounts
), dsg AS (
  SELECT doc_id, i,
         CAST(('0x' || substr(md5(w[i] || ' ' || w[i+1]), 1, 4)) AS INT)
           % {_DSIR_B} AS b
  FROM (SELECT doc_id, w, unnest(generate_series(1, len(w) - 1)) AS i
        FROM (SELECT doc_id, string_split({_NORM_SQL}, ' ') AS w
              FROM documents))
), dscnt AS (
  SELECT b,
         COUNT(*) FILTER (WHERE d.lang = 'en') AS t,
         COUNT(*) AS r
  FROM dsg JOIN documents d USING (doc_id) GROUP BY b
), dsmodel AS (
  SELECT map_from_entries(list(row(b, t) ORDER BY b)) AS mpt,
         map_from_entries(list(row(b, r) ORDER BY b)) AS mpr,
         CAST(SUM(t) + {_DSIR_B} AS DOUBLE) AS dt,
         CAST(SUM(r) + {_DSIR_B} AS DOUBLE) AS dr
  FROM dscnt
), dsbl AS (
  SELECT doc_id, list(b ORDER BY i) AS bl FROM dsg GROUP BY doc_id
), dsw AS (
  SELECT doc_id,
         list_reduce(
           list_prepend(CAST(1.0 AS DOUBLE),
             list_transform(bl,
               b -> (CAST(mpt[b][1] + 1 AS DOUBLE) / dt)
                    / (CAST(mpr[b][1] + 1 AS DOUBLE) / dr))),
           (a, p) -> a * p) AS dsir_weight
  FROM dsbl, dsmodel
), kept AS (
  SELECT doc_id, lang_guess,
         alpha_ratio * 0.5 + uniq_ratio * 0.3
           + (1.0 - digit_ratio) * 0.1 + (1.0 - punct_ratio) * 0.1 AS quality,
         n_words,
         list_reduce(
           list_prepend(CAST(1.0 AS DOUBLE),
             list_transform(string_split({_NORM_SQL.replace("text", "s.text")}, ' '),
                            w -> CAST(mp[w][1] AS DOUBLE) / tot)),
           (a, p) -> a * p) AS lm_product,
         list_reduce(
           list_prepend(CAST(1.0 AS DOUBLE),
             list_transform(
               [dw[i] || ' ' || dw[i+1] for i in generate_series(1, len(dw) - 1)],
               g -> CASE WHEN mpb[g][1] IS NOT NULL
                         THEN CAST(mpb[g][1] AS DOUBLE)
                              / CAST(mp[string_split(g, ' ')[1]][1] AS DOUBLE)
                         ELSE CAST(0.4 AS DOUBLE)
                              * coalesce(CAST(mp[string_split(g, ' ')[2]][1]
                                              AS DOUBLE), CAST(0.0 AS DOUBLE))
                              / tot END)),
           (a, p) -> a * p) AS lm_bigram
  FROM (SELECT *, string_split({_NORM_SQL.replace("text", "s2.text")}, ' ') AS dw
        FROM s s2) s
  JOIN f USING (doc_id), lmmodel, bimodel
  WHERE lang_guess = 'en'
    AND alpha_ratio * 0.5 + uniq_ratio * 0.3
          + (1.0 - digit_ratio) * 0.1 + (1.0 - punct_ratio) * 0.1 >= 0.55
    AND n_words BETWEEN 20 AND 120
), packed AS (
  SELECT *,
         doc_id % {_N_SHARDS} AS shard_id,
         CAST(SUM(n_words) OVER (PARTITION BY doc_id % {_N_SHARDS}
                                 ORDER BY doc_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              - n_words AS BIGINT) AS tok_start
  FROM kept
), seq AS MATERIALIZED (
  -- MATERIALIZED: the recursive step re-reads seq once per iteration;
  -- without it DuckDB inlines the whole curation pipeline into every
  -- step (measured 129s -> ~10s at sf0.01)
  SELECT *, ROW_NUMBER() OVER (PARTITION BY shard_id ORDER BY doc_id) AS rn
  FROM packed
), walk AS (
  SELECT shard_id, rn, doc_id, CAST(0 AS BIGINT) AS ctx2, n_words AS fill
  FROM seq WHERE rn = 1
  UNION ALL
  SELECT s2.shard_id, s2.rn, s2.doc_id,
         CASE WHEN w.fill + s2.n_words > {_CTX} THEN w.ctx2 + 1 ELSE w.ctx2 END,
         CASE WHEN w.fill + s2.n_words > {_CTX} THEN s2.n_words
              ELSE w.fill + s2.n_words END
  FROM walk w JOIN seq s2 ON s2.shard_id = w.shard_id AND s2.rn = w.rn + 1
)
SELECT packed.doc_id, lang_guess, quality, n_words, lm_product,
       lm_bigram,
       dsw.dsir_weight,
       packed.shard_id,
       tok_start // {_CTX} AS ctx_id,
       tok_start % {_CTX} AS ctx_offset,
       walk.ctx2 AS ctx_nosplit
FROM packed JOIN walk ON walk.doc_id = packed.doc_id
JOIN dsw ON dsw.doc_id = packed.doc_id
"""


# Deterministic per-doc URL for the url-hygiene branch of
# text_metrics: every normalization rule gets exercised (mixed-case
# scheme/host, default AND non-default ports, trailing slashes,
# tracking params before sorted keepers, fragments) and the oracle
# rebuilds the same raw string, so the driver hash certifies the
# whole canonicalization expression (operators/url.py).
def _url_raw_col() -> Column:
    did = F.col("doc_id")
    return F.concat(
        F.when(did % 3 == 0, F.lit("HTTPS")).otherwise(F.lit("Http")),
        F.lit("://News.Site"),
        (did % 7).cast("string"),
        F.lit(".Example.COM"),
        F.element_at(
            F.array(F.lit(":80"), F.lit(":443"), F.lit(":8080"), F.lit("")),
            (did % 4 + 1).cast("int"),
        ),
        F.lit("/Sec/item"),
        (did % 5).cast("string"),
        F.when(did % 2 == 0, F.lit("/")).otherwise(F.lit("")),
        F.lit("?utm_source=feed&b="),
        (did % 3).cast("string"),
        F.lit("&a=1"),
        F.when(did % 2 == 1, F.lit("#top")).otherwise(F.lit("")),
    )


_URL_RAW_SQL = """
CASE WHEN doc_id % 3 = 0 THEN 'HTTPS' ELSE 'Http' END
|| '://News.Site' || CAST(doc_id % 7 AS VARCHAR) || '.Example.COM'
|| CASE doc_id % 4 WHEN 0 THEN ':80' WHEN 1 THEN ':443'
                   WHEN 2 THEN ':8080' ELSE '' END
|| '/Sec/item' || CAST(doc_id % 5 AS VARCHAR)
|| CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END
|| '?utm_source=feed&b=' || CAST(doc_id % 3 AS VARCHAR) || '&a=1'
|| CASE WHEN doc_id % 2 = 1 THEN '#top' ELSE '' END
"""

_URL_PARTS_RE = r"^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]*)([^?#]*)(\?([^#]*))?(#.*)?$"
_URL_TRACK_RE = r"^(utm_[A-Za-z0-9_]*|fbclid|gclid|msclkid|ref_src)="


def _url_sql() -> str:
    """DuckDB mirror of operators/url.py:url_normalize — the same
    master regex (identical group numbering in RE2 and Java regex),
    the same byte-wise param sort, the same default-port/trailing-
    slash rules. array_to_string of an empty list is NULL in DuckDB
    (Spark's array_join gives ''): coalesce."""
    return f"""
SELECT doc_id,
       CASE WHEN scheme <> ''
            THEN scheme || '://' || authority || pth || tail END AS url_norm,
       host AS url_host,
       CASE WHEN dom <> '' THEN dom ELSE host END AS url_domain
FROM (
  SELECT doc_id, scheme, host,
         CASE WHEN (scheme = 'http' AND port = '80')
                OR (scheme = 'https' AND port = '443')
                OR port = ''
              THEN host ELSE host || ':' || port END AS authority,
         CASE WHEN trimmed = '' THEN '/' ELSE trimmed END AS pth,
         CASE WHEN q = '' THEN '' ELSE '?' || q END AS tail,
         regexp_extract(host, '([^.]+\\.[^.]+)$', 1) AS dom
  FROM (
    SELECT doc_id, scheme, port,
           regexp_replace(auth, ':[0-9]*$', '') AS host,
           regexp_replace(regexp_extract(u, '{_URL_PARTS_RE}', 3),
                          '/+$', '') AS trimmed,
           COALESCE(array_to_string(
             list_sort(list_filter(
               string_split(regexp_extract(u, '{_URL_PARTS_RE}', 5), '&'),
               p -> p <> '' AND NOT regexp_matches(p, '{_URL_TRACK_RE}')
             )), '&'), '') AS q
    FROM (
      SELECT doc_id, u,
             lower(regexp_extract(u, '{_URL_PARTS_RE}', 1)) AS scheme,
             lower(regexp_extract(u, '{_URL_PARTS_RE}', 2)) AS auth,
             regexp_extract(lower(regexp_extract(u, '{_URL_PARTS_RE}', 2)),
                            ':([0-9]+)$', 1) AS port
      FROM (SELECT doc_id, {_URL_RAW_SQL} AS u FROM documents)
    )
  )
)
"""


# GPT-2-style pretokenizer, minus the \s+(?!\S) lookahead (RE2 — the
# oracle's regex engine — has no lookahead; Java and RE2 agree on
# everything kept): contractions, space-prefixed letter runs, digit
# runs, punctuation runs, residual whitespace. Token COUNT under this
# split is the standard pre-BPE budget estimate (BPE merges only
# subdivide within these pieces, never across).
_BPE_RE = r"'(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s']+|\s+"


_BPE_SQL = f"""
SELECT doc_id,
       len(regexp_extract_all(text, '\\S+')) AS n_ws_tokens,
       len(regexp_extract_all(text, '{_BPE_RE.replace("'", "''")}')) AS n_bpe_tokens
FROM documents
"""

_FP_SQL = f"SELECT doc_id, md5({_NORM_SQL}) AS fp FROM documents"


# ---------------------------------------------------------------------------
# Gopher / C4 line rules (operators/gopher.py)
#
# The synthetic corpus is single-line unpunctuated word-salad, so the
# line rules run over a deterministically LINE-INJECTED twin (same
# evidence pattern as the PII enrichment below and the CDC twin):
# three chained literal replaces turn frequent vocabulary words into
# line breaks carrying terminal '.', '- ' bullets and '...' ellipses,
# so every rule has real per-document variance and the oracle
# reconstructs the identical twin. Operators are corpus-agnostic.


def _twin_lines(t: Column) -> Column:
    return F.split(
        F.replace(
            F.replace(
                F.replace(t, F.lit(" line "), F.lit(".\n- line ")),
                F.lit(" row "),
                F.lit("...\nrow "),
            ),
            F.lit(" window "),
            F.lit("!\nwindow "),
        ),
        "\n",
    )


_TWIN_LINES_SQL = (
    "string_split(replace(replace(replace(text,"
    " ' line ', '.' || chr(10) || '- line '),"
    " ' row ', '...' || chr(10) || 'row '),"
    " ' window ', '!' || chr(10) || 'window '), chr(10))"
)

_SQL_TERMINAL = "(ends_with(x, '.') OR ends_with(x, '!') OR ends_with(x, '?'))"


def _gopher_sql() -> str:
    stop_sql = " + ".join(
        f"CASE WHEN {_sql_word_count(w)} > 0 THEN 1 ELSE 0 END"
        for w in G.GOPHER_STOPWORDS
    )
    mean_wl = (
        "CAST(LENGTH(list_aggregate(words, 'string_agg', '')) AS DOUBLE)"
        " / len(words)"
    )
    return f"""
WITH tw AS (
  SELECT doc_id, text, {_TWIN_LINES_SQL} AS l,
         string_split({_NORM_SQL}, ' ') AS words
  FROM documents
), r AS (
  SELECT doc_id, text, l, words,
         len(l) AS n_lines,
         len(words) AS n_words,
         coalesce(array_to_string(l, chr(10)), '') AS joined,
         list_sum(list_transform(list_distinct(l), x ->
           (len(list_filter(l, y -> y = x)) - 1) * length(x))) AS dup_chars,
         list_sum(list_transform(l, x -> length(x))) AS total_chars,
         list_filter(l, x -> {_SQL_TERMINAL}
                             AND len(string_split(x, ' ')) >= 3) AS kept
  FROM tw
)
SELECT doc_id,
  n_lines AS g_n_lines,
  CAST(len(list_filter(l, x -> starts_with(x, '- '))) AS DOUBLE)
    / n_lines AS g_frac_bullet,
  CAST(len(list_filter(l, x -> ends_with(x, '...'))) AS DOUBLE)
    / n_lines AS g_frac_ellipsis,
  CAST(len(list_filter(l, x -> {_SQL_TERMINAL})) AS DOUBLE)
    / n_lines AS g_frac_terminal,
  1.0 - CAST(len(list_distinct(l)) AS DOUBLE) / n_lines AS g_frac_dup_lines,
  CAST(dup_chars AS DOUBLE) / total_chars AS g_frac_dup_chars,
  CAST(len(regexp_extract_all(joined, '#'))
       + len(regexp_extract_all(joined, '\\.\\.\\.')) AS DOUBLE)
    / n_words AS g_symbol_ratio,
  CAST(len(list_filter(words, x -> regexp_matches(x, '[a-z]'))) AS DOUBLE)
    / n_words AS g_frac_alpha,
  ({stop_sql}) AS g_stop_hits,
  CAST((n_words >= 50 AND n_words <= 100000
        AND {mean_wl} >= CAST(3.0 AS DOUBLE)
        AND {mean_wl} <= CAST(10.0 AS DOUBLE)
        AND g_symbol_ratio <= CAST(0.1 AS DOUBLE)
        AND g_frac_bullet <= CAST(0.9 AS DOUBLE)
        AND g_frac_ellipsis <= CAST(0.3 AS DOUBLE)
        AND g_frac_alpha >= CAST(0.8 AS DOUBLE)
        AND g_stop_hits >= 1
        AND g_frac_dup_lines <= CAST(0.30 AS DOUBLE)
        AND g_frac_dup_chars <= CAST(0.20 AS DOUBLE)) AS INT) AS gopher_keep,
  CAST(len(kept) AS DOUBLE) / n_lines AS c4_frac_kept,
  md5(coalesce(array_to_string(kept, chr(10)), '')) AS c4_clean_fp
FROM r
"""


# ---------------------------------------------------------------------------
# PII scrubbing + within-doc repetition
#
# The synthetic corpus is word-salad with no PII surface, so the PII
# branch runs the REAL detector/redactor over a deterministically
# ENRICHED text (text || suffix(doc_id)): 4 of 5 docs get exactly one
# planted PII span of a rotating type, 1 of 5 gets none, and the raw
# text body still rides through the regexes (a false positive there
# would flip the counts and the driver hash). Same evidence pattern as
# mm_real_decode's synthesized payloads — every output is
# SQL-recomputable, the operator itself is corpus-agnostic.


def _pii_enriched(doc_id: Column, text: Column) -> Column:
    m = doc_id % 5
    sfx = (
        F.when(
            m == 0,
            F.concat(
                F.lit(" contact user"), doc_id.cast("string"), F.lit("@example.com now")
            ),
        )
        .when(
            m == 1,
            F.concat(
                F.lit(" call +1 555 "),
                F.lpad((doc_id % 10000).cast("string"), 4, "0"),
                F.lit(" today"),
            ),
        )
        .when(
            m == 2,
            F.concat(
                F.lit(" from 10.0."),
                (doc_id % 256).cast("string"),
                F.lit("."),
                (doc_id % 100).cast("string"),
                F.lit(" logged"),
            ),
        )
        .when(
            m == 3,
            F.concat(
                F.lit(" ref 123-45-"),
                F.lpad((doc_id % 10000).cast("string"), 4, "0"),
                F.lit(" filed"),
            ),
        )
        .otherwise(F.lit(""))
    )
    return F.concat(text, sfx)


_PII_ENRICH_SQL = """text || CASE doc_id % 5
      WHEN 0 THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com now'
      WHEN 1 THEN ' call +1 555 ' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' today'
      WHEN 2 THEN ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.' || CAST(doc_id % 100 AS VARCHAR) || ' logged'
      WHEN 3 THEN ' ref 123-45-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' filed'
      ELSE '' END"""


def _pii_sql() -> str:
    counts = ",\n         ".join(
        f"len(regexp_extract_all(e, '{pat}')) AS n_pii_{name}"
        for name, pat in X.PII_PATTERNS.items()
    )
    redacted = "e"
    for name, pat in X.PII_PATTERNS.items():
        redacted = f"regexp_replace({redacted}, '{pat}', '<{name.upper()}>', 'g')"
    return f"""
WITH p AS (SELECT doc_id, {_PII_ENRICH_SQL} AS e FROM documents)
SELECT doc_id,
         {counts},
         md5({redacted}) AS redacted_fp
FROM p
"""


_DUP_NGRAM_SQL = f"""
WITH toks AS (
  SELECT doc_id, string_split({_NORM_SQL}, ' ') AS w FROM documents
), g AS (
  SELECT doc_id, len(w) - 2 AS total,
         CASE WHEN len(w) >= 3 THEN
           [w[i] || ' ' || w[i+1] || ' ' || w[i+2]
            for i in generate_series(1, len(w) - 2)]
         END AS grams
  FROM toks
)
SELECT doc_id,
       CASE WHEN total >= 1 THEN
         1.0 - CAST(len(list_distinct(grams)) AS DOUBLE) / total
       END AS dup_3gram_frac
FROM g
"""


def text_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every per-document text signal in ONE single-scan projection
    (former text_token_stats + text_lang_id + text_quality_score +
    text_bpe_token_count + text_fingerprint, column-merged): token
    stats, language ID, quality features + score, whitespace/BPE-ish
    token budgets, the md5 fingerprint, within-doc repetition
    (duplicate-3-gram fraction, the Gopher boilerplate signal), and the
    PII scrub pass (per-type detection counts + redacted-text
    fingerprint, over deterministically PII-enriched text — see
    _pii_enriched). All codegen'd expressions, no Python, no shuffle —
    at 100 TB this is the 'score every document once' pass, and
    reading the corpus once instead of seven times is the difference
    that matters. Every former output column is still present and
    hash-checked."""
    d = spread(table(spark, sf_dir, "documents"))
    t = F.col("text")
    feats = X.quality_features(t)
    enriched = _pii_enriched(F.col("doc_id"), t)
    pii = X.pii_counts(enriched)
    lines = _twin_lines(t)
    rules = G.line_rules(lines)
    kept = G.c4_keep_lines(lines)
    n_words = F.size(F.split(X.normalize_text(t), " "))
    return X.token_stats(
        d,
        "text",
        "doc_id",
        X.lang_id(t).alias("lang_guess"),
        feats["n_chars"].alias("n_chars"),
        feats["alpha_ratio"].alias("alpha_ratio"),
        feats["space_ratio"].alias("space_ratio"),
        feats["uniq_ratio"].alias("uniq_ratio"),
        feats["mean_word_len"].alias("mean_word_len"),
        X.quality_score(t).alias("quality"),
        F.regexp_count(t, F.lit(r"\S+")).alias("n_ws_tokens"),
        F.regexp_count(t, F.lit(_BPE_RE)).alias("n_bpe_tokens"),
        X.fingerprint(t).alias("fp"),
        X.dup_ngram_frac(t).alias("dup_3gram_frac"),
        *[pii[name].alias(f"n_pii_{name}") for name in X.PII_PATTERNS],
        F.md5(X.redact_pii(enriched)).alias("redacted_fp"),
        # r8 url-hygiene branch: canonical URL / host / registrable
        # domain (operators/url.py — expression-only, stays inside
        # this single scan) over a deterministic synthesized URL the
        # oracle reconstructs; see _url_raw_col
        U.url_normalize(_url_raw_col()).alias("url_norm"),
        U.url_host(_url_raw_col()).alias("url_host"),
        U.url_domain(_url_raw_col()).alias("url_domain"),
        # r8 gopher/c4 branch: published line-rule filters
        # (operators/gopher.py) over the line-injected twin — same
        # single scan, all codegen expressions
        rules["n_lines"].alias("g_n_lines"),
        rules["frac_bullet_lines"].alias("g_frac_bullet"),
        rules["frac_ellipsis_lines"].alias("g_frac_ellipsis"),
        rules["frac_terminal_lines"].alias("g_frac_terminal"),
        rules["frac_dup_lines"].alias("g_frac_dup_lines"),
        rules["frac_dup_line_chars"].alias("g_frac_dup_chars"),
        G.symbol_word_ratio(F.array_join(lines, "\n"), n_words).alias(
            "g_symbol_ratio"
        ),
        G.frac_alpha_words(t).alias("g_frac_alpha"),
        G.stop_hits(t).alias("g_stop_hits"),
        # min_stop_hits=1: the synthetic vocabulary carries exactly one
        # Gopher stop word ('the'); the paper's 2-of-8 would be
        # constant-false here (see gopher_keep docstring)
        G.gopher_keep(t, lines, min_stop_hits=1).alias("gopher_keep"),
        (F.size(kept).cast("double") / F.size(lines)).alias("c4_frac_kept"),
        F.md5(F.array_join(kept, "\n")).alias("c4_clean_fp"),
    )


def _text_metrics_sql() -> str:
    """Join the former standalone oracles on doc_id — each branch's SQL
    text is reused verbatim as a CTE, so a divergence in any branch
    still flips the merged hash."""
    pii_cols = ", ".join(f"pii.n_pii_{name}" for name in X.PII_PATTERNS)
    return f"""
WITH t AS ({_TOKEN_SQL}),
     l AS ({_lang_id_sql()}),
     q AS ({_QUALITY_SQL}),
     b AS ({_BPE_SQL}),
     fp AS ({_FP_SQL}),
     r AS ({_DUP_NGRAM_SQL}),
     pii AS ({_pii_sql()}),
     u AS ({_url_sql()}),
     g AS ({_gopher_sql()})
SELECT t.doc_id, t.n_chars_raw, t.n_words, t.n_tokens, t.n_uniq_words,
       l.lang_guess,
       q.n_chars, q.alpha_ratio, q.space_ratio, q.uniq_ratio,
       q.mean_word_len, q.quality,
       b.n_ws_tokens, b.n_bpe_tokens,
       fp.fp,
       r.dup_3gram_frac,
       {pii_cols}, pii.redacted_fp,
       u.url_norm, u.url_host, u.url_domain,
       g.g_n_lines, g.g_frac_bullet, g.g_frac_ellipsis, g.g_frac_terminal,
       g.g_frac_dup_lines, g.g_frac_dup_chars, g.g_symbol_ratio,
       g.g_frac_alpha, g.g_stop_hits, g.gopher_keep,
       g.c4_frac_kept, g.c4_clean_fp
FROM t
JOIN l  USING (doc_id)
JOIN q  USING (doc_id)
JOIN b  USING (doc_id)
JOIN fp USING (doc_id)
JOIN r  USING (doc_id)
JOIN pii USING (doc_id)
JOIN u  USING (doc_id)
JOIN g  USING (doc_id)
"""


QUERIES = {
    "text_metrics": text_metrics,
    "corpus_curation": corpus_curation,
}

ORACLE = {
    "text_metrics": _text_metrics_sql(),
    "corpus_curation": _curation_sql(),
}
