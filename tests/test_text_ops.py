"""PII scrubbing + within-doc repetition operators (operators/text.py).

Hand-built strings pin detection (true positives per type, the
no-match case, and near-miss false-positive probes), redaction
ordering, and the duplicate-n-gram fraction including the short-doc
NULL rule.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from rq_spark.operators import text as X


def _one(spark, s: str, cols: dict):
    df = spark.createDataFrame([(s,)], "t string")
    return df.select(*[c.alias(k) for k, c in cols.items()]).first()


def _counts(spark, s: str):
    return _one(spark, s, {k: v for k, v in X.pii_counts(F.col("t")).items()})


def test_pii_detects_each_type(spark):
    r = _counts(
        spark,
        "mail bob.smith+x@corp.example.org phone +44 123 4567 "
        "ip 192.168.0.1 ssn 078-05-1120",
    )
    assert (r["email"], r["phone"], r["ipv4"], r["ssn"]) == (1, 1, 1, 1)


def test_pii_clean_text_matches_nothing(spark):
    r = _counts(spark, "the quick brown fox jumps over 42 lazy dogs")
    assert (r["email"], r["phone"], r["ipv4"], r["ssn"]) == (0, 0, 0, 0)


def test_pii_near_misses(spark):
    # word-boundary / shape probes: version strings are not IPs with
    # only two dots, a 3-3-4 dashed number IS ssn-shaped only with
    # 3-2-4 grouping, phone requires the +CC prefix
    r = _counts(spark, "v1.2.3 build 123-456-7890 dial 555 0199")
    assert (r["ipv4"], r["ssn"], r["phone"]) == (0, 0, 0)


def test_pii_ipv4_not_inside_longer_dotted_run(spark):
    r = _counts(spark, "addr 10.0.0.1 and semver 1.2.3")
    assert r["ipv4"] == 1


def test_redact_replaces_with_typed_tokens(spark):
    out = _one(
        spark,
        "write a@b.io or call +1 555 0100 from 8.8.8.8 re 123-45-6789 end",
        {"r": X.redact_pii(F.col("t"))},
    )["r"]
    assert out == "write <EMAIL> or call <PHONE> from <IPV4> re <SSN> end"


def test_redact_email_first_protects_digit_runs(spark):
    # the email eats its own digits before number-shaped patterns run
    out = _one(spark, "u 123-45-6789@x.example.com v", {"r": X.redact_pii(F.col("t"))})["r"]
    assert out == "u <EMAIL> v"


def test_dup_ngram_frac_exact_values(spark):
    # "a b c a b c a b c": 7 3-grams, 3 distinct -> 1 - 3/7
    r = _one(spark, "a b c a b c a b c", {"d": X.dup_ngram_frac(F.col("t"))})["d"]
    assert abs(r - (1 - 3 / 7)) < 1e-12
    # all-unique text -> 0.0
    r0 = _one(spark, "one two three four five", {"d": X.dup_ngram_frac(F.col("t"))})["d"]
    assert r0 == 0.0


def test_dup_ngram_frac_short_doc_is_null(spark):
    r = _one(spark, "two words", {"d": X.dup_ngram_frac(F.col("t"))})["d"]
    assert r is None


def test_corpus_curation_packing_invariants(spark, sf_dir):
    """Concat-and-chunk packing: within each shard the placement must
    reproduce a sequential cumsum — token stream gapless, offsets in
    range, first doc at (0, 0)."""
    from rq_spark.queries.text import _CTX, _N_SHARDS, corpus_curation

    rows = corpus_curation(spark, sf_dir).orderBy("shard_id", "doc_id").collect()
    assert rows, "curation kept nothing"
    by_shard: dict = {}
    for r in rows:
        by_shard.setdefault(r["shard_id"], []).append(r)
    assert set(by_shard) <= set(range(_N_SHARDS))
    for docs in by_shard.values():
        run = 0
        ctx2, fill = 0, 0
        for r in docs:
            assert r["ctx_id"] == run // _CTX
            assert r["ctx_offset"] == run % _CTX
            run += r["n_words"]
            # no-split variant: greedy first-fit, a doc never straddles
            if fill + r["n_words"] > _CTX and fill > 0:
                ctx2 += 1
                fill = 0
            assert r["ctx_nosplit"] == ctx2
            fill += r["n_words"]
        # every no-split context really fits the budget
        fills: dict = {}
        for r in docs:
            fills[r["ctx_nosplit"]] = fills.get(r["ctx_nosplit"], 0) + r["n_words"]
        assert all(v <= _CTX for v in fills.values())


def test_mixture_sample_rates_and_determinism(spark, sf_dir):
    """Hash-threshold mixture sampling: exact determinism across runs,
    full-rate groups complete, sampled groups within binomial bounds,
    and the predicate stays a scan-level filter (no shuffle/RNG)."""
    from rq_spark.queries.core import sample_mixture

    a = sample_mixture(spark, sf_dir).collect()
    b = sample_mixture(spark, sf_dir).collect()
    assert sorted(r["doc_id"] for r in a) == sorted(r["doc_id"] for r in b)
    by_rate: dict = {}
    for r in a:
        by_rate.setdefault(r["rate"], set()).add(r["doc_id"])
    import duckdb

    tot = {
        rate: duckdb.sql(
            f"SELECT COUNT(*) FROM read_parquet('{sf_dir}/documents.parquet') "
            f"WHERE CASE WHEN CAST(substr(source,4) AS INT)<5 THEN 1.0 "
            f"WHEN CAST(substr(source,4) AS INT)<10 THEN 0.5 ELSE 0.25 END = {rate}"
        ).fetchone()[0]
        for rate in by_rate
    }
    assert len(by_rate[1.0]) == tot[1.0]  # full-rate groups keep everything
    for rate in (0.5, 0.25):
        n, kept = tot[rate], len(by_rate[rate])
        assert abs(kept - rate * n) <= 4 * (rate * (1 - rate) * n) ** 0.5 + 1

    plan = (
        sample_mixture(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan, "mixture sampling must not shuffle"


def test_unimax_water_filling_matches_arithmetic_twin(spark, sf_dir):
    """UniMax thresholds equal an independent pure-Python water-fill
    over DuckDB-counted sizes (exact, threshold for threshold), the
    water-filled allocation exhausts the budget when any source is
    unfunded (never overshoots), and it strictly beats the equal-share
    budget mixture's kept total whenever that one truncates a small
    source's surplus."""
    import duckdb

    from rq_spark.operators.text import (
        budget_mixture_thresholds,
        unimax_mixture_thresholds,
    )
    from rq_spark.queries.helpers import table

    sizes = dict(
        duckdb.sql(
            f"SELECT source, SUM(n_chars) FROM "
            f"read_parquet('{sf_dir}/documents.parquet') GROUP BY source"
        ).fetchall()
    )
    budget = sum(sizes.values()) // 2
    # independent closed-form twin: funded prefix in ascending-cap
    # order, then one shared integer level for the rest
    order = sorted(sizes.items(), key=lambda kv: (kv[1], kv[0]))
    n, prefix, k = len(order), 0, 0
    for i, (_g, c) in enumerate(order, 1):
        if prefix + c * (n - i + 1) > budget:
            break
        prefix, k = prefix + c, i
    level = (budget - prefix) // (n - k) if k < n else 0
    expect = {
        g: min(65536, (c if i <= k else level) * 65536 // c)
        for i, (g, c) in enumerate(order, 1)
    }

    d = table(spark, sf_dir, "documents")
    uni = dict(unimax_mixture_thresholds(d, "source", "n_chars", denom=2))
    assert uni == expect

    # allocation semantics: funded keep all, the rest exhaust the
    # budget exactly at the integer level (pre-threshold-rounding)
    alloc = {g: (sizes[g] if expect[g] >= 65536 else level) for g in sizes}
    if k < n:
        assert prefix + level * (n - k) <= budget < prefix + (level + 1) * (n - k)
    # strictly better budget use than the truncating equal-share mix
    bud = dict(budget_mixture_thresholds(d, "source", "n_chars", denom=2))
    share = budget // len(sizes)
    bud_alloc = sum(min(sizes[g], share) for g in sizes)
    if any(sizes[g] < share for g in sizes) and k < n:
        assert sum(alloc.values()) > bud_alloc


def test_unigram_lm_product_matches_python_fold(spark, sf_dir):
    """The LM likelihood must equal a bit-faithful Python left fold
    over the same counts — same order, same IEEE ops."""
    import duckdb

    from rq_spark.operators.text import unigram_lm_model, unigram_lm_product
    from rq_spark.queries.helpers import table

    docs = table(spark, sf_dir, "documents")
    model = unigram_lm_model(docs, "text")
    counts, total = model
    cmap = dict(counts)
    words_col = F.split(
        F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")), " "
    )
    rows = (
        docs.select(
            "doc_id", "text", unigram_lm_product(model, words_col).alias("p")
        )
        .orderBy("doc_id")
        .limit(50)
        .collect()
    )
    got = {r["doc_id"]: r["p"] for r in rows}
    texts = {r["doc_id"]: r["text"] for r in rows}
    import re

    for doc_id, text in texts.items():
        norm = re.sub(r"\s+", " ", text.lower()).strip()
        acc = 1.0
        for w in norm.split(" "):
            acc = acc * (float(cmap[w]) / float(total))
        assert got[doc_id] == acc  # BIT-exact, not approx
        assert 0.0 < acc <= 1.0
    assert total == duckdb.sql(
        f"SELECT SUM(len(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')))"
        f" FROM read_parquet('{sf_dir}/documents.parquet')"
    ).fetchone()[0]


def test_topk_words_exact_and_plan_shape(spark, sf_dir):
    """Exact counts vs a DuckDB recount; the plan must be a partial
    aggregate + TakeOrderedAndProject, never a global vocabulary sort."""
    import duckdb

    from rq_spark.operators.text import topk_words
    from rq_spark.queries.helpers import table

    df = topk_words(table(spark, sf_dir, "documents"), "text", k=10)
    got = [(r["word"], r["cnt"], r["rank"]) for r in df.collect()]
    want = duckdb.sql(
        "SELECT w, COUNT(*) AS c,"
        "       ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, w) AS rk"
        " FROM (SELECT unnest(string_split(trim(regexp_replace(lower(text),"
        "       '\\s+', ' ', 'g')), ' ')) AS w"
        f"      FROM read_parquet('{sf_dir}/documents.parquet'))"
        " WHERE w <> '' GROUP BY w ORDER BY c DESC, w LIMIT 10"
    ).fetchall()
    assert got == want

    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert "partial_count" in plan or plan.count("HashAggregate") >= 2


def test_profile_columns_one_scan_and_exact(spark, sf_dir):
    """The profiling report must be ONE scan (Expand plan, not one
    pass per column) and exactly match per-column recomputation."""
    import duckdb

    from rq_spark.operators.profiling import profile_columns
    from rq_spark.queries.helpers import table

    df = profile_columns(table(spark, sf_dir, "lineitem"), ["l_quantity", "l_tax"])
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 1
    assert "Expand" in plan  # the standard exact multi-NDV plan
    rows = {r["col_name"]: r for r in df.collect()}
    for c in ("l_quantity", "l_tax"):
        n, nn, ndv, mn, mx = duckdb.sql(
            f"SELECT COUNT(*), COUNT(*) - COUNT({c}), COUNT(DISTINCT {c}),"
            f" CAST(MIN({c}) AS DOUBLE), CAST(MAX({c}) AS DOUBLE)"
            f" FROM read_parquet('{sf_dir}/lineitem.parquet')"
        ).fetchone()
        r = rows[c]
        assert (r["n"], r["ndv"], r["min_val"], r["max_val"]) == (n, ndv, mn, mx)
        assert r["null_frac"] == nn / n


def test_text_metrics_has_new_columns(spark, sf_dir):
    from rq_spark.queries.text import text_metrics

    df = text_metrics(spark, sf_dir)
    cols = set(df.columns)
    assert {
        "dup_3gram_frac",
        "n_pii_email",
        "n_pii_phone",
        "n_pii_ipv4",
        "n_pii_ssn",
        "redacted_fp",
    } <= cols
    # enrichment plants exactly one span for 4 of 5 docs: totals over
    # the corpus must match the doc_id % 5 census (word-salad body
    # contributes no extra matches)
    agg = df.agg(
        F.sum("n_pii_email").alias("e"),
        F.sum("n_pii_phone").alias("p"),
        F.sum("n_pii_ipv4").alias("i"),
        F.sum("n_pii_ssn").alias("s"),
        F.count("*").alias("n"),
    ).first()
    import duckdb

    want = {
        m: duckdb.sql(
            f"SELECT COUNT(*) FROM read_parquet('{sf_dir}/documents.parquet')"
            f" WHERE doc_id % 5 = {m}"
        ).fetchone()[0]
        for m in range(4)
    }
    assert (agg["e"], agg["p"], agg["i"], agg["s"]) == (
        want[0],
        want[1],
        want[2],
        want[3],
    )


def test_dsir_weight_matches_python_fold(spark, sf_dir):
    """The DSIR importance weight must equal a bit-faithful Python left
    fold over the same hashed-bigram counts — same factor structure,
    same IEEE ops — and separate target-like from off-target docs."""
    import hashlib
    import re

    from rq_spark.operators.text import dsir_model, dsir_weight
    from rq_spark.queries.helpers import table

    docs = table(spark, sf_dir, "documents")
    model = dsir_model(docs, "text", F.col("lang") == "en", buckets=64)
    counts, tot_t, tot_r, buckets = model
    mt = {b: t for b, t, _ in counts}
    mr = {b: r for b, _, r in counts}
    dt = float(tot_t + buckets)
    dr = float(tot_r + buckets)

    words_col = F.split(
        F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")), " "
    )
    rows = (
        docs.select(
            "doc_id", "text", "lang", dsir_weight(model, words_col).alias("w")
        )
        .orderBy("doc_id")
        .collect()
    )

    def bucket(g: str) -> int:
        return int(hashlib.md5(g.encode()).hexdigest()[:4], 16) % buckets

    by_lang: dict[str, list[float]] = {}
    for r in rows:
        norm = re.sub(r"\s+", " ", r["text"].lower()).strip()
        ws = norm.split(" ")
        acc = 1.0
        for a, b in zip(ws, ws[1:]):
            bk = bucket(f"{a} {b}")
            acc = acc * (
                (float(mt[bk] + 1) / dt) / (float(mr[bk] + 1) / dr)
            )
        assert r["w"] == acc  # BIT-exact, not approx
        by_lang.setdefault(r["lang"], []).append(r["w"])

    # the weight must actually separate the target distribution:
    # median weight of target-language docs above 1, others below
    med = lambda xs: sorted(xs)[len(xs) // 2]  # noqa: E731
    assert med(by_lang["en"]) > 1.0
    for lang, ws in by_lang.items():
        if lang != "en":
            assert med(ws) < 1.0, lang


def test_budget_mixture_rejects_degenerate_groups(spark):
    """ADVICE r7: NULL group keys and NULL/zero size totals must raise
    a descriptive ValueError instead of ZeroDivisionError/TypeError —
    a source with no measurable bytes cannot receive a share."""
    import pytest

    from rq_spark.operators.text import budget_mixture_thresholds

    ok = spark.createDataFrame(
        [("a", 10), ("a", 20), ("b", 5)], "src string, sz long"
    )
    assert budget_mixture_thresholds(ok, "src", "sz", denom=1)

    zero = spark.createDataFrame([("a", 10), ("b", 0)], "src string, sz long")
    with pytest.raises(ValueError, match="zero"):
        budget_mixture_thresholds(zero, "src", "sz")

    nulls = spark.createDataFrame(
        [("a", 10), ("b", None)], "src string, sz long"
    )
    with pytest.raises(ValueError, match="NULL"):
        budget_mixture_thresholds(nulls, "src", "sz")

    nullkey = spark.createDataFrame(
        [("a", 10), (None, 7)], "src string, sz long"
    )
    with pytest.raises(ValueError, match="NULL group key"):
        budget_mixture_thresholds(nullkey, "src", "sz")


def test_unigram_lm_vocab_bound_is_distributed_and_deterministic(spark):
    """r8: the LM model's driver collect can be bounded like fit_bpe's
    (TakeOrderedAndProject truncation, count desc / word asc); a bound
    wider than the vocabulary reproduces the exact full model."""
    from rq_spark.operators.dedup import normalize_text
    from rq_spark.operators.text import unigram_lm_model_from_words

    df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        F.split(normalize_text(F.col("text")), " ").alias("w")
    )
    full = unigram_lm_model_from_words(df, "w")
    assert unigram_lm_model_from_words(df, "w", max_vocab=10_000) == full
    counts, total = unigram_lm_model_from_words(df, "w", max_vocab=5)
    assert len(counts) == 5
    # the retained set is exactly the top-5 by (count desc, word asc)
    want = sorted(
        sorted(full[0], key=lambda t: (-t[1], t[0]))[:5]
    )
    assert counts == want
    assert total == sum(c for _, c in want)


URL_FIXTURES = [
    "HTTP://WWW.Example.COM:80/a/b/?utm_source=x&b=2&a=1#frag",
    "https://Example.org:443/",
    "https://example.org:8443/path",
    "http://example.com",
    "http://EXAMPLE.com/deep/path///",
    "https://sub.news.example.co:443/x?gclid=abc",
    "http://example.com/?fbclid=1&z=9&y=8&utm_campaign=c",
    "http://localhost:8080/q?a=1",
    "not a url at all",
    "ftp://Files.Example.NET:21/pub/",
    "http://single",
    "https://a.b.c.d.example.com/p?b=2&a=1&a=0",
]


def _py_url_normalize(u: str):
    """Independent reference: stdlib urllib.parse + the documented
    rules, nothing shared with the Spark expression tree."""
    import re
    from urllib.parse import urlsplit

    if not re.match(r"^[A-Za-z][A-Za-z0-9+.-]*://", u):
        return None
    s = urlsplit(u)
    scheme = s.scheme.lower()
    host = (s.hostname or "")
    port = s.port
    authority = host
    if port is not None and not (
        (scheme == "http" and port == 80) or (scheme == "https" and port == 443)
    ):
        authority = f"{host}:{port}"
    path = re.sub(r"/+$", "", s.path) or "/"
    params = sorted(
        p for p in s.query.split("&")
        if p and not re.match(r"^(utm_[A-Za-z0-9_]*|fbclid|gclid|msclkid|ref_src)=", p)
    )
    tail = "?" + "&".join(params) if params else ""
    return f"{scheme}://{authority}{path}{tail}"


def test_url_normalize_matches_urllib_reference(spark):
    """r8: expression-only URL canonicalization vs an independent
    urllib.parse implementation of the same documented rules."""
    from rq_spark.operators import url as U

    df = spark.createDataFrame(
        [(i, u) for i, u in enumerate(URL_FIXTURES)], "i long, u string"
    )
    got = {
        r["i"]: (r["n"], r["h"], r["d"])
        for r in df.select(
            "i",
            U.url_normalize(F.col("u")).alias("n"),
            U.url_host(F.col("u")).alias("h"),
            U.url_domain(F.col("u")).alias("d"),
        ).collect()
    }
    import re
    from urllib.parse import urlsplit

    for i, u in enumerate(URL_FIXTURES):
        want = _py_url_normalize(u)
        assert got[i][0] == want, (u, got[i][0], want)
        if want is not None:
            host = (urlsplit(u).hostname or "")
            assert got[i][1] == host, (u, got[i][1])
            m = re.search(r"([^.]+\.[^.]+)$", host)
            assert got[i][2] == (m.group(1) if m else host), (u, got[i][2])
    # canonical forms actually COLLAPSE equivalent spellings
    assert (
        _py_url_normalize("HTTP://WWW.Example.COM:80/a/b/?utm_source=x&b=2&a=1#frag")
        == "http://www.example.com/a/b?a=1&b=2"
    )


def test_domain_cap_keeps_first_n_per_domain(spark):
    from rq_spark.operators.url import domain_cap

    rows = [
        (1, "http://a.example.com/1"),
        (2, "http://b.example.com/2"),
        (3, "https://example.com/3"),
        (4, "http://c.other.org/4"),
        (5, "http://other.org/5"),
        (6, "http://d.other.org/6"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string")
    out = {r.doc_id: r for r in domain_cap(df, "url", "doc_id", 2).collect()}
    assert out[1].domain == "example.com" and out[1].domain_keep
    assert out[2].domain == "example.com" and out[2].domain_keep
    assert out[3].domain == "example.com" and not out[3].domain_keep
    assert out[4].domain_keep and out[5].domain_keep and not out[6].domain_keep


def test_temperature_mixture_thresholds(spark):
    """r8: α=0.5 temperature mixture — exact integer derivation pinned
    against hand computation, flatter than proportional (small source
    keeps a larger fraction than the big one), same loud degenerate
    policy as the budget variant."""
    import math

    import pytest

    from rq_spark.operators.text import temperature_mixture_thresholds

    df = spark.createDataFrame(
        [("big", 90_000), ("small", 10_000)], "src string, sz long"
    )
    got = dict(temperature_mixture_thresholds(df, "src", "sz", denom=2))
    budget = 100_000 // 2
    sr = math.isqrt(90_000) + math.isqrt(10_000)
    for g, t in (("big", 90_000), ("small", 10_000)):
        share = budget * math.isqrt(t) // sr
        assert got[g] == min(65536, share * 65536 // t), g
    # temperature flattening: the small source's keep-RATE exceeds the
    # big one's (proportional sampling would give both the same rate)
    assert got["small"] > got["big"]
    # the float-sqrt mirror an SQL oracle uses is exact in range
    for c in (1, 2, 3, 90_000, 10_000, 2**40, 2**40 + 7, (1 << 25) ** 2 - 1):
        assert int(math.floor(math.sqrt(float(c)))) == math.isqrt(c), c

    zero = spark.createDataFrame([("a", 10), ("b", 0)], "src string, sz long")
    with pytest.raises(ValueError, match="zero"):
        temperature_mixture_thresholds(zero, "src", "sz")


def test_chunk_docs_coverage_offsets_and_overlap(spark):
    """Every word is covered, consecutive chunks overlap by exactly
    `overlap_words`, and char_start reproduces each chunk via substr
    of the normalized text."""
    from rq_spark.operators.text import chunk_docs, normalize_text

    text = " ".join(f"w{i:03d}" for i in range(150))
    df = spark.createDataFrame([(1, text)], ["doc_id", "text"])
    rows = sorted(
        chunk_docs(df, "text", "doc_id", chunk_words=64, overlap_words=16)
        .collect(),
        key=lambda r: r.chunk_pos,
    )
    norm = df.select(normalize_text(F.col("text")).alias("n")).collect()[0]["n"]
    # starts 1, 49, 97 cover 150 words; 145 > 150-16=134 so 3 chunks
    assert [r.chunk_pos for r in rows] == [0, 1, 2]
    assert rows[0].n_chunk_words == 64 and rows[-1].n_chunk_words == 54
    covered = set()
    words = norm.split(" ")
    for r in rows:
        # offset reconstructs the chunk exactly
        assert norm[r.char_start : r.char_start + len(r.chunk_text)] == r.chunk_text
        cw = r.chunk_text.split(" ")
        start = r.chunk_pos * 48
        assert words[start : start + len(cw)] == cw
        covered.update(range(start, start + len(cw)))
    assert covered == set(range(150))
    # consecutive overlap = 16 words
    assert rows[0].chunk_text.split(" ")[48:] == rows[1].chunk_text.split(" ")[:16]


def test_chunk_docs_short_doc_single_chunk(spark):
    from rq_spark.operators.text import chunk_docs

    df = spark.createDataFrame([(7, "alpha beta gamma")], ["doc_id", "text"])
    rows = chunk_docs(df, "text", "doc_id").collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.chunk_pos, r.char_start, r.n_chunk_words) == (0, 0, 3)
    assert r.chunk_text == "alpha beta gamma"


def test_bigram_backoff_hand_computed(spark):
    """Stupid backoff: seen bigram = c(w1w2)/c(w1); unseen bigram =
    0.4*c(w2)/total; unseen word = 0 (OOV reject); 1-word doc = 1.0."""
    docs = spark.createDataFrame(
        [(1, ["a", "b", "a"]), (2, ["b", "a"])], ["doc_id", "words"]
    )
    model = X.bigram_lm_model_from_words(docs, "words")
    bi, uni, total = model
    assert dict(bi) == {"a b": 1, "b a": 2}
    assert dict(uni) == {"a": 3, "b": 2} and total == 5

    def score(words):
        df = spark.createDataFrame([(words,)], "words array<string>")
        return df.select(
            X.bigram_backoff_product(model, F.col("words")).alias("s")
        ).collect()[0]["s"]

    assert score(["a", "b", "a"]) == (1 / 3) * 1.0
    assert score(["a", "a"]) == 0.4 * 3 / 5       # unseen bigram, seen w2
    assert score(["a", "z"]) == 0.0                # OOV w2
    assert score(["a"]) == 1.0                     # no transitions


def test_phrase_blocklist_hits_boundaries_counts_and_plan(spark):
    """Whole-word matching (no intra-word hits), exact non-overlapping
    counts, anchored candidates verified — and the blocklist side
    broadcasts (no corpus shuffle for the probe)."""
    docs = spark.createDataFrame(
        [
            (1, "the bad phrase here and the bad phrase again"),
            (2, "nothing to see"),
            (3, "embadphrase is one word"),     # no whole-word match
            (4, "bad phrase"),                  # exact doc == phrase
            (5, "bad phrase bad phrase bad phrase"),  # back-to-back
        ],
        ["doc_id", "text"],
    )
    phrases = spark.createDataFrame(
        [(10, "bad phrase"), (11, "see")], ["phrase_id", "phrase"]
    )
    out = X.phrase_blocklist_hits(docs, phrases, "text", "doc_id")
    got = {(r.doc_id, r.phrase_id): r.n_hits for r in out.collect()}
    # adjacent occurrences each count (the repetitive-spam case)
    assert got == {(1, 10): 2, (4, 10): 1, (2, 11): 1, (5, 10): 3}

    plan = (
        out._jdf.queryExecution()
        .executedPlan()
        .toString()
        .split("== Initial Plan ==")[0]
    )
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_phrase_blocklist_normalizes_phrase_side(spark):
    """A blocklist entry with uppercase / ragged whitespace must match
    the normalized document text — pre-fix it silently returned zero
    hits. Phrases normalizing to empty are dropped, not matched."""
    docs = spark.createDataFrame(
        [(1, "the bad phrase here and the bad phrase again")],
        ["doc_id", "text"],
    )
    phrases = spark.createDataFrame(
        [
            (10, "  Bad   PHRASE "),   # case + lead/trail/run whitespace
            (11, "   "),               # normalizes to empty: never hits
        ],
        ["phrase_id", "phrase"],
    )
    out = X.phrase_blocklist_hits(docs, phrases, "text", "doc_id")
    got = {(r.doc_id, r.phrase_id): r.n_hits for r in out.collect()}
    assert got == {(1, 10): 2}


def test_text_family_survives_edge_corpus(spark, tmp_path):
    """text_metrics and corpus_curation on documents the synthetic
    corpus never produces — empty text, whitespace-only, astral-plane
    UTF-8, control chars, a 50KB doc. Under ANSI mode a bare
    length-ratio division aborts the whole query on the FIRST empty
    doc (found by the r9 edge probe); ratios must instead go NULL."""
    rows = [
        (1, "", "en", "src0"),
        (2, "x", "en", "src0"),
        (3, " \t\n ", "de", "src1"),
        (4, "\U0001F600" * 40, "de", "src1"),
        (5, "é" * 333, "fr", "src2"),
        (6, "word " * 10_000, "fr", "src2"),
        (7, "\x00\x01\x02 control", "en", "src3"),
        (8, "the quick brown fox jumps over the lazy dog " * 5, "en", "src3"),
    ]
    sf = str(tmp_path / "edge_sf")
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    ).selectExpr(
        "doc_id", "text", "lang", "source", "length(text) AS n_chars"
    ).write.mode("overwrite").parquet(f"{sf}/documents.parquet")

    from rq_spark.operators.text import quality_features
    from rq_spark.queries import all_queries
    from rq_spark.queries.helpers import table

    feats = quality_features(F.col("text"))
    got = {
        r["doc_id"]: r
        for r in table(spark, sf, "documents")
        .select("doc_id", *(v.alias(k) for k, v in feats.items()))
        .collect()
    }
    assert got[1]["alpha_ratio"] is None  # empty doc: NULL, not a crash
    assert got[2]["alpha_ratio"] == 1.0

    qs = all_queries()
    assert qs["text_metrics"](spark, sf).count() == len(rows)
    assert qs["corpus_curation"](spark, sf).count() >= 1


def test_degenerate_empty_table_policy(spark):
    """Empty-input behavior is DEFINED, not accidental (r9 empty-table
    probe over all 50 keys): profile_columns still emits one row per
    column with n=0 and NULL null_frac (a bare nulls/n would abort
    under ANSI mode); the mixture derivations raise a NAMED error."""
    import pytest as _pt

    from rq_spark.operators.profiling import profile_columns

    empty = spark.createDataFrame([], "a long, b string")
    rows = {r["col_name"]: r for r in profile_columns(empty, ["a", "b"]).collect()}
    assert set(rows) == {"a", "b"}
    assert all(r["n"] == 0 and r["null_frac"] is None for r in rows.values())

    with _pt.raises(ValueError, match="no rows"):
        X.budget_mixture_thresholds(empty.selectExpr("b AS source", "a AS n_chars"), "source", "n_chars")
