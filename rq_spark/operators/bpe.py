"""In-engine BPE tokenizer training — the vocabulary-learning stage of
a training-data pipeline (learn merges on the corpus, then tokenize
the corpus with them; the reference engine has no tokenizer surface,
so this is pure extension layer alongside `text_bpe_token_count`'s
regex pretokenizer).

Algorithm: classic word-level byte-pair encoding (Sennrich et al.
2016, public): a word is a symbol sequence (its characters, with an
end-of-word marker appended to the last one); each round merges the
most frequent adjacent symbol pair, weighted by word frequency.

Scale design (the same split every production trainer uses —
HF tokenizers / SentencePiece train from aggregated word counts):
* The CORPUS-sized work is distributed: one scan builds the exact
  word-frequency table (explode → partial-agg groupBy — shuffle ∝
  distinct words, never corpus), and encoding with the learned merges
  is an Arrow-batched pandas UDF over the corpus with a per-batch
  word memo (Zipf makes the cache hit rate ≈ 1).
* The MERGE LOOP runs driver-side over the aggregated vocabulary:
  Heaps' law keeps distinct words ≪ corpus (~10⁶-10⁸ at 100 TB), and
  the DEFAULT-ON `max_vocab_words` bound truncates the vocabulary
  DISTRIBUTED (TakeOrderedAndProject on (count desc, word asc))
  before the collect, so driver memory is capped regardless of
  corpus size. Re-running the
  pair count as a Spark job per merge round would pay ~n_merges
  full-shuffle latencies to move kilobytes — the aggregate-then-learn
  split is the idiomatic shape, exactly like `fit_logistic`'s
  O(d²)-partials / driver-solve split.

No SQL-expressible oracle exists for the learned merge sequence
(iterative argmax with in-place rewrites), so correctness is pinned in
tests/test_bpe.py against an independent naive reference on identical
data (merge-for-merge equality) plus a lossless round-trip property —
the same evidence tier as `fit_logistic` / the ANN recall assertions.
"""

from __future__ import annotations

from typing import Iterable

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .dedup import normalize_text

# End-of-word marker glued onto a word's final character (Sennrich
# convention). Words CONTAINING this literal substring are rejected
# loudly (`_word_symbols`): normalize_text only lowercases and
# collapses whitespace, so e.g. XML/TEI corpora can carry "</w>" in
# running text, and a silent collision would corrupt decode_tokens'
# losslessness (it replaces every marker occurrence). Production use
# on markup-bearing corpora should strip tags first (html_to_text) or
# swap in a marker outside the corpus alphabet.
EOW = "</w>"


def word_vocab(df: DataFrame, text_col: str) -> DataFrame:
    """Exact corpus word-frequency table: (word, count). One scan,
    map-side partial aggregation, shuffle ∝ distinct words."""
    words = F.explode(F.split(normalize_text(F.col(text_col)), " ")).alias("w")
    return (
        df.select(words)
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )


# Default driver-vocabulary bound for `fit_bpe`: distinct words beyond
# this are frequency-truncated BEFORE the collect, so the driver never
# holds more than this many rows no matter the corpus size. 2^18 words
# dwarf any real tokenizer-training vocabulary (GPT-2's BPE saw ~50k
# merges); pass None to collect the exact full vocabulary.
DEFAULT_MAX_VOCAB_WORDS = 1 << 18


def truncated_vocab(df: DataFrame, text_col: str, max_words: int) -> DataFrame:
    """`word_vocab` truncated to the `max_words` most frequent words —
    deterministically: (count desc, word asc), so identical corpora
    truncate identically on any cluster layout. orderBy+limit compiles
    to TakeOrderedAndProject (per-partition top-N heap + driver merge
    of max_words rows — asserted in tests/test_plans.py), never a
    global sort of the vocabulary."""
    return word_vocab(df, text_col).orderBy(
        F.col("c").desc(), F.col("w").asc()
    ).limit(max_words)


def _word_symbols(word: str) -> tuple[str, ...]:
    if EOW in word:
        raise ValueError(
            f"word contains the end-of-word marker {EOW!r}; "
            "strip markup or choose a different marker"
        )
    return tuple(word[:-1]) + (word[-1] + EOW,)


def fit_bpe(
    df: DataFrame,
    text_col: str,
    n_merges: int,
    max_vocab_words: int | None = DEFAULT_MAX_VOCAB_WORDS,
) -> list[tuple[str, str]]:
    """Learn `n_merges` BPE merges over the corpus. Returns the ordered
    merge list [(left, right), ...] — order IS the rank table the
    encoder applies.

    Deterministic end-to-end: word counts are exact, vocabulary
    truncation orders by (count desc, word asc), and each round's
    argmax tiebreak is (pair count desc, pair lexicographic asc) —
    identical corpora learn identical merges on any cluster layout.

    The truncation is ON by default (DEFAULT_MAX_VOCAB_WORDS) and runs
    DISTRIBUTED (`truncated_vocab`: TakeOrderedAndProject, a
    per-partition heap), so the driver collect is bounded at 2^18 rows
    even on a 100 TB corpus whose distinct words run to billions; a
    corpus whose vocabulary fits the bound learns exactly the merges
    the unbounded run would (the bound only cuts words the frequency
    order ranks below every retained one). Pass None for the exact
    full-vocabulary collect.
    """
    vdf = word_vocab(df, text_col)
    if max_vocab_words is not None:
        vdf = truncated_vocab(df, text_col, max_vocab_words)
    rows = vdf.collect()
    vocab = sorted(((r["w"], int(r["c"])) for r in rows), key=lambda t: (-t[1], t[0]))

    # words as mutable symbol lists + an inverted pair→word index so a
    # merge round touches only the words containing the merged pair
    # (O(affected) per round, not O(vocab)).
    syms: list[list[str]] = [list(_word_symbols(w)) for w, _ in vocab]
    counts: list[int] = [c for _, c in vocab]

    pair_freq: dict[tuple[str, str], int] = {}
    pair_words: dict[tuple[str, str], set[int]] = {}
    for i, s in enumerate(syms):
        c = counts[i]
        for a, b in zip(s, s[1:]):
            pair_freq[(a, b)] = pair_freq.get((a, b), 0) + c
            pair_words.setdefault((a, b), set()).add(i)

    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        if not pair_freq:
            break
        best = min(pair_freq.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        if pair_freq[best] <= 0:
            break
        merges.append(best)
        merged = best[0] + best[1]
        for i in sorted(pair_words.get(best, ())):
            s, c = syms[i], counts[i]
            # remove this word's old pair contributions
            for a, b in zip(s, s[1:]):
                pair_freq[(a, b)] -= c
                if pair_freq[(a, b)] == 0:
                    del pair_freq[(a, b)]
                ws = pair_words.get((a, b))
                if ws is not None:
                    ws.discard(i)
                    if not ws:
                        del pair_words[(a, b)]
            # rewrite left-to-right (matches the reference semantics:
            # overlapping occurrences merge greedily from the left)
            out: list[str] = []
            j = 0
            while j < len(s):
                if j + 1 < len(s) and s[j] == best[0] and s[j + 1] == best[1]:
                    out.append(merged)
                    j += 2
                else:
                    out.append(s[j])
                    j += 1
            syms[i] = out
            for a, b in zip(out, out[1:]):
                pair_freq[(a, b)] = pair_freq.get((a, b), 0) + c
                pair_words.setdefault((a, b), set()).add(i)
    return merges


def encode_word(word: str, ranks: dict[tuple[str, str], int]) -> list[str]:
    """Tokenize one word by applying the lowest-rank merge repeatedly
    (the standard BPE inference loop — merge order replays training
    order, so training words reproduce their final training symbols)."""
    s = list(_word_symbols(word))
    while len(s) > 1:
        best_rank = None
        best_j = -1
        for j, pair in enumerate(zip(s, s[1:])):
            r = ranks.get(pair)
            if r is not None and (best_rank is None or r < best_rank):
                best_rank, best_j = r, j
        if best_rank is None:
            break
        # merge ALL occurrences of that pair left-to-right, exactly as
        # the training rewrite did
        pair = (s[best_j], s[best_j + 1])
        out: list[str] = []
        j = 0
        while j < len(s):
            if j + 1 < len(s) and s[j] == pair[0] and s[j + 1] == pair[1]:
                out.append(pair[0] + pair[1])
                j += 2
            else:
                out.append(s[j])
                j += 1
        s = out
    return s


def bpe_tokens(merges: list[tuple[str, str]], text: Column) -> Column:
    """array<string> of BPE tokens for a text column. Arrow-batched
    pandas UDF with a per-batch word memo: Zipf's law means a batch of
    documents re-tokenizes the same words constantly, so the effective
    cost is one `encode_word` per DISTINCT word per batch."""
    ranks = {p: i for i, p in enumerate(merges)}

    @F.pandas_udf(T.ArrayType(T.StringType()))
    def enc(col: pd.Series) -> pd.Series:
        memo: dict[str, list[str]] = {}

        def run(text: str) -> list[str]:
            toks: list[str] = []
            for w in text.split(" "):
                if not w:
                    continue
                got = memo.get(w)
                if got is None:
                    got = memo[w] = encode_word(w, ranks)
                toks.extend(got)
            return toks

        return col.map(run, na_action="ignore")

    return enc(normalize_text(text))


def decode_tokens(tokens: Iterable[str]) -> str:
    """Inverse of `bpe_tokens` (losslessness witness): concatenate and
    turn end-of-word markers back into spaces."""
    return "".join(tokens).replace(EOW, " ").strip()
