"""Distributed BPE tokenizer training and application.

Byte-pair encoding (Sennrich et al. 2016, arXiv:1508.07909) trains on a
WORD-FREQUENCY table, not the raw corpus — which is exactly the split a
Spark pipeline wants:

- **corpus-wide stage** (distributed, once): whitespace-word counts — a
  map-side-combinable aggregation whose output is bounded by the top
  ``max_words`` distinct words, not the corpus size.  This is the same
  reduction HuggingFace ``tokenizers`` / sentencepiece make before
  their merge loops; at 100 TB it is the only stage that reads the
  data.
- **merge learning** (driver, bounded): the classic greedy loop over
  the word-frequency dict — pick the most frequent adjacent symbol
  pair, merge it everywhere, repeat ``n_merges`` times.  Work is
  O(n_merges x |vocab| x word-length) on at most ``max_words`` rows;
  ties break lexicographically so the merge list is deterministic on
  any engine.
- **apply** (distributed, once): one Arrow-batched pandas UDF with a
  per-batch word->tokens cache; natural-language batches repeat words
  heavily, so the greedy merge walk runs ~once per DISTINCT word per
  batch, and everything else is a dict hit.

Reference parity: aws-sdk-pandas has no tokenizer surface; this extends
the token-counting family (`functions/text.py`) with a trainable,
reproducible segmentation — the piece a pre-training data pipeline
needs for token-budget accounting and sequence packing
(`operators/packing.py`) to be denominated in REAL tokens.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from aws_sdk_pandas_spark._types import local_frame

END_OF_WORD = "</w>"

# ASCII-only whitespace, matching the JVM side's Java-regex \s+ used by
# word_frequencies — python str.split() would ALSO break on Unicode
# whitespace (U+00A0 etc.), silently training and applying the tokenizer
# on different word boundaries.
_WS = re.compile(r"\s+", flags=re.ASCII)


def word_frequencies(
    df: DataFrame,
    *,
    text_col: str = "text",
    lowercase: bool = True,
    max_words: int = 30_000,
    min_freq: int = 2,
) -> DataFrame:
    """Corpus word-frequency table: ``word, freq``, top ``max_words`` by
    (freq desc, word) — the bounded input every BPE trainer consumes.
    One explode + one map-side-combinable aggregation; the top-k is a
    TakeOrdered, not a global sort."""
    col = F.col(text_col)
    if lowercase:
        col = F.lower(col)
    toks = df.select(F.explode(F.split(F.trim(col), r"\s+")).alias("word")).where(
        F.length("word") > 0
    )
    freq = toks.groupBy("word").agg(F.count(F.lit(1)).alias("freq"))
    if min_freq > 1:
        freq = freq.where(F.col("freq") >= min_freq)
    return freq.orderBy(F.col("freq").desc(), F.col("word")).limit(max_words)


def train_bpe(
    df: DataFrame,
    *,
    text_col: str = "text",
    n_merges: int = 200,
    lowercase: bool = True,
    max_words: int = 30_000,
    min_freq: int = 2,
) -> list[tuple[str, str]]:
    """Learn ``n_merges`` BPE merges from the corpus.  Returns the
    ordered merge list (rank = position); feed it to :func:`apply_bpe`.

    Words are char sequences with a terminal ``</w>`` marker, so merges
    may capture word-final units (``e</w>``) and token streams
    reconstruct the text exactly (join tokens, split on the marker).
    """
    wf = word_frequencies(
        df,
        text_col=text_col,
        lowercase=lowercase,
        max_words=max_words,
        min_freq=min_freq,
    ).collect()
    vocab: dict[tuple[str, ...], int] = {
        tuple(r["word"]) + (END_OF_WORD,): r["freq"] for r in wf
    }
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        pairs: dict[tuple[str, str], int] = {}
        for syms, freq in vocab.items():
            for a, b in zip(syms, syms[1:]):
                pairs[(a, b)] = pairs.get((a, b), 0) + freq
        if not pairs:
            break
        # deterministic: max count, then lexicographically smallest pair
        best = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        if pairs[best] < 2:
            break
        merges.append(best)
        merged = best[0] + best[1]
        new_vocab: dict[tuple[str, ...], int] = {}
        for syms, freq in vocab.items():
            out = []
            i = 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == best[0] and syms[i + 1] == best[1]:
                    out.append(merged)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            new_vocab[tuple(out)] = new_vocab.get(tuple(out), 0) + freq
        vocab = new_vocab
    return merges


def _encode_word(word: str, ranks: dict[tuple[str, str], int]) -> list[str]:
    """Greedy lowest-rank-first merge walk over one word (the standard
    BPE inference algorithm)."""
    syms = list(word) + [END_OF_WORD]
    while len(syms) > 1:
        best_rank = None
        best_i = -1
        for i, pair in enumerate(zip(syms, syms[1:])):
            r = ranks.get(pair)
            if r is not None and (best_rank is None or r < best_rank):
                best_rank, best_i = r, i
        if best_rank is None:
            break
        syms[best_i : best_i + 2] = [syms[best_i] + syms[best_i + 1]]
    return syms


def apply_bpe(
    df: DataFrame,
    merges: list[tuple[str, str]],
    *,
    text_col: str = "text",
    out_col: str = "bpe_tokens",
    lowercase: bool = True,
) -> DataFrame:
    """Tokenize ``text_col`` with a trained merge list; adds ``out_col``
    (``array<string>``).  The merge table rides task broadcast (it is a
    few KB); each Arrow batch keeps a word->tokens cache so the merge
    walk runs once per distinct word per batch."""
    ranks = {tuple(m): i for i, m in enumerate(merges)}

    @F.pandas_udf("array<string>")
    def _tok(texts: pd.Series) -> pd.Series:
        cache: dict[str, list[str]] = {}
        out = []
        for t in texts.fillna(""):
            if lowercase:
                t = t.lower()
            doc: list[str] = []
            for w in (x for x in _WS.split(t) if x):
                hit = cache.get(w)
                if hit is None:
                    hit = cache[w] = _encode_word(w, ranks)
                doc.extend(hit)
            out.append(doc)
        return pd.Series(out)

    return df.withColumn(out_col, _tok(F.col(text_col)))


def decode_bpe(tokens: list[str]) -> str:
    """Inverse of :func:`apply_bpe` for one token sequence (test oracle:
    tokenize -> decode is the identity on whitespace-normalized text)."""
    return "".join(tokens).replace(END_OF_WORD, " ").strip()


def save_bpe(merges: list[tuple[str, str]], path: str, spark=None) -> None:
    """Persist a trained merge list as a parquet dataset (rank-ordered)
    so later runs tokenize with the SAME vocabulary instead of
    retraining — token-budget accounting is only comparable across runs
    when the segmentation is frozen."""
    from pyspark.sql import SparkSession

    spark = spark or SparkSession.getActiveSession()
    if spark is None:
        raise RuntimeError("no active SparkSession — pass save_bpe(..., spark=...)")
    df = local_frame(
        spark, [(i, a, b) for i, (a, b) in enumerate(merges)], "rank int, a string, b string"
    )
    df.coalesce(1).write.mode("overwrite").parquet(path)


def load_bpe(spark, path: str) -> list[tuple[str, str]]:
    """Inverse of :func:`save_bpe` (rank order preserved)."""
    rows = spark.read.parquet(path).orderBy("rank").collect()
    return [(r["a"], r["b"]) for r in rows]


def vocab_stats(
    df: DataFrame,
    merges: list[tuple[str, str]],
    *,
    text_col: str = "text",
    lowercase: bool = True,
    max_words: int = 200_000,
    round_to: int = 6,
) -> DataFrame:
    """Corpus fit of a FROZEN tokenizer vocabulary: one row
    ``(n_words, n_tokens, fertility, char_token_rate)`` where
    fertility = tokens per word (the compression the vocab achieves on
    THIS corpus — rising fertility on new data means the domain moved)
    and char_token_rate = fraction of emitted tokens that are single
    characters (the OOV-fragmentation proxy: unknown words shatter to
    characters).

    Scale shape: the corpus reduces to the distinct-word frequency
    table FIRST (`word_frequencies` — vocabulary-bounded, min_freq=1
    so hapaxes count), the merge walk runs once per DISTINCT word in
    Arrow batches, and the stats are frequency-weighted sums.
    """
    ranks = {tuple(m): i for i, m in enumerate(merges)}
    wf = word_frequencies(
        df, text_col=text_col, lowercase=lowercase,
        max_words=max_words, min_freq=1,
    )

    @F.pandas_udf("struct<n_tok:long,n_char:long>")
    def _enc(words: pd.Series) -> pd.DataFrame:
        toks, chars = [], []
        for w in words.fillna(""):
            enc = _encode_word(w, ranks)
            toks.append(len(enc))
            chars.append(sum(1 for t in enc if len(t.replace(END_OF_WORD, "")) <= 1))
        return pd.DataFrame({"n_tok": toks, "n_char": chars})

    e = wf.withColumn("__e", _enc(F.col("word")))
    return e.agg(
        F.sum("freq").alias("n_words"),
        F.sum(F.col("freq") * F.col("__e.n_tok")).alias("n_tokens"),
        F.round(
            F.try_divide(
                F.sum(F.col("freq") * F.col("__e.n_tok")), F.sum("freq")
            ),
            round_to,
        ).alias("fertility"),
        F.round(
            F.try_divide(
                F.sum(F.col("freq") * F.col("__e.n_char")),
                F.sum(F.col("freq") * F.col("__e.n_tok")),
            ),
            round_to,
        ).alias("char_token_rate"),
    )


def fragmented_words(
    df: DataFrame,
    merges: list[tuple[str, str]],
    *,
    text_col: str = "text",
    top_k: int = 50,
    min_freq: int = 2,
    lowercase: bool = True,
    max_words: int = 200_000,
) -> DataFrame:
    """The vocabulary-gap report: the ``top_k`` words a frozen
    tokenizer shatters worst, ranked by (tokens-per-word, corpus
    frequency) — exactly the candidates the next vocab training round
    should absorb.  Returns ``word, freq, n_tokens, tokens``.  Same
    distinct-word + Arrow-batch shape as `vocab_stats`; top-k is
    TakeOrderedAndProject."""
    ranks = {tuple(m): i for i, m in enumerate(merges)}
    wf = word_frequencies(
        df, text_col=text_col, lowercase=lowercase,
        max_words=max_words, min_freq=min_freq,
    )

    @F.pandas_udf("array<string>")
    def _enc(words: pd.Series) -> pd.Series:
        return pd.Series([_encode_word(w, ranks) for w in words.fillna("")])

    e = wf.withColumn("tokens", _enc(F.col("word")))
    return (
        e.select(
            "word", "freq", F.size("tokens").alias("n_tokens"), "tokens"
        )
        .orderBy(F.col("n_tokens").desc(), F.col("freq").desc(), F.col("word").asc())
        .limit(top_k)
    )
