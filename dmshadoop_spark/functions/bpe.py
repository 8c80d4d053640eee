"""Byte-pair-encoding tokenizer — train + encode, Spark-first.

The canonical LLM-data primitive (Sennrich et al. 2016, the algorithm
under GPT-2/SentencePiece vocabularies). The Spark shape matters more
than the loop: BPE training operates on the WORD-FREQUENCY table, not
the corpus — so the cluster does the one heavy thing (a corpus scan
aggregated to (word, count), capped to the top ``max_words`` by
frequency — standard practice at scale), the driver runs the merge loop
over that bounded table (a few MB at any corpus size), and encoding
broadcasts the learned merge ranks back over the corpus through an
Arrow-batched pandas_udf with per-batch word memoization (each DISTINCT
word is segmented once per batch, however many times it repeats).

Everything is deterministic: merge selection breaks count ties on the
lexicographic pair, the word-table cap breaks frequency ties on the
word, so the same corpus always yields the same vocabulary on any
cluster size.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

END_OF_WORD = "</w>"


def word_frequencies(
    docs: DataFrame, text_col: str = "text", max_words: int = 100_000
) -> DataFrame:
    """(word, n) for the ``max_words`` most frequent whitespace tokens —
    the bounded table BPE trains on. One scan, one uniform-key shuffle;
    the cap's top-k orders by (n desc, word asc) so the trained
    vocabulary is deterministic."""
    words = (
        docs.select(F.explode_outer(F.split(F.col(text_col), " ")).alias("w"))
        .filter((F.col("w").isNotNull()) & (F.col("w") != ""))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return words.orderBy(F.desc("n"), F.asc("w")).limit(max_words)


def train_bpe_merges(
    word_freqs: list[tuple[str, int]], n_merges: int
) -> list[tuple[str, str]]:
    """Sennrich merge loop over a (word, count) table: repeatedly merge
    the most frequent adjacent symbol pair (ties → lexicographic pair).
    Pure driver-side Python — the table is bounded, the corpus is not."""
    vocab: dict[tuple[str, ...], int] = {}
    for word, n in word_freqs:
        vocab[tuple(word) + (END_OF_WORD,)] = (
            vocab.get(tuple(word) + (END_OF_WORD,), 0) + n
        )
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        pairs: dict[tuple[str, str], int] = {}
        for symbols, n in vocab.items():
            for a, b in zip(symbols, symbols[1:]):
                pairs[(a, b)] = pairs.get((a, b), 0) + n
        if not pairs:
            break
        best = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        if pairs[best] < 2:
            break  # nothing left that actually repeats
        merges.append(best)
        merged = best[0] + best[1]
        new_vocab: dict[tuple[str, ...], int] = {}
        for symbols, n in vocab.items():
            out = []
            i = 0
            while i < len(symbols):
                if (
                    i + 1 < len(symbols)
                    and symbols[i] == best[0]
                    and symbols[i + 1] == best[1]
                ):
                    out.append(merged)
                    i += 2
                else:
                    out.append(symbols[i])
                    i += 1
            key = tuple(out)
            new_vocab[key] = new_vocab.get(key, 0) + n
        vocab = new_vocab
    return merges


def bpe_train(
    docs: DataFrame,
    text_col: str = "text",
    n_merges: int = 200,
    max_words: int = 100_000,
) -> list[tuple[str, str]]:
    """Corpus scan → capped word-frequency table → driver merge loop."""
    freqs = [
        (r["w"], r["n"]) for r in word_frequencies(docs, text_col, max_words).collect()
    ]
    return train_bpe_merges(freqs, n_merges)


def segment_word(word: str, ranks: dict[tuple[str, str], int]) -> list[str]:
    """Apply learned merges to one word, lowest-rank pair first — the
    exact inference rule the trained merge order implies."""
    symbols = list(word) + [END_OF_WORD]
    while len(symbols) > 1:
        best_rank = None
        best_i = -1
        for i, pair in enumerate(zip(symbols, symbols[1:])):
            r = ranks.get(pair)
            if r is not None and (best_rank is None or r < best_rank):
                best_rank, best_i = r, i
        if best_rank is None:
            break
        symbols[best_i : best_i + 2] = [symbols[best_i] + symbols[best_i + 1]]
    return symbols


def with_bpe_tokens(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    out_col: str = "bpe_tokens",
) -> DataFrame:
    """Append an array<string> column of BPE tokens. The merge ranks ship
    once per executor as a SparkContext broadcast; the pandas_udf
    memoizes per distinct word within each Arrow batch, so the cost per
    batch is O(distinct words), not O(tokens)."""
    bc = docs.sparkSession.sparkContext.broadcast(
        {pair: i for i, pair in enumerate(merges)}
    )

    @F.pandas_udf("array<string>")
    def encode(texts: pd.Series) -> pd.Series:
        ranks = bc.value
        cache: dict[str, list[str]] = {}

        def enc(text):
            if text is None:
                return []
            out: list[str] = []
            for w in text.split(" "):
                if not w:
                    continue
                seg = cache.get(w)
                if seg is None:
                    seg = segment_word(w, ranks)
                    cache[w] = seg
                out.extend(seg)
            return out

        return texts.map(enc)

    return docs.withColumn(out_col, encode(F.col(text_col)))
