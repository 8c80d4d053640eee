"""Reusable text column expressions — tokenization, shingling, quality
signals, fingerprinting. All pure JVM-side built-in functions (no Python
UDFs): these run inside whole-stage codegen and scale linearly with input.

The reference delegated all text handling to Solr (src/DMS.py:345-356);
these expressions are the Spark-native decomposition (SURVEY.md §2.9/§2.12).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Stopword list for quality/langid heuristics (subset present in the
# testdata vocabulary).
STOPWORDS = ("the", "a", "of", "and", "is", "to", "in")


def tokenize(text: Column | str) -> Column:
    """Single-space tokenization of already-normalized text.

    CONTRACT: splits on one literal ``' '`` — exactly DuckDB's
    ``string_split(text, ' ')`` — so every oracle comparison holds on ANY
    input, including consecutive/tab whitespace (both engines then emit the
    same empty tokens). The oracle-compared text operators (T1-T5, X2, X3,
    X7) route through it rather than calling ``F.split`` directly.

    ``DocumentStore`` has the other tokenizer (``dms/store.py``'s
    ``_terms``, for its postings and ``search``): it lowercases, splits on
    any run of Unicode whitespace and drops empty tokens. On ``"A b  c"``
    this function gives ``["A", "b", "", "c"]`` and the store's gives
    ``["a", "b", "c"]``."""
    c = F.col(text) if isinstance(text, str) else text
    return F.split(c, " ", -1)


def shingles(tokens: Column | str, n: int = 3) -> Column:
    """Distinct n-gram word shingles as an array<string>.

    PERFORMANCE CONTRACT: pass a **materialized** array column (a name or a
    plain column reference), not a composite expression like
    ``tokenize(...)``. Higher-order lambdas evaluate interpreted, so every
    subtree referenced inside the lambda re-runs per element — an inline
    ``split()`` here turns O(tokens) into O(tokens²) regex calls. Stage the
    tokens with a prior ``select`` (Catalyst keeps the projections separate
    because the reference is non-cheap and multiply-used).

    Shape: one ``transform`` over the token array itself (index lambda +
    ``try_element_at`` lookahead — O(1) per gram, no per-gram ``slice``
    copies), truncated to the first ``size - n + 1`` grams.
    """
    c = F.col(tokens) if isinstance(tokens, str) else tokens
    gram = lambda x, i: F.concat_ws(  # noqa: E731
        " ", x, *[F.try_element_at(c, i + k) for k in range(2, n + 1)]
    )
    return F.array_distinct(
        F.slice(
            F.transform(c, gram),
            1,
            F.greatest(F.size(c) - (n - 1), F.lit(0)),
        )
    )


def stopword_ratio(tokens: Column) -> Column:
    """Fraction of tokens that are stopwords (one exact IEEE division)."""
    stops = F.size(F.filter(tokens, lambda t: t.isin(*STOPWORDS)))
    return stops.cast("double") / F.size(tokens).cast("double")


def mean_token_length(text: Column | str, tokens: Column) -> Column:
    """Average token length = (chars - separators) / tokens."""
    c = F.col(text) if isinstance(text, str) else text
    n_tok = F.size(tokens)
    return (F.length(c) - (n_tok - 1)).cast("double") / n_tok.cast("double")


def doc_fingerprint(tokens: Column, mod: int = 1_000_000_007) -> Column:
    """Deterministic rolling polynomial hash over tokens.

    acc = (acc*31 + len(tok)*7 + ascii(first char)) mod p — pure integer
    arithmetic, reproducible in any engine (DuckDB oracle uses list_reduce
    with the same fold).
    """
    component = lambda t: (  # noqa: E731
        F.length(t).cast("long") * 7 + F.ascii(t).cast("long")
    )
    return F.aggregate(
        tokens,
        F.lit(0).cast("long"),
        lambda acc, t: (acc * 31 + component(t)) % mod,
    )


def stem(token: Column) -> Column:
    """Light deterministic suffix stripper (the spirit of Solr/Lucene's
    EnglishMinimalStemFilter — the analyzer layer the reference's Solr
    search would have provided, src/DMS.py:350): strip ``-ing`` (len>5),
    else ``-ed`` (len>4), else plural ``-s`` (len>3, not ``-ss``).
    Deliberately simple enough to restate verbatim as an ANSI CASE for the
    DuckDB oracles (see STEM_SQL)."""
    n = F.length(token)
    return (
        F.when((n > 5) & token.endswith("ing"), token.substr(F.lit(1), n - 3))
        .when((n > 4) & token.endswith("ed"), token.substr(F.lit(1), n - 2))
        .when(
            (n > 3) & token.endswith("s") & ~token.endswith("ss"),
            token.substr(F.lit(1), n - 1),
        )
        .otherwise(token)
    )


# The identical stemmer as DuckDB SQL over a token expression {t} — keep in
# lockstep with stem() above.
STEM_SQL = (
    "CASE WHEN len({t}) > 5 AND {t} LIKE '%ing' THEN left({t}, len({t}) - 3) "
    "WHEN len({t}) > 4 AND {t} LIKE '%ed' THEN left({t}, len({t}) - 2) "
    "WHEN len({t}) > 3 AND {t} LIKE '%s' AND {t} NOT LIKE '%ss' "
    "THEN left({t}, len({t}) - 1) ELSE {t} END"
)


def langid_score(tokens: Column) -> Column:
    """Toy language-ID heuristic: 'en' when English stopwords appear, else
    'und'. (Real n-gram LM scoring would be a Pandas UDF; the testdata text
    is synthetic English-ish vocab, so the heuristic is the honest demo.)"""
    stops = F.size(F.filter(tokens, lambda t: t.isin(*STOPWORDS)))
    return F.when(stops > 0, F.lit("en")).otherwise(F.lit("und"))
