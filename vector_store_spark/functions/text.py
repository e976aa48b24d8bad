"""Text analysis chain (SURVEY.md §2.7 F6): SimpleTokenizer semantics —
split on non-alphanumeric, lowercase, English stop-word removal — matching the
reference's Tantivy pipeline (fts_index/tantivy.rs:162-183).

All expressions are built-in Catalyst functions (split/filter/transform), no
Python UDFs: tokenization runs inside whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# The classic Lucene/Tantivy English stop-word list (public; Lucene
# StandardAnalyzer / tantivy stopword filter default).
ENGLISH_STOPWORDS: tuple[str, ...] = (
    "a", "an", "and", "are", "as", "at", "be", "but", "by", "for", "if", "in",
    "into", "is", "it", "no", "not", "of", "on", "or", "such", "that", "the",
    "their", "then", "there", "these", "they", "this", "to", "was", "will", "with",
)

TOKEN_SPLIT_RE = "[^a-z0-9]+"


def _col(c):
    return F.col(c) if isinstance(c, str) else c


def tokenize(text: Column | str, remove_stopwords: bool = True) -> Column:
    """lower → split on non-alphanumeric → drop empties [→ drop stopwords].
    Returns array<string> preserving token order (positions = array index)."""
    toks = F.split(F.lower(_col(text)), TOKEN_SPLIT_RE)
    toks = F.filter(toks, lambda t: t != "")
    if remove_stopwords:
        stop = F.array(*[F.lit(s) for s in ENGLISH_STOPWORDS])
        toks = F.filter(toks, lambda t: ~F.array_contains(stop, t))
    return toks


def tokenize_sql(text_expr: str, remove_stopwords: bool = True) -> str:
    """The identical tokenizer as a DuckDB SQL expression (oracle parity)."""
    base = f"list_filter(string_split_regex(lower({text_expr}), '{TOKEN_SPLIT_RE}'), t -> t <> '')"
    if remove_stopwords:
        stop = ", ".join(f"'{s}'" for s in ENGLISH_STOPWORDS)
        return f"list_filter({base}, t -> NOT list_contains([{stop}], t))"
    return base


def tokens_udf(remove_stopwords: bool = True):
    """Arrow-batched twin of ``tokenize`` (identical token streams, verified in
    tests). Catalyst higher-order functions run interpreted (~ms/doc); use this
    in build hot paths (FTS postings, shingles) where every doc is tokenized."""
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.types import ArrayType, StringType

    import re

    pat = re.compile(TOKEN_SPLIT_RE)
    stop = set(ENGLISH_STOPWORDS) if remove_stopwords else ()

    def batch(texts):
        return pd.Series(
            [
                [t for t in pat.split((x or "").lower()) if t and t not in stop]
                for x in texts
            ]
        )

    # asNondeterministic: pins ONE Arrow evaluation per row — without it,
    # posexplode's implicit size()>0 pre-filter (and any caller-side filter
    # on a derived column) makes Catalyst duplicate the tokenize pass, 2x
    # the Python cost of every FTS index build. The UDF is pure.
    return F.pandas_udf(batch, ArrayType(StringType())).asNondeterministic()


def term_postings_udf():
    """Per-document postings in the same Arrow pass as ``tokens_udf``'s
    tokenizer: array<struct<term, tf, positions>> with positions ascending,
    terms in first-occurrence order (empty for a token-less doc). Equal to
    grouping the posexploded tokens by (term, doc) when doc ids are unique,
    without the shuffle that grouping needs."""
    import re

    import pandas as pd
    from pyspark.sql import functions as F

    pat = re.compile(TOKEN_SPLIT_RE)
    stop = set(ENGLISH_STOPWORDS)

    def postings(x):
        pos: dict = {}
        toks = [t for t in pat.split((x or "").lower()) if t and t not in stop]
        for i, t in enumerate(toks):
            pos.setdefault(t, []).append(i)
        return [{"term": t, "tf": len(p), "positions": p} for t, p in pos.items()]

    def batch(texts):
        return pd.Series([postings(x) for x in texts])

    return F.pandas_udf(
        batch, "array<struct<term:string,tf:bigint,positions:array<int>>>"
    ).asNondeterministic()


def word_ngrams(tokens: Column, n: int) -> Column:
    """Word-level n-grams ('shingles') as space-joined strings; empty array when
    the document has fewer than n tokens. (NB Spark sequence(1,0) would yield a
    *descending* [1,0] — guard short docs explicitly.)"""
    idx = F.sequence(F.lit(1), F.size(tokens) - (n - 1))
    grams = F.transform(
        idx, lambda i: F.concat_ws(" ", *[F.element_at(tokens, i + j) for j in range(n)])
    )
    return F.when(F.size(tokens) < n, F.array().cast("array<string>")).otherwise(grams)


def word_ngrams_sql(toks: str, n: int) -> str:
    """Same n-grams in DuckDB over an in-scope list column/alias ``toks``
    (1-based indexing; range() end-exclusive)."""
    parts = " || ' ' || ".join(f"{toks}[i + {j}]" if j else f"{toks}[i]" for j in range(n))
    return f"list_transform(range(1, greatest(len({toks}) - {n - 1}, 0) + 1), i -> {parts})"


def split_ngram_hashes(toks: str, n: int) -> "Column":
    """64-bit hashes of raw whitespace-split word n-grams over an in-scope
    array<string> column named ``toks`` — the shuffle-key form of the gram
    pipelines (dedup span marking, source overlap, vocab growth): the n-gram
    STRING never leaves the map side, only ``xxhash64`` keys exchange.

    Position i in the returned array is the 1-based token start of the gram;
    pair with ``F.posexplode`` when positions matter. The caller MUST guard
    ``F.size(toks) >= n`` first: Spark's ``sequence(1, m)`` DESCENDS for
    m < 1 (unlike word_ngrams' empty-array clamp, the positional contract
    here cannot silently clamp)."""
    return F.expr(
        f"transform(sequence(1, size({toks}) - {n} + 1), "
        f"i -> xxhash64(array_join(slice({toks}, i, {n}), ' ')))"
    )


def split_ngrams_sql(toks: str, n: int) -> str:
    """DuckDB twin of split_ngram_hashes' gram STREAM (the gram strings
    themselves — oracles group/join by string where the engine uses the
    hash): an unnest-able list, 1-based positions aligned with
    ``split_ngram_positions_sql``."""
    return (
        f"list_transform(range(1, len({toks}) - {n} + 2), "
        f"i -> array_to_string({toks}[i:i+{n}-1], ' '))"
    )


def split_ngram_positions_sql(toks: str, n: int) -> str:
    """BIGINT token-start positions parallel to ``split_ngrams_sql``."""
    return f"list_transform(range(1, len({toks}) - {n} + 2), i -> CAST(i AS BIGINT))"
