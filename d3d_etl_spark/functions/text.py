"""Text-analysis column builders for the training-data pipeline operators.

All JVM-side expressions (split / regexp / higher-order array functions) so
they stay in whole-stage codegen; no Python in the hot path. Each builder has
a DuckDB-SQL mirror used by the oracle harness.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Tiny multilingual stopword marker sets for the language-ID heuristic.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to", "is"),
    "es": ("el", "la", "de", "que", "los", "una"),
    "fr": ("le", "la", "les", "des", "une", "est"),
    "de": ("der", "die", "und", "das", "ein", "ist"),
}

EN_STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "it")


def tokens(col: Column) -> Column:
    """Whitespace tokenization -> array<string> (drops empty tokens)."""
    return F.filter(F.split(col, r"\s+"), lambda t: t != "")


def sql_tokens(expr: str) -> str:
    return f"list_filter(string_split_regex({expr}, '\\s+'), t -> t != '')"


def word_shingles(tok: Column, n: int = 3) -> Column:
    """n-gram word shingles from a token array -> array<string>; empty
    array when the doc has < n tokens.

    n=2/n=3 take a zip_with fast path: zipping offset slices replaces the
    transform's PER-SHINGLE slice+concat_ws (which re-materializes an
    n-element array per output element — measured 4.7s -> 1.4s on the
    sf0.1 bigram explode, the same HOF-construction cost the MinHash
    signature pass documented). Output strings are identical ('a b' joins,
    no null exposure: the offset slices are equal-length by construction
    under the size >= n guard, so zip_with never pads). General n keeps
    the transform form."""
    if n == 2:
        # concat_ws, not concat: a NULL token must be SKIPPED (the general
        # branch's concat_ws semantics), never NULL the whole shingle
        body = F.zip_with(
            F.slice(tok, 1, F.size(tok) - 1),
            F.slice(tok, 2, F.size(tok) - 1),
            lambda a, b: F.concat_ws(" ", a, b),
        )
    elif n == 3:
        body = F.zip_with(
            F.zip_with(
                F.slice(tok, 1, F.size(tok) - 2),
                F.slice(tok, 2, F.size(tok) - 2),
                lambda a, b: F.concat_ws(" ", a, b),
            ),
            F.slice(tok, 3, F.size(tok) - 2),
            lambda ab, c: F.concat_ws(" ", ab, c),
        )
    else:
        idx = F.sequence(F.lit(0), F.greatest(F.size(tok) - n, F.lit(-1)))
        body = F.transform(idx, lambda i: F.concat_ws(" ", F.slice(tok, i + 1, n)))
    return F.when(F.size(tok) >= n, body).otherwise(F.array().cast("array<string>"))


def sql_word_shingles(tokens_expr: str, n: int = 3) -> str:
    return (
        f"CASE WHEN len({tokens_expr}) >= {n} THEN "
        f"list_transform(range(0, len({tokens_expr}) - {n} + 1), "
        f"i -> array_to_string(list_slice({tokens_expr}, i + 1, i + {n}), ' ')) "
        f"ELSE [] END"
    )


def marker_hits(tok: Column, markers: tuple[str, ...]) -> Column:
    """How many tokens are in the marker set (language-ID signal)."""
    arr = F.array(*[F.lit(m) for m in markers])
    return F.size(F.filter(tok, lambda t: F.array_contains(arr, t)))


def sql_marker_hits(tokens_expr: str, markers: tuple[str, ...]) -> str:
    lit = "[" + ", ".join(f"'{m}'" for m in markers) + "]"
    return f"len(list_filter({tokens_expr}, t -> list_contains({lit}, t)))"
