"""BPE tokenizer training on Spark (the north-star tokenizer surface).

Classic byte-pair-encoding training is an ITERATIVE algorithm: each round
picks the most frequent adjacent symbol pair (weighted by word frequency)
and merges it into one symbol everywhere. The Spark-first decomposition:

- the corpus collapses ONCE to the vocab-sized word-count table
  (types x frequency) — every later round runs over that table, never the
  corpus again;
- pair counting is an explode + sum aggregate over word TYPES;
- the winning pair is a 2-row driver fetch (deterministic tiebreak:
  count desc, pair asc);
- the merge applies as a per-row LEFT-TO-RIGHT fold over each word's
  symbol array (F.aggregate with a struct accumulator — "aaa" under merge
  "a+a" becomes ["aa", "a"], exactly the sequential semantics a python
  BPE trainer has), checkpointed per round so round k+1's lineage does
  not replay rounds 1..k.

Rounds are driver-orchestrated like connected_components / k-means: the
loop is control flow, every data pass is distributed.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from d3d_etl_spark.io import barrier


def word_symbol_counts(words: DataFrame, word_col: str = "w", count_col: str = "c") -> DataFrame:
    """(symbols: array<string>, c) — each distinct word as its initial
    character-symbol sequence, weighted by corpus frequency."""
    # split on every inter-character position; the end-of-string position
    # also matches the lookahead, so drop the trailing empty symbol
    chars = F.filter(F.split(F.col(word_col), "(?!^)"), lambda s: s != "")
    return words.select(chars.alias("symbols"), F.col(count_col).alias("c"))


def pair_counts(wc: DataFrame) -> DataFrame:
    """(p1, p2, cnt): adjacent-symbol pair counts weighted by word count."""
    pairs = wc.where(F.size("symbols") >= 2).select(
        "c",
        F.explode(
            F.expr(
                "transform(sequence(1, size(symbols) - 1), "
                "i -> struct(symbols[i-1] AS p1, symbols[i] AS p2))"
            )
        ).alias("p"),
    )
    return pairs.groupBy(F.col("p.p1").alias("p1"), F.col("p.p2").alias("p2")).agg(
        F.sum("c").cast("long").alias("cnt")
    )


def top_pair(pc: DataFrame) -> tuple[str, str, int] | None:
    """The winning merge: count desc, then (p1, p2) asc — deterministic."""
    row = pc.orderBy(F.desc("cnt"), F.asc("p1"), F.asc("p2")).limit(1).collect()
    if not row:
        return None
    r = row[0]
    return (r["p1"], r["p2"], r["cnt"])


def apply_merge(symbols: Column, p1: str, p2: str) -> Column:
    """Left-to-right merge of every adjacent (p1, p2) in a symbol array.

    A sequential fold (not a pairwise map): after merging at position i,
    position i+1 must NOT re-match against the consumed symbol — e.g.
    "aaa" under merge (a, a) is ["aa", "a"], not ["aa", "aa"]. The struct
    accumulator carries (acc: merged prefix, pend: pending symbol);
    each step either fuses pend+x, or flushes pend and pends x.
    """
    merged = F.lit(p1 + p2)
    fused = F.aggregate(
        symbols,
        F.struct(
            F.array().cast("array<string>").alias("acc"),
            F.lit(None).cast("string").alias("pend"),
        ),
        lambda st, x: F.when(
            st["pend"].isNull(), F.struct(st["acc"].alias("acc"), x.alias("pend"))
        )
        .when(
            (st["pend"] == F.lit(p1)) & (x == F.lit(p2)),
            F.struct(st["acc"].alias("acc"), merged.alias("pend")),
        )
        .otherwise(
            F.struct(
                F.concat(st["acc"], F.array(st["pend"])).alias("acc"),
                x.alias("pend"),
            )
        ),
        lambda st: F.when(
            st["pend"].isNull(), st["acc"]
        ).otherwise(F.concat(st["acc"], F.array(st["pend"]))),
    )
    return fused


def train_bpe(
    words: DataFrame,
    n_merges: int,
    word_col: str = "w",
    count_col: str = "c",
    return_table: bool = False,
) -> list[tuple[str, str, int]] | tuple[list[tuple[str, str, int]], DataFrame]:
    """Learn `n_merges` BPE merge rules from a (word, count) table.

    Returns the ordered merge list [(p1, p2, count_at_merge_time), ...];
    with `return_table` also the final fully-merged (symbols, c) table —
    the trainer materializes it anyway (checkpointed per round), so an
    encode pass over the SAME corpus should consume it instead of
    re-running every merge (z_corpus_bpe_encode does). Stops early when no
    pair remains. Each round checkpoints the re-merged symbol table so
    lineage stays one round deep.
    """
    wc = barrier(word_symbol_counts(words, word_col, count_col))
    merges: list[tuple[str, str, int]] = []
    for _ in range(n_merges):
        best = top_pair(pair_counts(wc))
        if best is None:
            break
        p1, p2, cnt = best
        merges.append(best)
        wc = barrier(wc.select(
            apply_merge(F.col("symbols"), p1, p2).alias("symbols"), "c"
        ))
    if return_table:
        return merges, wc
    return merges


def encode_with_merges(
    words: DataFrame,
    merges: list[tuple[str, str, int]] | list[tuple[str, str]],
    word_col: str = "w",
    count_col: str = "c",
) -> DataFrame:
    """Apply an ordered merge list to a (word, count) table -> the encoded
    (symbols, c) table. This is BPE ENCODING (the inference half of the
    trainer): each rule applies as the same left-to-right fold the trainer
    used, in rule order — exactly how a trained tokenizer segments text.

    Scale shape: the corpus collapses once to the vocab-sized word-count
    table; each rule is one map-only pass over word TYPES (checkpointed so
    rule k+1's lineage does not replay rules 1..k). Applying a
    production-sized rule list (30-50k merges) batches naturally: the fold
    is per-row, so rules chunk into however many passes fit codegen."""
    wc = barrier(word_symbol_counts(words, word_col, count_col))
    for rule in merges:
        p1, p2 = rule[0], rule[1]
        wc = barrier(wc.select(
            apply_merge(F.col("symbols"), p1, p2).alias("symbols"), "c"
        ))
    return wc
