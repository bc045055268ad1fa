"""Edit-distance fuzzy matching via symmetric-deletion blocking (SymSpell).

Entity resolution over dirty identifiers (names, tickers, CIK strings —
the reference's join keys arrive as free-text company names in the SEC
TSVs) needs "equal up to k typos" pairs without the O(n²) cross join.
The symmetric-delete trick (Garbe's SymSpell; same pigeonhole family as
the MinHash bands in operators/dedup.py): if ``lev(a, b) <= k`` then some
string obtained by deleting at most k characters from ``a`` equals one
obtained by deleting at most k characters from ``b``.  So:

1. explode each string into its deletion variants (``O(len^k)`` per row —
   itself included);
2. equi-join on the variant (a *banded* shuffle join: only strings sharing
   a variant ever meet — never all-pairs);
3. verify candidates with the exact ``levenshtein`` built-in (JVM-side,
   no UDF) and keep pairs within the threshold.

Candidate completeness for k ∈ {1, 2} is pytest-enforced against a
brute-force all-pairs reference on randomized strings
(tests/test_fuzzy.py), so the blocking is an optimization, not an
approximation.

Scale: variants grow the input ``(len+1)``-fold for k=1 (quadratic in
``len`` for k=2 — use k=2 only on short keys).  The join shuffles on the
variant string; a pathological bucket (e.g. millions of rows sharing one
short variant) is candidate-pair quadratic *within the bucket* — the same
failure mode as an LSH band; there is no bucket cap, so the output is
exact.  Output pair count is bounded by true-match volume times the
verification factor, never by n².
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..session import spread


def _delete_one(s: Column, p: Column) -> Column:
    """``s`` with the character at 1-based position ``p`` removed;
    ``p = 0`` returns ``s`` unchanged."""
    return F.when(p == F.lit(0), s).otherwise(
        F.concat(
            s.substr(F.lit(1), p - F.lit(1)),
            s.substr(p + F.lit(1), F.length(s)),
        )
    )


def deletion_variants(s: Column, n_deletes: int = 1) -> Column:
    """Array of all distinct strings at deletion-distance ≤ ``n_deletes``
    from ``s`` (``s`` itself included).  Pure higher-order-function
    expression — no UDF, no shuffle."""
    if n_deletes not in (1, 2):
        raise ValueError("n_deletes must be 1 or 2")
    one = F.transform(F.sequence(F.lit(0), F.length(s)), lambda p: _delete_one(s, p))
    if n_deletes == 1:
        return F.array_distinct(one)
    # two deletions: delete at q>=1 from each 1-deletion variant; position
    # 0 keeps the variant so distance-0/1 variants survive into the set
    two = F.flatten(
        F.transform(
            one,
            lambda v: F.transform(
                F.sequence(F.lit(0), F.length(v)), lambda q: _delete_one(v, q)
            ),
        )
    )
    return F.array_distinct(two)


def fuzzy_pairs(
    df: DataFrame,
    id_col: str,
    str_col: str,
    max_dist: int = 1,
) -> DataFrame:
    """All pairs (id_a < id_b) whose strings are within levenshtein
    distance ``max_dist``; columns ``id_a, id_b, s_a, s_b, dist``.

    One shuffle to block on deletion variants, one to dedup candidate
    pairs; verification is the built-in ``levenshtein`` (codegen).
    """
    # the variant explode multiplies work (len+1)-fold BEFORE any
    # shuffle; a few-split scan would serialize it onto a handful of
    # tasks, so fan out first (the ngram_diversity lesson, NOTES_r8 §3)
    ids = spread(
        df.select(F.col(id_col).alias("__id"), F.col(str_col).alias("__s"))
    )
    vars_ = ids.select(
        "__id", "__s", F.explode(deletion_variants(F.col("__s"), max_dist)).alias("__v")
    )
    a = vars_.alias("a")
    b = vars_.alias("b")
    cand = (
        a.join(b, (F.col("a.__v") == F.col("b.__v")) & (F.col("a.__id") < F.col("b.__id")))
        .select(
            F.col("a.__id").alias("id_a"),
            F.col("b.__id").alias("id_b"),
            F.col("a.__s").alias("s_a"),
            F.col("b.__s").alias("s_b"),
        )
        .distinct()
    )
    return cand.withColumn("dist", F.levenshtein("s_a", "s_b")).where(
        F.col("dist") <= F.lit(max_dist)
    )


def fuzzy_neighbor_counts(df: DataFrame, id_col: str, str_col: str) -> DataFrame:
    """Per string: how many other strings sit within one edit,
    and the lexicographically smallest such neighbor — the audit view an
    entity-resolution pass reviews before merging.  Strings with no
    neighbors are omitted."""
    pairs = fuzzy_pairs(df, id_col, str_col, 1)
    both = pairs.select(
        F.col("s_a").alias("name"), F.col("s_b").alias("other")
    ).unionAll(pairs.select(F.col("s_b").alias("name"), F.col("s_a").alias("other")))
    return both.groupBy("name").agg(
        F.count(F.lit(1)).cast("long").alias("n_neighbors"),
        F.min("other").alias("nearest"),
    )
