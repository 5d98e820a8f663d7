"""J6: entity-resolution scoring pass (fixed-weight Fellegi–Sunter).

Reference: ``processors/entity_resolution.py:180-238`` configures
Splink with JaroWinkler comparison tiers — name [0.95, 0.88, 0.7],
first/last name [0.95, 0.88], aliases [0.88], exact category —
blocking on name_lower / last_name, match-probability threshold 0.85
(config.py:129), then clusters pairwise predictions.

Spark restatement: each tier carries a log2-Bayes-factor weight —
the FIXED table below by default, or Splink-style EM-trained weights
from ``operators/em_training.py`` (resolve_persons(train=True)).
The pair score is

    logit2 = prior + sum(tier weights),  p = 2^logit2 / (1 + 2^logit2)

pairs with p >= threshold feed the existing connected-components
operator for clustering. JaroWinkler here is bit-identical to
DuckDB's ``jaro_winkler_similarity`` (property-tested), so the whole
score is expressible as an ANSI-SQL oracle.
"""

from __future__ import annotations

from collections import Counter

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from epstein_pipeline_spark.config import DEFAULT_CONFIG
from epstein_pipeline_spark.operators.pairs import guarded_block_pairs

# (column, [tier-threshold...]) per entity_resolution.py:211-233;
# weights[i] = log2 Bayes factor for "jw >= tiers[i]" (first tier that
# fires wins, like Splink's ordered comparison levels); last entry =
# the else/non-match weight
FS_COMPARISONS: dict[str, tuple[list[float], list[float]]] = {
    "name": ([0.95, 0.88, 0.70], [8.0, 5.0, 2.0, -4.0]),
    "first_name": ([0.95, 0.88], [4.0, 2.0, -2.0]),
    "last_name": ([0.95, 0.88], [4.0, 2.0, -2.0]),
    "aliases": ([0.88], [3.0, -1.0]),
}
FS_CATEGORY_WEIGHTS = (1.0, -1.0)  # exact match / mismatch
FS_PRIOR_LOGIT2 = -6.0  # log2 prior odds two blocked records match
DEFAULT_THRESHOLD = 0.85  # reference config.py:129


def py_jaro_winkler(s1: str, s2: str, p: float = 0.1, boost: float = 0.7) -> float:
    """Jaro–Winkler similarity, bit-identical to DuckDB's
    ``jaro_winkler_similarity`` (0.0 if either side is empty; standard
    prefix scale 0.1 over <=4 chars, applied when jaro > 0.7)."""
    l1, l2 = len(s1), len(s2)
    if l1 == 0 or l2 == 0:
        return 0.0
    if s1 == s2:
        return 1.0
    md = max(l1, l2) // 2 - 1
    m1 = [False] * l1
    m2 = [False] * l2
    matches = 0
    for i, c in enumerate(s1):
        lo, hi = max(0, i - md), min(l2, i + md + 1)
        for j in range(lo, hi):
            if not m2[j] and s2[j] == c:
                m1[i] = m2[j] = True
                matches += 1
                break
    if matches == 0:
        return 0.0
    t = 0
    k = 0
    for i in range(l1):
        if m1[i]:
            while not m2[k]:
                k += 1
            if s1[i] != s2[k]:
                t += 1
            k += 1
    t //= 2
    j = (matches / l1 + matches / l2 + (matches - t) / matches) / 3
    if j > boost:
        pl = 0
        for a, b in zip(s1[:4], s2[:4]):
            if a != b:
                break
            pl += 1
        j += pl * p * (1 - j)
    return j


def jw_tier_bound(s1: str, s2: str) -> float:
    """Cheap UPPER BOUND on Jaro–Winkler: matches <= char-multiset
    overlap and transpositions >= 0 give
    ``jaro <= (m_ub/l1 + m_ub/l2 + 1) / 3``; the prefix boost is
    monotone in jaro with prefix <= 4, so ``jw <= 0.6*jaro_ub + 0.4``
    once jaro_ub > 0.7. Never below the true score."""
    l1, l2 = len(s1), len(s2)
    if l1 == 0 or l2 == 0:
        return 0.0  # matches py_jaro_winkler's empty contract
    c1 = Counter(s1)
    m_ub = sum(min(c1[ch], n) for ch, n in Counter(s2).items())
    jaro_ub = (m_ub / l1 + m_ub / l2 + 1.0) / 3.0
    return 0.6 * jaro_ub + 0.4 if jaro_ub > 0.7 else jaro_ub


def make_jw_udf(floor: float = 0.0):
    """JW pandas UDF with tiered early exits (the scoring hot path is
    quadratic within blocks — the exact O(n*m) match loop must be the
    exception, not the rule):

    1. equality -> 1.0, either empty -> 0.0 (vectorized);
    2. if the multiset upper bound is already below ``floor`` (the
       caller's lowest tier threshold), return the bound — every value
       below the lowest tier carries the same comparison weight, so the
       tier outcome is IDENTICAL to the exact kernel's (the 1e-6 margin
       keeps round(.,6) from crossing the boundary);
    3. otherwise the exact ``py_jaro_winkler`` (bit-identical to
       DuckDB, hypothesis-tested).

    With floor=0.0 the result is exactly py_jaro_winkler on every row.
    """
    cut = floor - 1e-6

    @F.pandas_udf(T.DoubleType())
    def jw(s1: pd.Series, s2: pd.Series) -> pd.Series:
        a = s1.fillna("").to_numpy(dtype=object)
        b = s2.fillna("").to_numpy(dtype=object)
        n = len(a)
        out = np.zeros(n, dtype=np.float64)
        out[a == b] = 1.0
        la = np.fromiter((len(x) for x in a), dtype=np.int64, count=n)
        lb = np.fromiter((len(x) for x in b), dtype=np.int64, count=n)
        empty = (la == 0) | (lb == 0)
        out[empty] = 0.0  # py_jaro_winkler: empty beats equality
        for i in np.nonzero((a != b) & ~empty)[0]:
            x, y = a[i], b[i]
            if floor > 0.0:
                ub = jw_tier_bound(x, y)
                if ub < cut:
                    out[i] = ub
                    continue
            out[i] = py_jaro_winkler(x, y)
        return pd.Series(out)

    return jw


def _tier_weight(jw: Column, tiers: list[float], weights: list[float]) -> Column:
    expr = F.lit(weights[-1])
    for thr, w in zip(reversed(tiers), reversed(weights[:-1])):
        expr = F.when(jw >= F.lit(thr), F.lit(w)).otherwise(expr)
    return expr


def blocked_person_pairs(
    persons: DataFrame,
    id_col: str = "pid",
    block_cap: int = DEFAULT_CONFIG.fuzzy_block_cap,
) -> DataFrame:
    """Blocked candidate pairs for entity resolution.

    Blocking (reference blocking_rules, entity_resolution.py:189-192):
    ``block_on("name_lower") OR block_on("last_name")``, union
    deduplicated on the id pair. Persons enter this engine already
    lowercased, so ``name`` IS the reference's ``name_lower`` column.
    (Note the reference-faithful consequence: a last-name typo is only
    a candidate if the FULL name matches — i.e. never — exactly as in
    the reference; the oracle's planted twins therefore vary the first
    name.) Blocks run through ``guarded_block_pairs`` — a hot block (a
    common last name at web scale) emits O(n) chain+star pairs
    instead of a quadratic task, the reference's splink_max_pairs
    memory guard (config.py:130) restated. Returns one row per pair
    with every payload column duplicated as ``<col>1`` / ``<col>2``.
    """
    cols = [id_col, "name", "first_name", "last_name", "aliases", "category"]
    p = persons.select(*cols)
    return (
        guarded_block_pairs(p, "name", cols, block_cap)
        .unionByName(guarded_block_pairs(p, "last_name", cols, block_cap))
        .select(
            *[F.col(f"a.{c}").alias(f"{c}1") for c in cols],
            *[F.col(f"b.{c}").alias(f"{c}2") for c in cols],
        )
        .dropDuplicates([f"{id_col}1", f"{id_col}2"])
    )


def score_person_pairs(
    persons: DataFrame,
    id_col: str = "pid",
    threshold: float = DEFAULT_THRESHOLD,
    block_cap: int = DEFAULT_CONFIG.fuzzy_block_cap,
    comparisons: dict[str, tuple[list[float], list[float]]] | None = None,
    category_weights: tuple[float, float] | None = None,
    prior: float | None = None,
) -> DataFrame:
    """Blocked comparison + Fellegi–Sunter score.

    persons: (pid, name, first_name, last_name, aliases, category),
    all lowercase. Weights default to the fixed FS_COMPARISONS table;
    pass the output of ``em_training.train_resolution_weights`` for
    Splink-style EM-trained weights instead. Returns
    (pid1, pid2, match_probability) for p >= threshold.
    """
    comparisons = FS_COMPARISONS if comparisons is None else comparisons
    category_weights = (
        FS_CATEGORY_WEIGHTS if category_weights is None else category_weights
    )
    prior = FS_PRIOR_LOGIT2 if prior is None else prior
    blocked = blocked_person_pairs(persons, id_col, block_cap)
    score = F.lit(prior)
    for col, (tiers, weights) in comparisons.items():
        # round(jw, 6) on BOTH engines so tier boundaries are immune to
        # last-ulp float differences; the UDF's early-exit floor is the
        # column's LOWEST tier — every pruned value lands in the same
        # else-tier the exact score would
        jw = F.round(make_jw_udf(tiers[-1])(F.col(f"{col}1"), F.col(f"{col}2")), 6)
        score = score + _tier_weight(jw, tiers, weights)
    score = score + F.when(
        F.col("category1") == F.col("category2"), F.lit(category_weights[0])
    ).otherwise(F.lit(category_weights[1]))
    prob = F.pow(F.lit(2.0), score) / (F.lit(1.0) + F.pow(F.lit(2.0), score))
    return (
        blocked.withColumn("match_probability", F.round(prob, 6))
        .filter(F.col("match_probability") >= threshold)
        .select(
            F.col(f"{id_col}1").alias("pid1"),
            F.col(f"{id_col}2").alias("pid2"),
            "match_probability",
        )
    )


def resolve_persons(
    persons: DataFrame,
    id_col: str = "pid",
    threshold: float = DEFAULT_THRESHOLD,
    train: bool = False,
) -> DataFrame:
    """Full pass: score -> threshold -> connected components.
    Returns (pid, canonical_id) with canonical_id = min pid in the
    matched cluster (reference clusters pairwise predictions at the
    same threshold, entity_resolution.py:236-238).

    ``train=True`` first runs the Splink-style EM training pass
    (``em_training.train_resolution_weights``) and scores with the
    learned weights instead of the fixed table — the reference's
    estimate-u / estimate-prior / EM sequence
    (entity_resolution.py:199-233)."""
    from epstein_pipeline_spark.operators.cc import connected_components

    kw: dict = {}
    if train:
        from epstein_pipeline_spark.operators.em_training import (
            train_resolution_weights,
        )

        trained = train_resolution_weights(persons, id_col=id_col)
        kw = dict(
            comparisons=trained.comparisons,
            category_weights=trained.category_weights,
            prior=trained.prior_logit2,
        )
    pairs = score_person_pairs(persons, id_col, threshold, **kw).select(
        F.col("pid1").cast("string").alias("url1"),
        F.col("pid2").cast("string").alias("url2"),
    )
    nodes = persons.select(F.col(id_col).cast("string").alias("url"))
    return connected_components(pairs, nodes=nodes).select(
        F.col("url").alias(id_col), F.col("cluster_id").alias("canonical_id")
    )
