"""Corpus mixing to per-source token budgets — the data-mixing step a
training pipeline runs last (Dolma / RedPajama convention: each source
contributes a fixed token share, selected reproducibly).

Two forms, one contract (deterministic, layout-independent):

- AUDIT form (entry_queries.q_corpus_mix): per-source window cumsum
  over an md5 order key — exact budgets, but a per-source sort. Right
  for audits and sources that fit a partition.
- SCALE form (this module): hash-threshold selection. Keep a doc iff
  u = xxhash64(id) mapped to [0,1) falls under its source's threshold
  t = budget / total_source_tokens. No sort, no window: one partial-
  aggregating groupBy for per-source token totals (tiny result,
  broadcast back), then a stateless filter over the scan. Expected
  kept tokens = budget exactly; realized kept tokens concentrate
  within O(sqrt(n_kept)) * avg_doc_tokens (Chernoff), i.e. fractions
  of a percent at real budgets. At 10^12 docs this is the only shape
  that survives: the per-source sort the window form needs would be a
  full shuffle+sort of the corpus on a skewed key.

Threshold note: u is derived from the SIGNED 64-bit xxhash64 shifted
to [0, 2^64) so the mapping is uniform; thresholds clamp to 1.0 when
a budget exceeds the source's total (keep everything).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["mix_to_budgets"]

_TWO63 = float(2**63)
_TWO64 = float(2**64)


def _unit_hash(col):
    """xxhash64 -> uniform [0, 1): (h + 2^63) / 2^64 over the signed
    64-bit output (exact in doubles up to the 2^-53 quantization,
    irrelevant at any real budget)."""
    return (F.xxhash64(col).cast("double") + F.lit(_TWO63)) / F.lit(_TWO64)


def mix_to_budgets(
    docs: DataFrame,
    budgets: dict[str, int] | DataFrame,
    *,
    id_col: str = "doc_id",
    source_col: str = "source",
    tokens_col: str | None = None,
    text_col: str = "text",
) -> DataFrame:
    """Select a per-source token-budgeted mix.

    ``budgets``: {source: token_budget} or a DataFrame
    (source_col, budget). Sources absent from ``budgets`` contribute
    nothing. Returns the selected docs plus ``n_tokens``, ``u`` (the
    selection coordinate) and ``threshold`` — keep the columns in the
    output table so the selection is auditable/reproducible.
    """
    spark = docs.sparkSession
    if isinstance(budgets, dict):
        budgets_df = spark.createDataFrame(
            [(k, int(v)) for k, v in budgets.items()], f"{source_col} string, budget long"
        )
    else:
        budgets_df = budgets

    # split("") == [""] would count 1 token for empty/whitespace-only
    # docs (inflating totals and lowering thresholds), and NULL text
    # would contribute NULL n_tokens rows that drop from totals while
    # still passing the u<threshold filter — zero-gate both on "has a
    # non-space char" (NULL rlike is NULL, which takes the 0 branch).
    # F.trim strips only ' ', so edge whitespace is cut by regex: a
    # leading tab would otherwise split off an empty first token.
    text = F.col(text_col)
    n_tokens = (
        F.col(tokens_col)
        if tokens_col
        else F.when(
            text.rlike(r"\S"),
            F.size(F.split(F.regexp_replace(text, r"^\s+|\s+$", ""), r"\s+")),
        )
        .otherwise(F.lit(0))
        .cast("long")
    )
    base = docs.withColumn("n_tokens", n_tokens)

    totals = base.groupBy(source_col).agg(F.sum("n_tokens").alias("total_tokens"))
    # per-source thresholds: tiny (one row per source) — broadcast
    thresholds = (
        totals.join(F.broadcast(budgets_df), source_col)
        .select(
            source_col,
            F.least(
                F.lit(1.0), F.col("budget").cast("double") / F.col("total_tokens")
            ).alias("threshold"),
        )
    )
    return (
        base.join(F.broadcast(thresholds), source_col)
        .withColumn("u", _unit_hash(F.col(id_col)))
        .filter(F.col("u") < F.col("threshold"))
    )
