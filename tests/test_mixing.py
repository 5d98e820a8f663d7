"""Hash-threshold corpus mixing: determinism, budget concentration,
clamping, absent-source exclusion, and the no-sort plan shape."""

from pyspark.sql import functions as F

from epstein_pipeline_spark.operators.mixing import mix_to_budgets


def _corpus(spark, n=400, sources=("web", "books")):
    rows = [
        (i, sources[i % len(sources)], " ".join(f"t{i}x{j}" for j in range(10 + i % 7)))
        for i in range(n)
    ]
    return spark.createDataFrame(rows, "doc_id long, source string, text string")


def test_budget_concentration_and_determinism(spark):
    docs = _corpus(spark)
    budgets = {"web": 800, "books": 400}
    a = mix_to_budgets(docs, budgets).select("doc_id", "source", "n_tokens")
    got = a.collect()
    # determinism: identical selection on re-execution
    assert sorted(r["doc_id"] for r in got) == sorted(r["doc_id"] for r in a.collect())
    kept = {}
    for r in got:
        kept[r["source"]] = kept.get(r["source"], 0) + r["n_tokens"]
    # expected = budget; tolerance generous at this tiny scale
    # (sd ~ sqrt(n_kept)*avg_doc ~ 110 tokens here)
    for src, budget in budgets.items():
        assert 0.3 * budget <= kept.get(src, 0) <= 2.2 * budget, (src, kept)


def test_budget_over_total_keeps_everything(spark):
    docs = _corpus(spark, n=50, sources=("web",))
    out = mix_to_budgets(docs, {"web": 10_000_000})
    assert out.count() == 50
    assert out.agg(F.max("threshold")).collect()[0][0] == 1.0


def test_absent_source_contributes_nothing(spark):
    docs = _corpus(spark, n=60)
    out = mix_to_budgets(docs, {"web": 500})
    assert out.filter(F.col("source") == "books").count() == 0


def test_plan_has_no_sort_and_broadcasts_thresholds(spark):
    docs = _corpus(spark, n=40)
    df = mix_to_budgets(docs, {"web": 500, "books": 500})
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Sort" not in plan
    assert "BroadcastHashJoin" in plan


def test_tokens_col_passthrough(spark):
    docs = _corpus(spark, n=30).withColumn("tok_n", F.lit(100).cast("long"))
    out = mix_to_budgets(docs, {"web": 700, "books": 700}, tokens_col="tok_n")
    assert all(r["n_tokens"] == 100 for r in out.collect())


def test_tab_newline_only_text_counts_zero_tokens(spark):
    # F.trim strips only ' ', so a trim-based gate would count "\t\n"
    # as 2 empty tokens
    docs = spark.createDataFrame(
        [
            (1, "web", "\t\n"),
            (2, "web", " \t \r\n "),
            (3, "web", None),
            (4, "web", "\tone two\n"),
        ],
        "doc_id long, source string, text string",
    )
    out = mix_to_budgets(docs, {"web": 10_000_000})
    assert {r["doc_id"]: r["n_tokens"] for r in out.collect()} == {1: 0, 2: 0, 3: 0, 4: 2}
