"""Block-size guard for blocked fuzzy joins + InDel/JW kernel parity.

The reference caps blocked-comparison blowup with a max-pairs memory
guard (config.py:130 splink_max_pairs, entity_resolution.py:210); the
engine restates it as guarded_block_pairs (chain+star above the cap).
A planted hot block >= 10x the cap must emit O(n) pairs, not O(n^2).
"""

from __future__ import annotations

import random

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from epstein_pipeline_spark.functions.fuzzy import py_indel_ratio
from epstein_pipeline_spark.operators.fuzzy_title import title_fuzzy_pairs
from epstein_pipeline_spark.operators.pairs import (
    guarded_block_pairs,
    salted_block_join,
)
from epstein_pipeline_spark.operators.resolution import (
    jw_tier_bound,
    make_jw_udf,
    py_jaro_winkler,
    score_person_pairs,
)


# ---------------------------------------------------------------------------
# hot-block guard: O(n) emission above the cap
# ---------------------------------------------------------------------------

def test_hot_block_emits_linear_pairs(spark):
    """One block with n = 10x cap members: all-pairs would be C(n,2) =
    19,900 pairs; the guard must emit the chain+star O(n) set."""
    cap, n = 20, 200
    rows = [(f"id{i:04d}", "hot") for i in range(n)] + [
        (f"ok{i}", f"cold{i}") for i in range(10)
    ]
    df = spark.createDataFrame(rows, "id string, blk string")
    pairs = guarded_block_pairs(df, "blk", ["id"], cap).collect()
    # chain (n-1) + star to min (n-2) = 2n - 3
    assert len(pairs) == 2 * n - 3
    # connectivity: every member reachable (chain alone guarantees it)
    ids = {r["a"]["id"] for r in pairs} | {r["b"]["id"] for r in pairs}
    assert len(ids) == n


def test_under_cap_blocks_are_exact_all_pairs(spark):
    rng = random.Random(7)
    rows = [(i, f"b{rng.randint(0, 3)}") for i in range(40)]
    df = spark.createDataFrame(rows, "id long, blk string")
    got = {
        (r["a"]["id"], r["b"]["id"])
        for r in guarded_block_pairs(df, "blk", ["id"], cap=100).collect()
    }
    by_block: dict[str, list[int]] = {}
    for i, b in rows:
        by_block.setdefault(b, []).append(i)
    want = {
        (x, y)
        for mem in by_block.values()
        for x in mem
        for y in mem
        if x < y
    }
    assert got == want


def test_null_block_keys_never_pair(spark):
    df = spark.createDataFrame(
        [(1, None), (2, None), (3, "b"), (4, "b")], "id long, blk string"
    )
    got = {
        (r["a"]["id"], r["b"]["id"])
        for r in guarded_block_pairs(df, "blk", ["id"], cap=10).collect()
    }
    assert got == {(3, 4)}


def test_title_fuzzy_hot_block_guarded(spark):
    """A hot first-word block (10x cap) through the full title operator
    stays O(n) in emitted pairs."""
    cap, n = 10, 100
    rows = [(f"d{i:03d}", f"breaking news item number {i}") for i in range(n)]
    df = spark.createDataFrame(rows, "id string, title string")
    out = title_fuzzy_pairs(df, threshold=0.0, block_cap=cap).collect()
    assert 0 < len(out) <= 2 * n - 3


def test_salted_block_join_hot_block_is_linear(spark):
    """The dense-block guard variant: a hot block 10x the cap emits
    ~n*cap/2 within-sub pairs, not C(n,2)."""
    cap, n = 20, 200
    rows = [(i, "hot") for i in range(n)]
    df = spark.createDataFrame(rows, "id long, blk string")
    pairs = salted_block_join(df, "blk", ["id"], cap).collect()
    # ceil(200/20)=10 subs of ~20 -> ~10*C(20,2)=1900 pairs expected;
    # C(200,2)=19900 would mean the guard is off. Hash imbalance gives
    # slack but stays an order of magnitude under quadratic.
    assert 0 < len(pairs) < 5000
    assert all(r["a"]["id"] < r["b"]["id"] for r in pairs)


def test_salted_block_join_under_cap_exact(spark):
    rng = random.Random(11)
    rows = [(i, f"b{rng.randint(0, 3)}") for i in range(40)]
    df = spark.createDataFrame(rows, "id long, blk string")
    got = {
        (r["a"]["id"], r["b"]["id"])
        for r in salted_block_join(df, "blk", ["id"], cap=100).collect()
    }
    by_block: dict[str, list[int]] = {}
    for i, b in rows:
        by_block.setdefault(b, []).append(i)
    want = {
        (x, y) for mem in by_block.values() for x in mem for y in mem if x < y
    }
    assert got == want


def test_salted_block_join_divergence_contract(spark):
    """The guard AT its divergence scale (blocks > cap — the regime
    the customer_fuzzy oracle-scope comment documents as sf >= ~0.34
    but which no test had ever executed): the degradation contract is
    (1) guarded pairs ⊆ exact all-pairs, (2) every surviving pair
    carries the IDENTICAL score the exact join computes for it (the
    guard drops pairs, never corrupts them), (3) emission is O(n*cap)
    within-sub pairs, and (4) cross-sub pairs really are dropped —
    the documented, deliberate divergence."""
    cap, n = 25, 400  # one block 16x the cap
    rows = [(i, f"name{i:04d}") for i in range(n)]
    df = spark.createDataFrame(rows, "id long, name string").withColumn(
        "blk", F.lit("hot")
    )
    got = {
        (r["a"]["id"], r["b"]["id"]): r["lev"]
        for r in salted_block_join(df, "blk", ["id", "name"], cap)
        .withColumn("lev", F.levenshtein(F.col("a.name"), F.col("b.name")))
        .collect()
    }
    exact = {
        (r["id1"], r["id2"]): r["lev"]
        for r in df.alias("x")
        .join(df.alias("y"), "blk")
        .filter(F.col("x.id") < F.col("y.id"))
        .select(
            F.col("x.id").alias("id1"),
            F.col("y.id").alias("id2"),
            F.levenshtein(F.col("x.name"), F.col("y.name")).alias("lev"),
        )
        .collect()
    }
    assert set(got) <= set(exact)                      # never invents pairs
    assert all(exact[k] == v for k, v in got.items())  # identical scores
    assert 0 < len(got) <= n * cap                     # O(n*cap) emission
    assert len(got) < len(exact)                       # divergence occurred


def test_salted_block_join_shuffle_path_matches_broadcast(spark):
    """broadcast_max_blocks=0 forces the shuffled sizes join (the
    web-scale-cardinality fallback, r3 verdict): pair sets must be
    identical to the broadcast path, and the forced plan must not hint
    a broadcast of the sizes table."""
    rng = random.Random(7)
    rows = [(i, f"b{rng.randint(0, 5)}") for i in range(60)]
    df = spark.createDataFrame(rows, "id long, blk string")
    key = lambda r: (r["a"]["id"], r["b"]["id"])  # noqa: E731
    bcast = {key(r) for r in salted_block_join(df, "blk", ["id"], cap=100).collect()}
    forced = salted_block_join(df, "blk", ["id"], cap=100, broadcast_max_blocks=0)
    assert "ResolvedHint" not in forced._jdf.queryExecution().logical().toString()
    assert {key(r) for r in forced.collect()} == bcast


# ---------------------------------------------------------------------------
# InDel ratio kernel (rapidfuzz fuzz.ratio semantics, dedup.py:313)
# ---------------------------------------------------------------------------

def _naive_indel_ratio(a: str, b: str) -> float:
    la, lb = len(a), len(b)
    if la + lb == 0:
        return 1.0
    dp = [[0] * (lb + 1) for _ in range(la + 1)]
    for i in range(1, la + 1):
        for j in range(1, lb + 1):
            dp[i][j] = max(
                dp[i - 1][j], dp[i][j - 1], dp[i - 1][j - 1] + (a[i - 1] == b[j - 1])
            )
    return 2.0 * dp[la][lb] / (la + lb)


@settings(max_examples=300, deadline=None)
@given(st.text(max_size=14), st.text(max_size=14))
def test_indel_ratio_matches_naive_lcs_dp(a, b):
    assert abs(py_indel_ratio(a, b) - _naive_indel_ratio(a, b)) < 1e-12


def test_indel_ratio_pinned_examples():
    # fuzz.ratio("this is a test", "this is a test!") == 2*14/29
    assert py_indel_ratio("this is a test", "this is a test!") == pytest.approx(
        28 / 29
    )
    assert py_indel_ratio("", "") == 1.0
    assert py_indel_ratio("abc", "") == 0.0
    # substitution costs 2 under InDel: "abc" vs "axc" -> LCS 2, ratio 4/6
    assert py_indel_ratio("abc", "axc") == pytest.approx(4 / 6)


# ---------------------------------------------------------------------------
# JW early-exit: bound is a true upper bound; tier outcomes identical
# ---------------------------------------------------------------------------

@settings(max_examples=300, deadline=None)
@given(
    st.text(alphabet="abcdefg .", min_size=1, max_size=12),
    st.text(alphabet="abcdefg .", min_size=1, max_size=12),
)
def test_jw_tier_bound_is_upper_bound(a, b):
    assert jw_tier_bound(a, b) >= py_jaro_winkler(a, b) - 1e-12


def test_floored_jw_udf_tier_outcomes_match_exact(spark):
    """make_jw_udf(floor) may return the cheap bound below the floor,
    but every tier comparison AT OR ABOVE the floor (round 6, >= tier)
    must equal the exact kernel's — the contract score_person_pairs
    relies on (floor = the column's lowest tier)."""
    rng = random.Random(3)
    alpha = "abcdefghij "
    rows = [
        (
            "".join(rng.choice(alpha) for _ in range(rng.randint(0, 12))),
            "".join(rng.choice(alpha) for _ in range(rng.randint(0, 12))),
        )
        for _ in range(400)
    ] + [("same", "same"), ("", ""), ("x", "")]
    df = spark.createDataFrame(rows, "s1 string, s2 string")
    for floor in (0.70, 0.88):
        got = df.select(
            "s1", "s2", F.round(make_jw_udf(floor)("s1", "s2"), 6).alias("jw")
        ).collect()
        for r in got:
            exact = round(py_jaro_winkler(r["s1"], r["s2"]), 6)
            for tier in (t for t in (0.70, 0.88, 0.95) if t >= floor):
                assert (r["jw"] >= tier) == (exact >= tier), (
                    r["s1"], r["s2"], r["jw"], exact, floor, tier,
                )


def test_resolution_hot_block_guarded(spark):
    """A hot last-name block (10x cap) through score_person_pairs —
    the reference blocks on name_lower/last_name, so the common
    surname is the web-scale hot key — the blocked comparison volume
    stays O(n)."""
    cap, n = 10, 100
    rows = [
        (i, f"v{i:03d} smith", f"v{i:03d}", "smith", f"alias {i}", "legal")
        for i in range(n)
    ]
    persons = spark.createDataFrame(
        rows,
        "pid long, name string, first_name string, last_name string,"
        " aliases string, category string",
    )
    # threshold 0 keeps every scored pair -> emitted count == blocked
    # candidate count, which the guard bounds at 2n-3 per hot block
    out = score_person_pairs(persons, threshold=0.0, block_cap=cap).collect()
    assert 0 < len(out) <= 2 * n - 3


# ---------------------------------------------------------------------------
# token_sort_ratio: exact fuzz.token_sort_ratio semantics (confidence.py:98)
# ---------------------------------------------------------------------------

def test_token_sort_ratio_pinned_examples():
    from epstein_pipeline_spark.functions.fuzzy import py_token_sort_ratio

    # fuzz.token_sort_ratio("new york mets", "mets new york") == 100
    assert py_token_sort_ratio("new york mets", "mets new york") == 1.0
    # sorted: "mets new york" vs "meats new york" -> InDel over joins
    assert py_token_sort_ratio("new york mets", "new york meats") == pytest.approx(
        py_indel_ratio("mets new york", "meats new york")
    )
    assert py_token_sort_ratio("", "") == 1.0
    assert py_token_sort_ratio("  a  b ", "b a") == 1.0  # whitespace runs collapse


def test_token_sort_expr_matches_py_twin(spark):
    from epstein_pipeline_spark.functions.fuzzy import (
        py_token_sort_ratio,
        token_sort_ratio_expr,
    )
    from epstein_pipeline_spark.functions.text import py_normalize_text

    rows = [
        ("john alpha", "alpha john"),
        ("Mary  Beta", "beta mary x"),
        ("a b c", "c b a"),
        ("one two", "three four"),
        ("", "x"),
    ]
    df = spark.createDataFrame(rows, "a string, b string")
    got = {
        (r["a"], r["b"]): r["s"]
        for r in df.withColumn(
            "s", F.round(token_sort_ratio_expr(F.col("a"), F.col("b")), 6)
        ).collect()
    }
    for a, b in rows:
        want = round(py_token_sort_ratio(py_normalize_text(a), py_normalize_text(b)), 6)
        assert got[(a, b)] == pytest.approx(want), (a, b)


@settings(max_examples=200, deadline=None)
@given(
    st.text(alphabet="ab cd", max_size=16),
    st.text(alphabet="ab cd", max_size=16),
)
def test_token_sort_ratio_matches_naive_composition(a, b):
    from epstein_pipeline_spark.functions.fuzzy import py_token_sort_ratio

    want = _naive_indel_ratio(
        " ".join(sorted(a.split())), " ".join(sorted(b.split()))
    )
    assert abs(py_token_sort_ratio(a, b) - want) < 1e-12


def test_guarded_block_pairs_excludes_duplicate_id_self_pairs(spark):
    """A repeated id in one block (same person row ingested twice)
    must not emit an id-equal 'pair' — the strict < join the guard
    replaces structurally excluded self-pairs."""
    df = spark.createDataFrame(
        [(1, "b"), (1, "b"), (2, "b"), (3, "c"), (3, "c")], "id long, blk string"
    )
    got = {
        (r["a"]["id"], r["b"]["id"])
        for r in guarded_block_pairs(df, "blk", ["id"], cap=100).collect()
    }
    assert all(x != y for x, y in got), got
    assert got == {(1, 2)}
