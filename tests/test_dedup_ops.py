"""Operator-level dedup semantics, mirroring the reference's
tests/test_dedup.py: exact pair found, near-dup found, NO false
positive on unrelated docs, first-pass-wins merge."""

from pyspark.sql import functions as F

from epstein_pipeline_spark.config import DedupConfig
from epstein_pipeline_spark.functions.text import normalize_text_expr
from epstein_pipeline_spark.operators.exact import exact_all_pairs, exact_pairs
from epstein_pipeline_spark.operators.lcs import py_lcs_dp, py_lcs_length, py_lcs_ratio
from epstein_pipeline_spark.operators.lsh import (
    band_rows,
    bucket_pairs,
    candidate_pairs_from_bands,
    score_candidates,
)
from epstein_pipeline_spark.operators.pairs import canonicalize_pairs, union_first_wins
from epstein_pipeline_spark.operators.simhash_pass import simhash_pass
from epstein_pipeline_spark.operators.verify import verify_pairs
from epstein_pipeline_spark.plans.pipeline import (
    minhash_scored_stage,
    minhash_sigs,
    pairs_stage,
    signatures_stage,
    simhash_sigs,
)

CFG = DedupConfig(band_bucket_cap=50)

LONG_A = " ".join(f"sentence {i} about the quarterly filing and related disclosures" for i in range(30))
LONG_B = LONG_A.replace("quarterly", "quartrly").replace("sentence 3 ", "sentnce 3 ")
UNRELATED = " ".join(f"totally different material {i*13} regarding maritime law precedents" for i in range(30))


def _docs(spark, rows):
    return spark.createDataFrame(rows, "url string, text string")


def _normalized(docs):
    return docs.select("url", normalize_text_expr("text").alias("text"))


def _minhash_edges(docs):
    """The batch plan's MinHash chain: signatures_stage -> gate ->
    band candidates -> estimate -> minhash_scored, kept at the
    threshold."""
    norm = _normalized(docs)
    sigs = minhash_sigs(signatures_stage(norm, CFG), CFG)
    est = score_candidates(candidate_pairs_from_bands(band_rows(sigs, CFG), CFG), sigs, CFG)
    return minhash_scored_stage(est, norm, CFG).filter(F.col("score") >= CFG.jaccard_threshold)


def _simhash_edges(docs):
    return simhash_pass(simhash_sigs(signatures_stage(_normalized(docs), CFG), CFG), CFG)


def test_capped_bucket_emits_the_same_edges_for_every_member_shape(spark):
    """A band bucket above ``band_bucket_cap`` emits the sorted chain +
    star-to-min edges whether its members are url strings (batch
    MinHash), (url, payload) structs (SimHash) or ride through the
    incremental touched-bucket expansion with an empty old side; a
    bucket at the cap still emits all pairs."""
    from epstein_pipeline_spark.plans.incremental import _touched_bucket_pairs

    cfg = DedupConfig(band_bucket_cap=4)
    hot = [f"u{i}" for i in (5, 0, 8, 3, 6, 1, 7)]  # 7 members > cap, unsorted
    small = ["v2", "v0", "v1", "v3"]  # exactly cap: all pairs
    bands = spark.createDataFrame(
        [(u, 0, 11, i) for i, u in enumerate(hot)] + [(u, 1, 22, i) for i, u in enumerate(small)],
        "url string, band_i int, band_hash long, payload long",
    )
    keys = ["band_i", "band_hash"]
    m = sorted(hot)
    want = {(m[i], m[i + 1]) for i in range(len(m) - 1)} | {(m[0], x) for x in m[2:]}
    want |= {(a, b) for a in small for b in small if a < b}

    def edges(df, a, b):
        return {(r[0], r[1]) for r in df.select(a, b).collect()}

    assert len(want) == 6 + 5 + 6
    assert edges(candidate_pairs_from_bands(bands, cfg), "url1", "url2") == want
    structs = bucket_pairs(bands, keys, F.struct("url", "payload"), cfg.band_bucket_cap)
    assert edges(structs, "p.a.url", "p.b.url") == want
    touched = _touched_bucket_pairs(
        bands.limit(0), bands, keys, ["url", "payload"], cfg.band_bucket_cap
    )
    assert edges(touched, "p.a.url", "p.b.url") == want


def test_exact_pair_found_case_whitespace(spark):
    """Reference test_dedup.py:121-143: same normalized content pairs."""
    docs = _docs(spark, [("u1", "Some  Text HERE"), ("u2", "some text here"), ("u3", "other")])
    got = exact_all_pairs(docs).collect()
    assert [(r["url1"], r["url2"], r["score"]) for r in got] == [("u1", "u2", 1.0)]


def test_exact_star_pairs_equivalent_closure(spark):
    docs = _docs(spark, [(f"u{i}", "same content") for i in range(5)])
    star = exact_pairs(docs).collect()
    assert len(star) == 4  # n-1 star edges, same transitive closure as C(5,2)
    assert all(r["url1"] == "u0" for r in star)


def test_minhash_finds_near_duplicate(spark):
    docs = _docs(spark, [("a", LONG_A), ("b", LONG_B), ("c", UNRELATED)])
    got = _minhash_edges(docs).collect()
    assert [(r["url1"], r["url2"]) for r in got] == [("a", "b")]
    assert got[0]["score"] >= CFG.jaccard_threshold


def test_no_false_positive_unrelated(spark):
    """Reference test_dedup.py:53-70: unrelated docs must not pair."""
    import numpy as np

    def rand_doc(i: int) -> str:
        rd = np.random.RandomState(1000 + i)
        return " ".join(
            "".join(chr(97 + c) for c in rd.randint(0, 26, 8)) for _ in range(120)
        )

    docs = _docs(spark, [(f"u{i}", rand_doc(i)) for i in range(10)])
    assert _minhash_edges(docs).count() == 0
    assert _simhash_edges(docs).count() == 0
    assert exact_all_pairs(docs).count() == 0


def test_simhash_finds_reordered(spark):
    sents = [f"clause {i} of the agreement covers topic {i*7%11}." for i in range(40)]
    a = " ".join(sents)
    reordered = sents[:]
    reordered[5], reordered[6] = reordered[6], reordered[5]
    b = " ".join(reordered)
    docs = _docs(spark, [("a", a), ("b", b)])
    got = _simhash_edges(docs).collect()
    assert [(r["url1"], r["url2"]) for r in got] == [("a", "b")]


def test_first_pass_wins(spark):
    exact = spark.createDataFrame([("a", "b", 1.0, "exact")], "url1 string, url2 string, score double, method string")
    mh = spark.createDataFrame([("a", "b", 0.9, "minhash"), ("c", "d", 0.85, "minhash")], "url1 string, url2 string, score double, method string")
    merged = {(r["url1"], r["url2"]): r["method"] for r in union_first_wins(exact, mh).collect()}
    assert merged == {("a", "b"): "exact", ("c", "d"): "minhash"}


def test_unmapped_method_ranks_last(spark):
    """A method string absent from PASS_PRIORITY must LOSE ties, not
    null-sort first and silently outrank 'exact'."""
    exact = spark.createDataFrame(
        [("a", "b", 1.0, "exact")], "url1 string, url2 string, score double, method string"
    )
    mystery = spark.createDataFrame(
        [("a", "b", 1.0, "experimental")], "url1 string, url2 string, score double, method string"
    )
    merged = {(r["url1"], r["url2"]): r["method"] for r in union_first_wins(mystery, exact).collect()}
    assert merged == {("a", "b"): "exact"}


def test_canonicalize(spark):
    p = spark.createDataFrame([("z", "a", 0.9, "minhash"), ("a", "a", 1.0, "exact")], "url1 string, url2 string, score double, method string")
    got = canonicalize_pairs(p).collect()
    assert [(r["url1"], r["url2"]) for r in got] == [("a", "z")]


def test_lcs_matches_dp_oracle():
    import numpy as np

    rng = np.random.RandomState(5)
    alpha = "abcdef "
    for _ in range(20):
        s1 = "".join(alpha[i] for i in rng.randint(0, len(alpha), rng.randint(0, 60)))
        s2 = "".join(alpha[i] for i in rng.randint(0, len(alpha), rng.randint(0, 60)))
        assert py_lcs_length(s1, s2) == py_lcs_dp(s1, s2)


def _words(prefix: str, n: int, seed: int) -> str:
    import random

    r = random.Random(seed)
    return " ".join(f"{prefix}{r.randrange(10**6):06d}" for _ in range(n))


def _wrapped(body: str, header: str, footer: str) -> str:
    """``body`` inside site chrome: shingle Jaccard drops into the gray
    zone while the body stays one common substring."""
    return header + " " + body + " " + footer


def _cand(spark, rows):
    """Candidate pairs (url1, url2, score) scored by a MinHash estimate."""
    return spark.createDataFrame(rows, "url1 string, url2 string, score double")


def _no_pairs(spark):
    return spark.createDataFrame([], "url1 string, url2 string, score double, method string")


def test_lcs_rescues_boilerplate_wrapped(spark):
    """One verify pass: the wrapped duplicate gets its exact Jaccard
    (gray zone) and an LCS ratio clearing lcs_min_ratio; a pair above
    the threshold gets no LCS ratio; an unrelated pair is dropped."""
    body = _words("body", 200, 1)
    wrapped = _wrapped(body, _words("menu", 25, 5), _words("foot", 25, 6))
    docs = _docs(spark, [("a", body), ("b", wrapped), ("c", UNRELATED), ("d", LONG_A), ("e", LONG_B)])
    cand = _cand(spark, [("a", "b", 0.7), ("a", "c", 0.5), ("d", "e", 0.85)])
    got = {(r["url1"], r["url2"]): r for r in verify_pairs(cand, docs, CFG).collect()}
    assert set(got) == {("a", "b"), ("d", "e")}
    ab, de = got[("a", "b")], got[("d", "e")]
    assert CFG.lcs_gray_low <= ab["score"] < CFG.jaccard_threshold
    assert ab["lcs_ratio"] >= CFG.lcs_min_ratio
    assert de["score"] >= CFG.jaccard_threshold and de["lcs_ratio"] is None


def test_lcs_rejects_gray_pair_without_common_body(spark):
    """A gray-zone pair sharing words but no long substring (the body
    with each word pair swapped and every fifth word edited) gets an
    LCS ratio below lcs_min_ratio, and ``pairs_stage`` makes no edge of
    it, while the wrapped duplicate next to it becomes an lcs edge."""
    words = _words("body", 200, 1).split()
    edits = _words("edit", 200, 2).split()
    swapped = [words[i ^ 1] for i in range(len(words))]
    scrambled = " ".join(edits[i] if i % 5 == 0 else w for i, w in enumerate(swapped))
    body = " ".join(words)
    wrapped = _wrapped(body, _words("menu", 25, 5), _words("foot", 25, 6))
    docs = _docs(spark, [("a", body), ("b", wrapped), ("s", scrambled)])
    scored = verify_pairs(_cand(spark, [("a", "b", 0.7), ("a", "s", 0.7)]), docs, CFG)
    got = {(r["url1"], r["url2"]): r for r in scored.collect()}
    assert CFG.lcs_gray_low <= got[("a", "s")]["score"] < CFG.jaccard_threshold
    assert got[("a", "s")]["lcs_ratio"] < CFG.lcs_min_ratio
    pairs = pairs_stage(_no_pairs(spark), scored, _no_pairs(spark), CFG, lcs_check=True)
    assert [(r["url1"], r["url2"], r["method"]) for r in pairs.collect()] == [("a", "b", "lcs")]
    assert pairs_stage(_no_pairs(spark), scored, _no_pairs(spark), CFG, lcs_check=False).count() == 0


def test_estimate_band_above_a_high_threshold_still_gets_lcs(spark):
    """With a threshold above ESTIMATE_ACCEPT, a row whose estimate
    falls between the two keeps the estimate as its score (no exact
    Jaccard) and, being below the threshold, gets its LCS ratio: the
    wrapped duplicate becomes an lcs edge scored by that ratio, and a
    row at or above the threshold stays a minhash edge."""
    cfg = DedupConfig(band_bucket_cap=50, jaccard_threshold=0.95)
    body = _words("body", 200, 1)
    wrapped = _wrapped(body, _words("menu", 25, 5), _words("foot", 25, 6))
    docs = _docs(spark, [("a", body), ("b", wrapped), ("d", LONG_A), ("e", LONG_B)])
    est = _cand(spark, [("a", "b", 0.92), ("d", "e", 0.97)])
    scored = minhash_scored_stage(est, docs, cfg)
    got = {(r["url1"], r["url2"]): r for r in scored.collect()}
    assert got[("a", "b")]["score"] == 0.92 and got[("a", "b")]["lcs_ratio"] >= cfg.lcs_min_ratio
    assert got[("d", "e")]["score"] == 0.97 and got[("d", "e")]["lcs_ratio"] is None
    pairs = pairs_stage(_no_pairs(spark), scored, _no_pairs(spark), cfg, lcs_check=True)
    assert {(r["url1"], r["url2"], r["method"], r["score"]) for r in pairs.collect()} == {
        ("a", "b", "lcs", round(got[("a", "b")]["lcs_ratio"], 6)),
        ("d", "e", "minhash", 0.97),
    }


def test_lcs_ratio_bounded_for_multibyte_text(spark):
    """The kernel measures LCS in UTF-8 bytes; the ratio denominator
    must too — a gray-zone pair of accented text sharing its whole
    body must never yield lcs_ratio > 1."""
    body = _words("é", 120, 1)
    docs = _docs(spark, [("a", body), ("b", _wrapped(body, _words("ü", 20, 2), _words("ø", 20, 3)))])
    got = verify_pairs(_cand(spark, [("a", "b", 0.7)]), docs, CFG).collect()
    assert got and CFG.lcs_gray_low <= got[0]["score"] < CFG.jaccard_threshold
    assert 0.0 < got[0]["lcs_ratio"] <= 1.0


def test_lcs_ratio_truncates_by_code_point():
    """``py_lcs_ratio`` compares the first ``max_chars`` code points
    (Spark ``substring`` semantics); an empty truncated text reads 1.0."""
    assert py_lcs_ratio("abcdef", "xxabcd", 4) == 0.5  # "abcd" vs "xxab"
    assert py_lcs_ratio("éa", "éb", 1) == 1.0  # both truncate to "é"
    assert py_lcs_ratio("", "abc", 10) == 1.0
    assert py_lcs_ratio(None, "abc", 10) == 1.0
