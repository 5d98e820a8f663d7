"""Byte-identity of the text functions vs their pure-Python reference
twins (the invariant from BASELINE.json input_hint)."""

import hashlib

import pytest
from pyspark.sql import functions as F

from epstein_pipeline_spark.functions.text import (
    bpe_ish_token_count_expr,
    char_shingles,
    content_hash_expr,
    lang_id_expr,
    normalize_text_expr,
    py_content_hash,
    py_normalize_text,
    quality_score_expr,
    token_count_expr,
)

CASES = [
    "Hello   World",
    "  leading and trailing  ",
    "MiXeD CaSe\tTABS\nand\r\nnewlines",
    "unicode nbsp emsp",
    "",
    "   ",
    "a",
    "Multi\n\n\nblank\n\n\n\nlines",
]


def _run_pairs(spark, expr, values):
    df = spark.createDataFrame([(v,) for v in values], "t string")
    return [r["out"] for r in df.select(expr("t").alias("out")).collect()]


def test_normalize_matches_reference(spark):
    got = _run_pairs(spark, normalize_text_expr, CASES)
    want = [py_normalize_text(c) for c in CASES]
    assert got == want


def test_content_hash_matches_reference(spark):
    got = _run_pairs(spark, content_hash_expr, CASES)
    want = [py_content_hash(c) for c in CASES]
    assert got == want
    # and the python twin matches hashlib directly
    assert py_content_hash("Hello   World") == hashlib.sha256(b"hello world").hexdigest()


def test_extraction_reproduces_source_text_normalized(spark, pages):
    """Extracted text, normalized, must equal the generator's ground-
    truth text, normalized — the per-url invariant, checked on the
    extract stage's output."""
    from epstein_pipeline_spark.functions.text import normalize_text_expr as N
    from epstein_pipeline_spark.plans.pipeline import extract_stage

    bad = (
        extract_stage(pages)
        .join(pages.select("url", N(F.col("text")).alias("b")), "url")
        .filter(N("extracted_text") != F.col("b"))
        .count()
    )
    assert bad == 0


def test_char_shingles(spark):
    df = spark.createDataFrame([("abcdefg",)], "t string")
    got = df.select(char_shingles("t", 5).alias("s")).first()["s"]
    assert sorted(got) == ["abcde", "bcdef", "cdefg"]


def test_token_count(spark):
    df = spark.createDataFrame([("one  two\tthree",), ("", )], "t string")
    got = [r[0] for r in df.select(token_count_expr("t")).collect()]
    assert got[0] == 3


def test_bpe_ish_token_count(spark):
    df = spark.createDataFrame([("hello, world! 42",)], "t string")
    got = df.select(bpe_ish_token_count_expr("t").alias("n")).first()["n"]
    assert got >= 5  # hello , world ! 42


def test_lang_id(spark):
    df = spark.createDataFrame(
        [
            ("the cat and the dog went to the house for a nap",),
            ("der hund und die katze ist nicht mit von zu haus",),
            ("le chat et la maison les des un une est que pour",),
            ("zzz qqq xxx",),
        ],
        "t string",
    )
    got = [r[0] for r in df.select(lang_id_expr("t")).collect()]
    assert got == ["en", "de", "fr", "und"]


def test_lang_id_tie_breaks_in_declared_order(spark):
    """Score ties prefer en >= de >= fr — the ★lang_id oracle's CASE
    semantics (max-struct ordering would pick 'fr' on ties)."""
    df = spark.createDataFrame(
        [("the le",), ("der le",), ("the der le",)], "t string"
    )
    got = [r[0] for r in df.select(lang_id_expr("t")).collect()]
    assert got == ["en", "de", "en"]


def test_quality_score_bounds(spark, pages):
    rows = pages.select(quality_score_expr("text").alias("q")).collect()
    assert all(0.0 <= r["q"] <= 1.0 for r in rows)
    # clean english text should score reasonably
    df = spark.createDataFrame([("the quick brown fox jumps over the lazy dog and that is for sure with a smile",)], "t string")
    assert df.select(quality_score_expr("t").alias("q")).first()["q"] > 0.6
