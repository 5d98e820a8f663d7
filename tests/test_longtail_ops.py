"""Long-tail operator parity: Bates range join, fuzzy title join,
integrity checks, chunker
(mirrors reference tests/test_dedup.py:73-92 and friends)."""

import pytest

from epstein_pipeline_spark.functions.chunker import chunk_documents, py_chunk
from epstein_pipeline_spark.operators.fuzzy_title import title_fuzzy_pairs
from epstein_pipeline_spark.operators.integrity import (
    duplicate_content_groups,
    duplicate_ids,
    invalid_dates,
    unknown_person_ids,
)
from epstein_pipeline_spark.operators.range_join import (
    bates_overlap_pairs,
    bates_pairs_bucketized,
    parse_bates,
)


@pytest.fixture(scope="module")
def ref_docs(spark):
    """Reference-fixture-shaped documents (tests/conftest.py:56-88)."""
    rows = [
        ("doc-1", "Flight Logs 2002", "2002-11-01", "court", "EFTA00100-EFTA00200",
         "Flight logs listing passengers on multiple trips", ["p-0001", "p-0002"]),
        ("doc-2", "Flight Logs 2002!", "2002-11-02", "court", "EFTA00150-EFTA00250",
         "Flight logs listing passengers on several trips", ["p-0001", "p-0003"]),
        ("doc-3", "Deposition Smith", "2015-01-10", "court", "EFTA09000-EFTA09050",
         "Deposition of a witness concerning events", ["p-0002", "p-0003"]),
        ("doc-4", "Unrelated Report", "1949-05-05", "news", "XYZ00001-XYZ00002",
         "Completely different subject matter entirely", ["p-9999"]),
        ("doc-4", "Duplicate Id Row", "2015-13-01", "news", "bad-range",
         "Completely different subject matter entirely", []),
    ]
    return spark.createDataFrame(
        rows,
        "id string, title string, date string, source string, batesRange string, "
        "text string, personIds array<string>",
    )


@pytest.fixture(scope="module")
def persons(spark):
    rows = [
        ("p-0001", "John Alpha", ["J. Alpha", "Johnny Alpha"]),
        ("p-0002", "Mary Beta", []),
        ("p-0003", "Carl Gamma", ["C. Gamma"]),
    ]
    return spark.createDataFrame(rows, "id string, name string, aliases array<string>")


def test_parse_bates(spark, ref_docs):
    got = {r["id"]: (r["bates_prefix"], r["bates_lo"], r["bates_hi"])
           for r in parse_bates(ref_docs).collect()}
    assert got["doc-1"] == ("EFTA", 100, 200)
    assert got["doc-4"][0] in ("XYZ", None)  # two doc-4 rows; one malformed


def test_parse_bates_edge_cases(spark):
    """Reversed ranges normalize from the ORIGINAL bounds; dash-less
    single Bates values parse as (prefix, n, n); a mismatched second
    prefix is unparsable (reference dedup.py:53-78 semantics)."""
    docs = spark.createDataFrame(
        [("r1", "EFTA00456-EFTA00123"), ("r2", "EFTA00123"),
         ("r3", "EFTA1-ABCD2"), ("r4", "EFTA00100-00200")],
        "id string, batesRange string",
    )
    got = {r["id"]: (r["bates_prefix"], r["bates_lo"], r["bates_hi"])
           for r in parse_bates(docs).collect()}
    assert got["r1"] == ("EFTA", 123, 456)  # swap, not self-clobber [123,123]
    assert got["r2"] == ("EFTA", 123, 123)
    assert got["r3"] == (None, None, None)
    assert got["r4"] == ("EFTA", 100, 200)


def test_invalid_dates_bad_day(spark):
    """Regex-valid but impossible day must be FLAGGED, not raise
    SparkDateTimeException under ANSI mode."""
    docs = spark.createDataFrame(
        [("g1", "2020-02-29"), ("b1", "2020-02-31"), ("b2", "2021-02-29")],
        "id string, date string",
    )
    bad = {r["id"]: r["reason"] for r in invalid_dates(docs).collect()}
    assert bad == {"b1": "bad_day", "b2": "bad_day"}


def test_bates_overlap(spark, ref_docs):
    """Reference tests/test_dedup.py:73-92: overlapping ranges pair."""
    pairs = {(r["url1"], r["url2"]) for r in bates_overlap_pairs(ref_docs).collect()}
    assert ("doc-1", "doc-2") in pairs
    assert ("doc-1", "doc-3") not in pairs  # same prefix, disjoint
    assert not any("doc-4" in p for p in pairs)


def test_bates_bucketized_matches_plain(spark, ref_docs):
    a = {(r["url1"], r["url2"]) for r in bates_overlap_pairs(ref_docs).collect()}
    b = {(r["url1"], r["url2"]) for r in bates_pairs_bucketized(ref_docs, bucket=50).collect()}
    assert a == b


def test_title_fuzzy(spark, ref_docs):
    """Reference tests/test_dedup.py:33-50: punctuation-delta titles
    pair at 0.90; unrelated titles don't."""
    pairs = {(r["url1"], r["url2"]) for r in title_fuzzy_pairs(ref_docs).collect()}
    assert ("doc-1", "doc-2") in pairs
    assert len(pairs) == 1


def test_integrity_checks(spark, ref_docs, persons):
    assert [r["id"] for r in duplicate_ids(ref_docs).collect()] == ["doc-4"]
    dup_content = duplicate_content_groups(ref_docs).collect()
    assert len(dup_content) == 1 and set(dup_content[0]["ids"]) == {"doc-4"}
    bad = {r["id"]: r["reason"] for r in invalid_dates(ref_docs).collect()}
    assert bad["doc-4"] in ("year_out_of_range", "bad_month")
    unknown = {r["person_id"] for r in unknown_person_ids(ref_docs, persons).collect()}
    assert unknown == {"p-9999"}


def test_chunker_offsets_and_coverage(spark):
    text = "\n\n".join(f"paragraph {i} " + "word " * 80 for i in range(10))
    chunks = py_chunk(text, target_chars=500)
    assert chunks[0][0] == 0 and all(b[0] == a[0] + 1 for a, b in zip(chunks, chunks[1:]))
    for idx, start, end, body in chunks:
        assert text[start : start + 20].startswith(body[:20])
    # distributed path
    docs = spark.createDataFrame([("u1", text)], "url string, text string")
    rows = chunk_documents(docs, target_chars=500).collect()
    assert len(rows) == len(chunks)
    assert [r["chunk_index"] for r in rows] == [c[0] for c in chunks]


def test_word_jaccard_prefix_filter_lossless(spark):
    """The PPJoin-style prefix-filtered variant must return the exact
    result set of the direct quadratic join — the lossless-filter
    theorem under a consistent (df, tok) total order."""
    from epstein_pipeline_spark.entry_queries import QUERIES

    sf = "/root/testdata/sf0.001"
    direct = {tuple(r) for r in QUERIES["word_jaccard_pairs"](spark, sf).collect()}
    prefix = {tuple(r) for r in QUERIES["word_jaccard_prefix_pairs"](spark, sf).collect()}
    assert len(direct) > 0
    assert direct == prefix
