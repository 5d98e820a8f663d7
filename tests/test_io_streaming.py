"""Sources/sinks and the incremental streaming ingest."""

from pyspark.sql import functions as F

from epstein_pipeline_spark.sources.io import (
    read_json_docs,
    read_pages,
    write_clusters,
    write_csv_docs,
    write_json,
)


def test_json_docs_permissive(spark, tmp_path):
    p = tmp_path / "docs"
    p.mkdir()
    (p / "a.json").write_text('{"id": "d1", "title": "T", "personIds": ["p1"]}')
    (p / "b.json").write_text("{broken json!!")
    df = read_json_docs(spark, str(p))
    rows = df.collect()
    good = [r for r in rows if r["id"] == "d1"]
    corrupt = [r for r in rows if r["_corrupt_record"] is not None]
    assert len(good) == 1 and good[0]["personIds"] == ["p1"]
    assert len(corrupt) == 1  # tolerated, not fatal (cli.py:604-610)


def test_csv_export_projection(spark, tmp_path):
    docs = spark.createDataFrame(
        [("d1", "T", "2001-01-01", "src", "cat", "sum", 3, "A1-A2", ["p1", "p2"], ["t1"], "SECRET OCR")],
        "id string, title string, date string, source string, category string, "
        "summary string, pageCount int, batesRange string, personIds array<string>, "
        "tags array<string>, ocrText string",
    )
    out = tmp_path / "csv"
    write_csv_docs(docs, str(out))
    back = spark.read.option("header", True).csv(str(out)).collect()[0]
    assert back["personIds"] == "p1;p2"
    assert "ocrText" not in back.asDict()  # excluded (cli.py:766)


def test_sqlite_fts_sink(spark, tmp_path):
    """S8: SQLite export with live FTS5 (reference sqlite_export.py):
    insert-trigger sync, MATCH search, entities table."""
    from epstein_pipeline_spark.sources.io import fts_search, write_sqlite

    docs = spark.createDataFrame(
        [
            ("d1", "Flight Logs 2002", "2002-11-01", "court", "logs", "flights to the island",
             3, "A1-A2", ["t1"], "tail number N908JE listed"),
            ("d2", "Deposition Smith", "2015-01-10", "court", "depo", "witness statement",
             9, None, [], "nothing about aircraft here"),
        ],
        "id string, title string, date string, source string, category string, "
        "summary string, pageCount int, batesRange string, tags array<string>, ocrText string",
    )
    ents = spark.createDataFrame(
        [("d1", "FLIGHT_ID", "N908JE")], "doc_id string, entity_type string, value string"
    )
    db = str(tmp_path / "export.db")
    write_sqlite(docs, db, entities=ents, batch_size=1)
    hits = fts_search(db, "flights")
    assert [h[0] for h in hits] == ["d1"]
    assert fts_search(db, "witness")[0][0] == "d2"
    import sqlite3

    con = sqlite3.connect(db)
    assert con.execute("SELECT count(*) FROM documents").fetchone()[0] == 2
    assert con.execute(
        "SELECT text FROM extracted_entities WHERE entity_type = 'FLIGHT_ID'"
    ).fetchone()[0] == "N908JE"
    con.close()

    # RE-EXPORT to the same db (the kill/rerun pattern): INSERT OR
    # REPLACE must fire the FTS delete trigger (recursive_triggers ON)
    # or the external-content index accumulates ghost rowids
    write_sqlite(docs, db, entities=ents, batch_size=1)
    assert [h[0] for h in fts_search(db, "flights")] == ["d1"]
    con = sqlite3.connect(db)
    con.execute("INSERT INTO documents_fts(documents_fts) VALUES ('integrity-check')")
    assert con.execute("SELECT count(*) FROM documents").fetchone()[0] == 2
    # re-export must not duplicate entity rows either (autoincrement id
    # means REPLACE can't dedupe them; the sink replaces the table)
    assert con.execute("SELECT count(*) FROM extracted_entities").fetchone()[0] == 1
    con.close()


def test_pages_roundtrip_and_cluster_sink(spark, pages, tmp_path):
    p = tmp_path / "pages"
    pages.write.parquet(str(p))
    back = read_pages(spark, str(p))
    assert back.schema["url"].dataType.typeName() == "string"
    assert back.count() == pages.count()

    clusters = spark.createDataFrame(
        [("c1", "u1", True, 1.0, "exact"), ("c1", "u2", False, 1.0, "exact")],
        "cluster_id string, url string, is_representative boolean, similarity double, dedup_method string",
    )
    out = tmp_path / "clusters"
    write_clusters(clusters, str(out))
    assert spark.read.parquet(str(out)).count() == 2

    j = tmp_path / "json"
    write_json(clusters, str(j))
    assert spark.read.json(str(j)).count() == 2


def test_jdbc_sink_roundtrip(spark, tmp_path):
    """S9: write_jdbc end-to-end through a REAL JDBC driver. No
    Postgres driver ships in this container, but Spark bundles Derby
    (the Hive-metastore store) — an embedded JDBC database that
    exercises the exact same executor-side JdbcUtils.savePartition
    batch-insert path the Neon sink uses (reference batches 500-row
    upserts, config.py:106)."""
    from epstein_pipeline_spark.sources.io import write_jdbc

    url = f"jdbc:derby:{tmp_path}/derby/db;create=true"
    opts = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}
    df = spark.createDataFrame(
        [(i, f"doc-{i:03d}") for i in range(257)], "id int, title string"
    )
    write_jdbc(df, url, "docs", batch_size=100, **opts)
    back = spark.read.format("jdbc").options(url=url, dbtable="docs", **opts).load()
    assert back.count() == 257
    assert {tuple(r) for r in back.collect()} == {
        (i, f"doc-{i:03d}") for i in range(257)
    }
    # mode=append: a second write adds rows (the JDBC sink contract)
    write_jdbc(df.limit(3), url, "docs", batch_size=100, **opts)
    assert back.count() == 260


def test_streaming_hash_matches_batch_extract(spark, tmp_path):
    """The streaming ingest's dedup key is the batch extract_stage key,
    read back from the store's extract snapshot, also on
    pages where Java and Python regexes disagree: a rule line of
    U+00A0 spaces and dashes (Java's \\s is ASCII-only) and a
    ``<ſcript>`` block (Python's (?i) folds ſ to s)."""
    import datetime

    from epstein_pipeline_spark.config import DedupConfig
    from epstein_pipeline_spark.plans.checkpoint import StageStore
    from epstein_pipeline_spark.plans.pipeline import extract_stage, run_dedup
    from epstein_pipeline_spark.sources.io import PAGES_SCHEMA
    from epstein_pipeline_spark.streaming.incremental import stream_cluster_ingest

    htmls = [
        "<p>intro line</p>\n\u00a0\u00a0----\u00a0\u00a0\n<p>body text</p>",
        "<p>kept text</p><ſcript>dropped text</ſcript>",
    ]
    ts = datetime.datetime(2024, 1, 1)
    pages = spark.createDataFrame(
        [(f"https://x/{i}", ts, h.encode(), None, "en") for i, h in enumerate(htmls)],
        PAGES_SCHEMA,
    )
    # the store holds one unrelated page, so both pages arrive as new
    store = StageStore(tmp_path / "store")
    other = spark.createDataFrame(
        [("https://y/0", ts, b"<p>an unrelated page</p>", None, "en")], PAGES_SCHEMA
    )
    run_dedup(spark, other, store, DedupConfig())
    indir = tmp_path / "in"
    pages.write.parquet(str(indir))
    stream_cluster_ingest(
        spark, str(indir), store, str(tmp_path / "ckpt")
    ).awaitTermination(300)
    streamed = {
        r["url"]: r["content_hash"]
        for r in store.read(spark, "extract").filter(F.col("url").startswith("https://x/")).collect()
    }
    batch = {r["url"]: r["content_hash"] for r in extract_stage(pages).collect()}
    assert streamed == batch and len(batch) == 2
