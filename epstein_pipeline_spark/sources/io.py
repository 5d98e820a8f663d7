"""Schema-pinned sources and export sinks (SURVEY.md §2.1).

Reference mappings:
- S1 JSON dir scan (cli.py:595-611)      -> read_json_docs (PERMISSIVE
  + _corrupt_record, fixed schema — never inferSchema)
- S6 JSON export (exporters/json_export) -> write_json
- S7 CSV export (cli.py:744-772)         -> write_csv_docs (fixed
  projection, arrays joined with ';', ocrText excluded)
- S10 NDJSON sink (embeddings.py:307-326)-> write_json (Spark JSON
  lines IS ndjson)
- pages table                            -> read_pages (input_hint
  schema, pinned)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

PAGES_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), True),
        T.StructField("html", T.BinaryType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
    ]
)

DOC_SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType(), False),
        T.StructField("title", T.StringType(), True),
        T.StructField("date", T.StringType(), True),
        T.StructField("source", T.StringType(), True),
        T.StructField("category", T.StringType(), True),
        T.StructField("summary", T.StringType(), True),
        T.StructField("personIds", T.ArrayType(T.StringType()), True),
        T.StructField("tags", T.ArrayType(T.StringType()), True),
        T.StructField("pageCount", T.IntegerType(), True),
        T.StructField("batesRange", T.StringType(), True),
        T.StructField("ocrText", T.StringType(), True),
        T.StructField("_corrupt_record", T.StringType(), True),
    ]
)


def read_pages(spark: SparkSession, path: str) -> DataFrame:
    """The engine's primary input (BASELINE.json input_hint shape)."""
    return spark.read.schema(PAGES_SCHEMA).parquet(path)


def read_json_docs(spark: SparkSession, path: str) -> DataFrame:
    """Tolerant JSON document scan: schema pinned, corrupt rows
    captured instead of failing the job (the reference skips bad files
    with a warning, cli.py:604-610)."""
    return (
        spark.read.schema(DOC_SCHEMA)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(path)
    )


def write_json(df: DataFrame, path: str) -> None:
    """S6/S10: JSON-lines export (exclude_none semantics come free —
    Spark omits null fields in JSON output by default)."""
    df.write.mode("overwrite").json(path)


def write_csv_docs(docs: DataFrame, path: str) -> None:
    """S7: fixed 11-column CSV projection; array columns joined with
    ';', ocrText excluded (cli.py:744-772)."""
    cols = ["id", "title", "date", "source", "category", "summary", "pageCount", "batesRange"]
    out = docs.select(
        *[F.col(c) for c in cols if c in docs.columns],
        F.concat_ws(";", F.col("personIds")).alias("personIds"),
        F.concat_ws(";", F.col("tags")).alias("tags"),
    )
    out.write.mode("overwrite").option("header", True).csv(path)


def write_clusters(clusters: DataFrame, path: str, fmt: str = "parquet") -> None:
    """Cluster sink — schema mirror of the reference's
    duplicate_clusters table (exporters/neon_schema.py:146-157);
    partitioned by dedup_method for pruned reads."""
    w = clusters.write.mode("overwrite").partitionBy("dedup_method")
    if fmt == "parquet":
        w.parquet(path)
    elif fmt == "json":
        w.json(path)
    else:
        raise ValueError(f"unsupported format: {fmt}")


def write_jdbc(df: DataFrame, url: str, table: str, batch_size: int = 500, **options) -> None:
    """S9: JDBC batch sink (the reference batches 500-row upserts to
    Neon Postgres, config.py:106-108). Driver-jar agnostic: the
    container ships no Postgres driver, so the executed-coverage test
    drives this exact code path through Spark's bundled embedded Derby
    (same executor-side JdbcUtils batch-insert path;
    tests/test_io_streaming.py::test_jdbc_sink_roundtrip)."""
    (
        df.write.format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .option("batchsize", str(batch_size))
        .options(**options)
        .mode("append")
        .save()
    )


# ---------------------------------------------------------------------------
# S8: SQLite sink with FTS5 (reference exporters/sqlite_export.py)
# ---------------------------------------------------------------------------

_SQLITE_SCHEMA = """
CREATE TABLE IF NOT EXISTS documents (
    id            TEXT PRIMARY KEY,
    title         TEXT NOT NULL,
    date          TEXT,
    source        TEXT NOT NULL,
    category      TEXT,
    summary       TEXT,
    page_count    INTEGER,
    bates_range   TEXT,
    ocr_text      TEXT,
    tags          TEXT
);
CREATE TABLE IF NOT EXISTS document_persons (
    document_id  TEXT NOT NULL REFERENCES documents(id),
    person_id    TEXT NOT NULL,
    PRIMARY KEY (document_id, person_id)
);
CREATE TABLE IF NOT EXISTS extracted_entities (
    id           INTEGER PRIMARY KEY AUTOINCREMENT,
    document_id  TEXT NOT NULL,
    entity_type  TEXT NOT NULL,
    text         TEXT NOT NULL
);
CREATE INDEX IF NOT EXISTS idx_documents_date   ON documents(date);
CREATE INDEX IF NOT EXISTS idx_documents_source ON documents(source);
CREATE INDEX IF NOT EXISTS idx_entities_doc     ON extracted_entities(document_id);
CREATE INDEX IF NOT EXISTS idx_entities_type    ON extracted_entities(entity_type);
CREATE VIRTUAL TABLE IF NOT EXISTS documents_fts USING fts5(
    title, summary, ocr_text, content='documents', content_rowid='rowid'
);
CREATE TRIGGER IF NOT EXISTS documents_ai AFTER INSERT ON documents BEGIN
    INSERT INTO documents_fts(rowid, title, summary, ocr_text)
    VALUES (new.rowid, new.title, new.summary, new.ocr_text);
END;
CREATE TRIGGER IF NOT EXISTS documents_ad AFTER DELETE ON documents BEGIN
    INSERT INTO documents_fts(documents_fts, rowid, title, summary, ocr_text)
    VALUES ('delete', old.rowid, old.title, old.summary, old.ocr_text);
END;
"""


def write_sqlite(
    docs: DataFrame,
    db_path: str,
    entities: DataFrame | None = None,
    doc_persons: DataFrame | None = None,
    batch_size: int = 500,
) -> None:
    """S8: SQLite + FTS5 export (reference exporters/sqlite_export.py:
    31-161, batch inserts :200-257).

    SQLite is a single-file driver-side sink by nature — the reference
    writes one .db artifact and so do we. Rows stream to the driver
    via ``toLocalIterator`` (one partition in memory at a time, never
    a full ``collect``) and insert in ``batch_size`` executemany
    batches inside one transaction; FTS5 stays in sync through the
    reference's AFTER INSERT/DELETE triggers. Scale intent: this sink
    is for cluster/report-sized outputs, not the corpus — exporting
    100 TB to SQLite is a category error the docstring refuses.

    docs needs (id, title, date, source, category, summary, pageCount,
    batesRange, tags:array<string>, ocrText) — extra columns ignored.
    """
    import sqlite3

    sel = docs.select(
        F.col("id"), F.col("title"), F.col("date"), F.col("source"),
        F.col("category"), F.col("summary"),
        F.col("pageCount").alias("page_count"),
        F.col("batesRange").alias("bates_range"),
        F.col("ocrText").alias("ocr_text"),
        F.concat_ws(";", F.col("tags")).alias("tags"),
    )
    con = sqlite3.connect(db_path)
    try:
        # REPLACE = DELETE + INSERT, but SQLite only fires the AFTER
        # DELETE trigger under REPLACE when recursive_triggers is ON —
        # without it a re-export leaves dangling rowids in the
        # external-content FTS index (ghost entries, corrupt bm25)
        con.execute("PRAGMA recursive_triggers = ON")
        con.executescript(_SQLITE_SCHEMA)
        # Re-export REPLACES the export, like the entities table below:
        # INSERT OR REPLACE alone leaves ghost rows (and ghost FTS
        # entries) for documents removed from the corpus between
        # exports. Delete children first (document_persons references
        # documents); the per-row AFTER DELETE trigger keeps the FTS
        # index in sync.
        con.execute("DELETE FROM document_persons")
        con.execute("DELETE FROM documents")
        def insert_stream(df, sql):
            batch = []
            for row in df.toLocalIterator():
                batch.append(tuple(row))
                if len(batch) >= batch_size:
                    con.executemany(sql, batch)
                    batch.clear()
            if batch:
                con.executemany(sql, batch)

        insert_stream(sel, "INSERT OR REPLACE INTO documents VALUES (?,?,?,?,?,?,?,?,?,?)")
        if entities is not None:
            # entities rows carry an AUTOINCREMENT id, so REPLACE can't
            # make them idempotent — a re-export (kill/rerun) replaces
            # the whole table instead of appending duplicates
            con.execute("DELETE FROM extracted_entities")
            insert_stream(
                entities.select("doc_id", "entity_type", "value"),
                "INSERT INTO extracted_entities(document_id, entity_type, text) VALUES (?,?,?)",
            )
        if doc_persons is not None:
            insert_stream(
                doc_persons.select("document_id", "person_id"),
                "INSERT OR REPLACE INTO document_persons VALUES (?,?)",
            )
        con.commit()
    finally:
        con.close()


def fts_search(db_path: str, query: str, limit: int = 20) -> list[tuple]:
    """FTS5 ranked search over the exported db (reference
    sqlite_export.py:257 surface): (id, title, bm25 rank)."""
    import sqlite3

    con = sqlite3.connect(db_path)
    try:
        return con.execute(
            """
            SELECT d.id, d.title, bm25(documents_fts) AS rank
            FROM documents_fts f JOIN documents d ON d.rowid = f.rowid
            WHERE documents_fts MATCH ? ORDER BY rank LIMIT ?
            """,
            (query, limit),
        ).fetchall()
    finally:
        con.close()
