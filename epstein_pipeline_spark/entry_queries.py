"""Query catalog for the driver contract (__spark_entry__).

Each entry pairs an idiomatic-Spark DataFrame query with an ANSI-SQL
DuckDB oracle over the same parquet tables. Cross-engine determinism
rules used throughout:

- money/value sums go through decimal casts then back to double
  (exact in both engines, immune to float summation order),
- normalization is the reference normalize_text
  (utils/hashing.py:12-14) expressed with the same regexes,
- every computed column is aliased identically on both sides,
- ranking queries break ties on a unique key.

Queries cover SURVEY.md §2: scans, scalar text functions (P1-P17),
hash-group dedup (J1/A1), fuzzy join (J3), similarity join (J5/P15),
timeline search (J9), aggregations (A1-A12), windows (W1-W4), top-k
(O1-O6), set ops (U1-U4), and connected components (J8) with a
recursive-CTE oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# shared snippets
# ---------------------------------------------------------------------------

# reference normalize_text as SQL, Spark dialect / DuckDB dialect
_NORM_DUCK = (
    "regexp_replace(regexp_replace(lower({c}), '\\s+', ' ', 'g'), '^ | $', '', 'g')"
)

_EN = ["the", "and", "of", "to", "in", "is", "that", "for", "with", "a"]
_DE = ["der", "die", "und", "das", "ist", "nicht", "ein", "mit", "von", "zu"]
_FR = ["le", "la", "et", "les", "des", "un", "une", "est", "que", "pour"]


def _norm(col):
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_replace(F.regexp_replace(F.lower(c), r"(?U)\s+", " "), r"^ | $", "")


def _duck_list(words: list[str]) -> str:
    return "[" + ", ".join(f"'{w}'" for w in words) + "]"


def _spark_arr(words: list[str]):
    return F.array(*[F.lit(w) for w in words])


def _dec_sum(col, scale: int = 2):
    """Order-independent sum: decimal accumulate, emit double."""
    return F.sum(col.cast(f"decimal(18,{scale})")).cast("double")


def _docs(spark: SparkSession, sf: str) -> DataFrame:
    return spark.read.parquet(f"{sf}/documents.parquet")


def _t(spark: SparkSession, sf: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf}/{name}.parquet")


# ---------------------------------------------------------------------------
# text / dedup queries over documents
# ---------------------------------------------------------------------------

def q_norm_hash(spark, sf):
    """P1/P2: normalize + content hash (cross-engine parity of the
    exact-dedup key)."""
    return _docs(spark, sf).select(
        "doc_id",
        _norm("text").alias("norm_text"),
        F.sha2(_norm("text"), 256).alias("content_hash"),
    )


O_NORM_HASH = f"""
SELECT doc_id,
       {_NORM_DUCK.format(c='text')} AS norm_text,
       sha256({_NORM_DUCK.format(c='text')}) AS content_hash
FROM documents
"""


def q_exact_dup_pairs(spark, sf):
    """J1/A1: hash-group self-join pair expansion.

    The raw sf corpus contains no exact normalized dups, so a plain
    self-join passes vacuously (0 = 0). Plant dups INSIDE the query
    (the bates_overlap trick): every doc_id % 50 == 0 doc is re-added
    under doc_id + 1_000_000 with identical text, so the expected
    output is non-empty and the hash-group expansion is actually
    exercised. Same derivation in the oracle."""
    base = _docs(spark, sf).select("doc_id", "text")
    planted = base.filter(F.col("doc_id") % 50 == 0).withColumn(
        "doc_id", F.col("doc_id") + F.lit(1_000_000)
    )
    h = base.unionByName(planted).select(
        "doc_id", F.sha2(_norm("text"), 256).alias("content_hash")
    )
    a, b = h.alias("a"), h.alias("b")
    return (
        a.join(b, "content_hash")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_id1"),
            F.col("b.doc_id").alias("doc_id2"),
            F.lit(1.0).alias("score"),
        )
    )


O_EXACT_DUP_PAIRS = f"""
WITH d AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 50 = 0
), h AS (SELECT doc_id, sha256({_NORM_DUCK.format(c='text')}) AS content_hash FROM d)
SELECT a.doc_id AS doc_id1, b.doc_id AS doc_id2, 1.0 AS score
FROM h a JOIN h b USING (content_hash)
WHERE a.doc_id < b.doc_id
"""


def q_stats_by_source(spark, sf):
    """A6: the reference `stats` command (cli.py:820-846)."""
    return (
        _docs(spark, sf)
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.round(F.avg("n_chars"), 4).alias("avg_chars"),
            F.countDistinct("lang").alias("n_langs"),
        )
    )


O_STATS_BY_SOURCE = """
SELECT source, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars,
       round(avg(n_chars), 4) AS avg_chars, count(DISTINCT lang) AS n_langs
FROM documents GROUP BY source
"""


def q_token_stats(spark, sf):
    """P5-ish: token/char counts per doc."""
    d = _docs(spark, sf).withColumn("norm", _norm("text"))
    return d.select(
        "doc_id",
        (F.length("norm") - F.length(F.replace(F.col("norm"), F.lit(" "), F.lit(""))) + 1).alias("n_tokens"),
        F.length("norm").alias("n_chars_norm"),
    )


O_TOKEN_STATS = f"""
WITH d AS (SELECT doc_id, {_NORM_DUCK.format(c='text')} AS norm FROM documents)
SELECT doc_id,
       length(norm) - length(replace(norm, ' ', '')) + 1 AS n_tokens,
       length(norm) AS n_chars_norm
FROM d
"""


def q_lang_id(spark, sf):
    """Language-ID heuristic: distinct-stopword hit ratios + argmax."""
    d = _docs(spark, sf).withColumn("toks", F.array_distinct(F.split(_norm("text"), " ")))
    en = F.size(F.array_intersect(F.col("toks"), _spark_arr(_EN))) / 10.0
    de = F.size(F.array_intersect(F.col("toks"), _spark_arr(_DE))) / 10.0
    fr = F.size(F.array_intersect(F.col("toks"), _spark_arr(_FR))) / 10.0
    guess = (
        F.when((en == 0) & (de == 0) & (fr == 0), "und")
        .when((en >= de) & (en >= fr), "en")
        .when(de >= fr, "de")
        .otherwise("fr")
    )
    return d.select(
        "doc_id",
        F.round(en, 4).alias("en_score"),
        F.round(de, 4).alias("de_score"),
        F.round(fr, 4).alias("fr_score"),
        guess.alias("lang_guess"),
    )


O_LANG_ID = f"""
WITH d AS (
  SELECT doc_id,
         list_distinct(string_split({_NORM_DUCK.format(c='text')}, ' ')) AS toks
  FROM documents
), s AS (
  SELECT doc_id,
         len(list_intersect(toks, {_duck_list(_EN)})) / 10.0 AS en,
         len(list_intersect(toks, {_duck_list(_DE)})) / 10.0 AS de,
         len(list_intersect(toks, {_duck_list(_FR)})) / 10.0 AS fr
  FROM d
)
SELECT doc_id, round(en, 4) AS en_score, round(de, 4) AS de_score,
       round(fr, 4) AS fr_score,
       CASE WHEN en = 0 AND de = 0 AND fr = 0 THEN 'und'
            WHEN en >= de AND en >= fr THEN 'en'
            WHEN de >= fr THEN 'de' ELSE 'fr' END AS lang_guess
FROM s
"""


def q_quality_scores(spark, sf):
    """P10: heuristic quality blend (reference ocr.py:80-118 shape):
    0.40*printable + 0.30*word-length + 0.30*stopword."""
    d = _docs(spark, sf).withColumn("norm", _norm("text"))
    n = F.greatest(F.length("text"), F.lit(1))
    printable = (n - F.length(F.regexp_replace(F.col("text"), r"[\x20-\x7e\s]", ""))).cast(
        "double"
    ) / n
    printable = 1.0 - printable  # fraction printable
    n_tok = F.length("norm") - F.length(F.replace(F.col("norm"), F.lit(" "), F.lit(""))) + 1
    avg_word = (F.length("norm") - n_tok + 1).cast("double") / F.greatest(n_tok, F.lit(1))
    word_score = F.greatest(F.lit(0.0), 1.0 - F.abs(avg_word - 5.5) / 5.5)
    toks = F.array_distinct(F.split(F.col("norm"), " "))
    stop = F.least(F.lit(1.0), F.size(F.array_intersect(toks, _spark_arr(_EN))) / 10.0 * 2)
    return d.select(
        "doc_id",
        F.round(printable * 0.40 + word_score * 0.30 + stop * 0.30, 4).alias("quality"),
    )


O_QUALITY_SCORES = f"""
WITH d AS (SELECT doc_id, text, {_NORM_DUCK.format(c='text')} AS norm FROM documents),
c AS (
  SELECT doc_id, text, norm,
         greatest(length(text), 1) AS n,
         length(norm) - length(replace(norm, ' ', '')) + 1 AS n_tok,
         list_distinct(string_split(norm, ' ')) AS toks
  FROM d
)
SELECT doc_id,
       round(
         (1.0 - CAST(n - length(regexp_replace(text, '[\\x20-\\x7e\\s]', '', 'g')) AS DOUBLE) / n) * 0.40
         + greatest(0.0, 1.0 - abs(CAST(length(norm) - n_tok + 1 AS DOUBLE) / greatest(n_tok, 1) - 5.5) / 5.5) * 0.30
         + least(1.0, len(list_intersect(toks, {_duck_list(_EN)})) / 10.0 * 2) * 0.30,
       4) AS quality
FROM c
"""


def q_fingerprints(spark, sf):
    """Document fingerprint: min-md5 over word-3-gram shingles (a
    1-perm MinHash, md5 available in both engines)."""
    d = _docs(spark, sf).withColumn("toks", F.split(_norm("text"), " "))
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(F.size("toks") - F.lit(2), F.lit(1))),
        lambda i: F.md5(F.concat_ws(" ", F.slice(F.col("toks"), i, 3))),
    )
    return d.select("doc_id", F.array_min(grams).alias("fingerprint"))


O_FINGERPRINTS = f"""
WITH d AS (SELECT doc_id, string_split({_NORM_DUCK.format(c='text')}, ' ') AS toks FROM documents)
SELECT doc_id,
       list_aggregate(
         list_transform(generate_series(1, greatest(len(toks) - 2, 1)),
                        i -> md5(array_to_string(toks[i:i+2], ' '))),
         'min') AS fingerprint
FROM d
"""


def q_word_jaccard_pairs(spark, sf):
    """N-gram/word-set Jaccard near-dup join, blocked by source
    (J3-style blocking; the SQL-expressible small-scale twin of the
    MinHash pass). Deliberately the DIRECT within-block self-join —
    this is the oracle-shaped formulation; the pipeline-scale exact
    variant is ``q_word_jaccard_prefix_pairs`` below (identical
    output, prefix-filtered candidates). On the bench corpus the
    direct join is faster because the planted data is dup-dense
    (>half of in-block pairs qualify at J>=0.6, so no filter can
    prune); on realistic web blocks the prefix variant is the one
    that survives."""
    d = _docs(spark, sf).select(
        "doc_id", "source", F.array_distinct(F.split(_norm("text"), " ")).alias("toks")
    ).withColumn("n", F.size("toks"))
    # the documents table is one input split at bench scale and the
    # self-join broadcasts b, so without an explicit probe-side
    # repartition the whole |block|^2 pair expansion runs in ONE task
    a = d.repartition(spark.sparkContext.defaultParallelism * 2).alias("a")
    b = d.alias("b")
    # toks are distinct, so |union| = n1 + n2 - |intersect| exactly —
    # identical integers (and therefore identical rounded doubles) to
    # size(array_union(..)), without building the union hash set for
    # every one of the |block|^2 pairs (array_intersect is the single
    # per-pair set operation left)
    inter = F.size(F.array_intersect(F.col("a.toks"), F.col("b.toks")))
    jac = inter.cast("double") / (F.col("a.n") + F.col("b.n") - inter)
    return (
        a.join(b, "source")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .withColumn("jaccard", F.round(jac, 4))
        .filter(F.col("jaccard") >= 0.6)
        .select(
            F.col("a.doc_id").alias("doc_id1"),
            F.col("b.doc_id").alias("doc_id2"),
            "jaccard",
        )
    )


def q_word_jaccard_prefix_pairs(spark, sf):
    """Exact word-set Jaccard join (threshold 0.6), blocked by
    source, via PREFIX FILTERING (PPJoin-family, Xiao et al.): order
    each doc's tokens by ascending global document frequency (rarest
    first, ties by token), keep only the prefix of length
    n - ceil(t'*n) + 1, generate candidates by equi-joining prefix
    tokens — lossless for J >= t' under a consistent total order (two
    sets with J >= t' must share a token within both prefixes) — then
    verify candidates with the exact intersect/union expression.
    t' = 0.59995, NOT the display threshold 0.6: the verify filter
    (and the direct twin, and the oracle) keeps pairs whose ROUNDED
    jaccard is >= 0.6, i.e. true J >= 0.59995, so a prefix sized for
    0.6 could legally prune a pair inside the rounding band that the
    direct join emits.
    Same result set as ``q_word_jaccard_pairs`` (same DuckDB oracle
    pins both); candidate cost is sum(df_prefix^2) over RARE tokens
    instead of |block|^2 — the shape that survives web-scale blocks
    where qualifying pairs are sparse."""
    d = _docs(spark, sf).select(
        "doc_id", "source", F.array_distinct(F.split(_norm("text"), " ")).alias("toks")
    )
    tok = d.select(
        "doc_id", "source", F.size("toks").alias("n"), F.explode("toks").alias("tok")
    )
    df_tab = tok.groupBy("tok").agg(F.count("*").alias("df"))
    # ceil(0.59995*n) as ceil(11999*n/20000): integer-ratio division
    # is correctly rounded in IEEE doubles (non-integer quotients sit
    # >= 1/20000 from an integer vs ~1e-8 division error at any
    # realistic n), so no float-boundary bug can shorten a prefix
    # below the lossless bound the way a literal 0.59995*n could
    # n is cast to long BEFORE the multiply: 11999 * int32(n) is 32-bit
    # arithmetic, which overflows past ~179k distinct tokens — an ANSI
    # runtime error (Spark 4 default) or a silently negative prefix
    # length (missed pairs) with ANSI off
    prefix_len = (
        F.col("n") - F.ceil(F.lit(11999) * F.col("n").cast("long") / F.lit(20000)) + 1
    )
    w = Window.partitionBy("doc_id").orderBy("df", "tok")
    prefixes = (
        tok.join(df_tab, "tok")
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= prefix_len)
        .select("doc_id", "source", "tok")
    )
    cand = (
        prefixes.alias("a")
        .join(prefixes.alias("b"), ["source", "tok"])
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_id1"),
            F.col("b.doc_id").alias("doc_id2"),
        )
        .distinct()
    )
    ta = d.select(
        F.col("doc_id").alias("doc_id1"),
        F.col("toks").alias("toks1"),
        F.size("toks").alias("n1"),
    )
    tb = d.select(
        F.col("doc_id").alias("doc_id2"),
        F.col("toks").alias("toks2"),
        F.size("toks").alias("n2"),
    )
    # |union| = n1 + n2 - |intersect| on distinct arrays (same trick
    # as the direct twin above — identical integers, identical output)
    inter = F.size(F.array_intersect("toks1", "toks2"))
    jac = inter.cast("double") / (F.col("n1") + F.col("n2") - inter)
    return (
        cand.join(ta, "doc_id1")
        .join(tb, "doc_id2")
        .withColumn("jaccard", F.round(jac, 4))
        .filter(F.col("jaccard") >= 0.6)
        .select("doc_id1", "doc_id2", "jaccard")
    )


O_WORD_JACCARD_PAIRS = f"""
WITH d AS (
  SELECT doc_id, source,
         list_distinct(string_split({_NORM_DUCK.format(c='text')}, ' ')) AS toks
  FROM documents
)
SELECT a.doc_id AS doc_id1, b.doc_id AS doc_id2,
       round(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
             / len(list_distinct(list_concat(a.toks, b.toks))), 4) AS jaccard
FROM d a JOIN d b USING (source)
WHERE a.doc_id < b.doc_id
  AND round(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
            / len(list_distinct(list_concat(a.toks, b.toks))), 4) >= 0.6
"""


def q_cc_chain(spark, sf):
    """J8: connected components over a deterministic edge set
    (consecutive doc_ids sharing a source), distributed
    large-star/small-star vs a recursive-CTE oracle."""
    from epstein_pipeline_spark.operators.cc import connected_components

    d = _docs(spark, sf).select(
        F.lpad(F.col("doc_id").cast("string"), 8, "0").alias("node"), "source"
    )
    a, b = d.alias("a"), d.alias("b")
    edges = (
        a.join(b, "source")
        .filter(F.col("b.node") == F.lpad((F.col("a.node").cast("bigint") + 1).cast("string"), 8, "0"))
        .select(F.col("a.node").alias("url1"), F.col("b.node").alias("url2"))
    )
    labels = connected_components(edges, nodes=d.select("node"))
    return labels.select(F.col("url").alias("doc"), F.col("cluster_id").alias("component"))


O_CC_CHAIN = """
WITH RECURSIVE d AS (
  SELECT lpad(CAST(doc_id AS VARCHAR), 8, '0') AS node, source, doc_id FROM documents
), edges AS (
  SELECT a.node AS src, b.node AS dst
  FROM d a JOIN d b ON a.source = b.source AND b.doc_id = a.doc_id + 1
), sym AS (
  SELECT src, dst FROM edges UNION SELECT dst, src FROM edges
), reach(node, comp) AS (
  SELECT node, node FROM d
  UNION
  SELECT s.dst, r.comp FROM reach r JOIN sym s ON s.src = r.node
)
SELECT node AS doc, min(comp) AS component FROM reach GROUP BY node
"""


# ---------------------------------------------------------------------------
# relational queries over the TPC-H-ish tables
# ---------------------------------------------------------------------------

def q1_pricing_summary(spark, sf):
    """TPC-H Q1 shape: scan-filter-agg with 8 aggregates."""
    li = _t(spark, sf, "lineitem").filter(F.col("l_shipdate") <= "1998-09-02")
    disc = F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1).cast("decimal(18,2)") - F.col("l_discount").cast("decimal(18,2)")
    )
    charge = disc * (F.lit(1).cast("decimal(18,2)") + F.col("l_tax").cast("decimal(18,2)"))
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            _dec_sum(F.col("l_quantity")).alias("sum_qty"),
            _dec_sum(F.col("l_extendedprice")).alias("sum_base_price"),
            F.sum(disc).cast("double").alias("sum_disc_price"),
            F.sum(charge).cast("double").alias("sum_charge"),
            F.count("*").alias("count_order"),
        )
    )


O_Q1 = """
SELECT l_returnflag, l_linestatus,
       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) * (CAST(1 AS DECIMAL(18,2)) + CAST(l_tax AS DECIMAL(18,2)))) AS DOUBLE) AS sum_charge,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


def q3_top_orders(spark, sf):
    """Q3 shape: 3-way join (broadcast dim), agg, global top-k."""
    cust = _t(spark, sf, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf, "orders")
    li = _t(spark, sf, "lineitem")
    disc = F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1).cast("decimal(18,2)") - F.col("l_discount").cast("decimal(18,2)")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("o_orderkey", "o_orderdate")
        .agg(F.sum(disc).cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), "o_orderkey")
        .limit(10)
    )


O_Q3 = """
SELECT o_orderkey, o_orderdate,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
GROUP BY o_orderkey, o_orderdate
ORDER BY revenue DESC, o_orderkey
LIMIT 10
"""


def q5_nation_revenue(spark, sf):
    """Q5 shape: 5-way join through broadcast dims, agg by nation."""
    li = _t(spark, sf, "lineitem")
    orders = _t(spark, sf, "orders")
    cust = _t(spark, sf, "customer")
    nation = _t(spark, sf, "nation")
    region = _t(spark, sf, "region")
    disc = F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1).cast("decimal(18,2)") - F.col("l_discount").cast("decimal(18,2)")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(F.sum(disc).cast("double").alias("revenue"), F.count("*").alias("n_items"))
    )


O_Q5 = """
SELECT r_name, n_name,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
       count(*) AS n_items
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name, n_name
"""


def q_top_parts_per_brand(spark, sf):
    """W1/W3: ranking window, top-3 per group."""
    w = Window.partitionBy("p_brand").orderBy(F.desc("p_retailprice"), F.asc("p_partkey"))
    return (
        _t(spark, sf, "part")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("p_brand", "p_partkey", "p_retailprice", "rn")
    )


O_TOP_PARTS = """
SELECT p_brand, p_partkey, p_retailprice, rn FROM (
  SELECT p_brand, p_partkey, p_retailprice,
         row_number() OVER (PARTITION BY p_brand ORDER BY p_retailprice DESC, p_partkey ASC) AS rn
  FROM part
) WHERE rn <= 3
"""


def q_customer_fuzzy_pairs(spark, sf):
    """J3: blocked fuzzy join — levenshtein <= 2 within nation blocks
    (reference fuzz.ratio title dedup, dedup.py:296-324)."""
    from epstein_pipeline_spark.operators.pairs import salted_block_join

    c = _t(spark, sf, "customer").select("c_custkey", "c_name", "c_nationkey")
    # blocked pairs through the sub-salting skew guard (splink_max_pairs
    # analog; blocks here are <= 600 rows at tested scales, far under
    # the cap, so the output is exactly all-pairs). Dense blocks keep
    # the codegen equi-join (see salted_block_join vs the array-based
    # guarded_block_pairs trade-off). The comparison is the threshold
    # form of levenshtein: banded O(n*k) DP with early abort (returns
    # -1 above the bound) instead of the O(n^2) full matrix. Finer
    # blocking keys don't work on THIS data (every c_name shares the
    # 'Customer#000...' prefix, so q-gram partition blocks are
    # degenerate); the scale-path answer for real name data is
    # operators/fuzzy_title.py's first-token blocking.
    # ORACLE SCOPE: O_CUSTOMER_FUZZY is an exact all-pairs join, so
    # this query matches it only while every nation block stays under
    # the cap (sf0.1: max block 642 — the guard never fires at
    # correctness/bench scales; at sf >= ~0.34 blocks would exceed it
    # and sub-salting would legitimately drop cross-sub pairs the
    # exact oracle keeps). Cap comes from the config knob, not a
    # literal, so retuning fuzzy_block_cap keeps query and guard in
    # step.
    from epstein_pipeline_spark.config import DEFAULT_CONFIG as _cfg

    # n_blocks_hint: the block key is c_nationkey — a FIXED 25-value
    # domain (TPC-H nation table), so the broadcast gate needs no
    # approx_count_distinct probe; the hint keeps this call fully lazy
    pairs = salted_block_join(
        c,
        "c_nationkey",
        ["c_custkey", "c_name"],
        cap=_cfg.fuzzy_block_cap,
        n_blocks_hint=25,
    )
    return (
        pairs.withColumn(
            "lev", F.levenshtein(F.col("a.c_name"), F.col("b.c_name"), 2)
        )
        .filter(F.col("lev") >= 0)
        .select(
            F.col("a.c_custkey").alias("custkey1"),
            F.col("b.c_custkey").alias("custkey2"),
            "lev",
        )
    )


O_CUSTOMER_FUZZY = """
SELECT a.c_custkey AS custkey1, b.c_custkey AS custkey2,
       levenshtein(a.c_name, b.c_name) AS lev
FROM customer a JOIN customer b USING (c_nationkey)
WHERE a.c_custkey < b.c_custkey AND levenshtein(a.c_name, b.c_name) <= 2
"""


def q_orders_anti_join(spark, sf):
    """J10/U4: anti-join — customers with no orders (resume-skip
    semantics, state.py:86-111).

    Every sf customer has orders, so anti-joining the raw tables is
    vacuous (0 = 0); drop the orders of custkey % 61 == 0 customers
    inside the query so the anti-join provably returns them. Same
    derivation in the oracle.
    """
    cust = _t(spark, sf, "customer")
    orders = _t(spark, sf, "orders").filter(F.col("o_custkey") % 61 != 0)
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .select("c_custkey", "c_name")
    )


O_ORDERS_ANTI = """
SELECT c_custkey, c_name FROM customer
WHERE c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_custkey % 61 <> 0)
"""


# ---------------------------------------------------------------------------
# events (timeline / sessionization / rollups)
# ---------------------------------------------------------------------------

def q_timeline_search(spark, sf):
    """J9: timeline search — range + type filter + participant
    array-membership + LEFT JOIN documents for the title, ordered
    date ASC / confidence DESC, limit (reference neon_schema.py:425-466:
    ``participant = ANY(te.participants)`` and
    ``LEFT JOIN documents d ON d.id = te.document_id``)."""
    ev = _t(spark, sf, "events").select(
        "event_id", "ts", "user_id", "event_type",
        F.round("value", 4).alias("confidence"),
        F.array(
            F.concat(F.lit("p"), (F.col("user_id") % 97).cast("string")),
            F.concat(F.lit("p"), ((F.col("user_id") * 7) % 97).cast("string")),
            F.concat(F.lit("p"), (F.col("event_id") % 97).cast("string")),
        ).alias("participants"),
    )
    docs = _docs(spark, sf).select(
        F.col("doc_id"), F.substring("text", 1, 30).alias("title")
    )
    return (
        ev.filter(
            (F.col("ts") >= "2024-01-05")
            & (F.col("ts") < "2024-01-20")
            & F.col("event_type").isin("click", "error")
            & F.array_contains("participants", "p13")
        )
        .join(docs, ev.user_id == docs.doc_id, "left")
        .orderBy("ts", F.desc("confidence"), "event_id")
        .limit(100)
        .select("event_id", "ts", "user_id", "event_type", "confidence", "title")
    )


O_TIMELINE = """
WITH ev AS (
  SELECT event_id, ts, user_id, event_type, round(value, 4) AS confidence,
         ['p' || CAST(user_id % 97 AS VARCHAR),
          'p' || CAST((user_id * 7) % 97 AS VARCHAR),
          'p' || CAST(event_id % 97 AS VARCHAR)] AS participants
  FROM events
)
SELECT e.event_id, e.ts, e.user_id, e.event_type, e.confidence,
       substr(d.text, 1, 30) AS title
FROM ev e LEFT JOIN documents d ON d.doc_id = e.user_id
WHERE e.ts >= TIMESTAMP '2024-01-05 00:00:00' AND e.ts < TIMESTAMP '2024-01-20 00:00:00'
  AND e.event_type IN ('click', 'error')
  AND list_contains(e.participants, 'p13')
ORDER BY e.ts, e.confidence DESC, e.event_id
LIMIT 100
"""


def q_event_rollup(spark, sf):
    """A5/A6: keyed aggregation with decimal-stable sums."""
    return (
        _t(spark, sf, "events")
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            _dec_sum(F.col("value")).alias("total_value"),
            F.countDistinct("user_id").alias("n_users"),
            F.max("event_id").alias("max_event_id"),
        )
    )


O_EVENT_ROLLUP = """
SELECT event_type, count(*) AS n,
       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
       count(DISTINCT user_id) AS n_users, max(event_id) AS max_event_id
FROM events GROUP BY event_type
"""


def q_user_sessions(spark, sf):
    """Sessionization: lag + gap>30min cumulative flags (the Spark
    window idiom for session assignment)."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ev = _t(spark, sf, "events")
    # parquet ts is TIMESTAMP_NTZ; go via timestamp (session tz pinned
    # to UTC) to epoch seconds
    epoch = F.col("ts").cast("timestamp").cast("long")
    gap = epoch - F.lag(epoch).over(w)
    flagged = ev.withColumn(
        "new_session", F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
    )
    return (
        flagged.groupBy("user_id")
        .agg(F.sum("new_session").alias("n_sessions"), F.count("*").alias("n_events"))
    )


O_USER_SESSIONS = """
WITH flagged AS (
  SELECT user_id,
         CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                   OR date_diff('second', lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id), ts) > 1800
              THEN 1 ELSE 0 END AS new_session
  FROM events
)
SELECT user_id, CAST(sum(new_session) AS BIGINT) AS n_sessions, count(*) AS n_events
FROM flagged GROUP BY user_id
"""


def q_running_value(spark, sf):
    """W-frame: running decimal-stable sum per user ordered by time."""
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        _t(spark, sf, "events")
        .withColumn(
            "running_value",
            F.sum(F.col("value").cast("decimal(18,2)")).over(w).cast("double"),
        )
        .select("event_id", "user_id", "running_value")
    )


O_RUNNING_VALUE = """
SELECT event_id, user_id,
       CAST(sum(CAST(value AS DECIMAL(18,2)))
            OVER (PARTITION BY user_id ORDER BY ts, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_value
FROM events
"""


# ---------------------------------------------------------------------------
# embeddings (similarity search)
# ---------------------------------------------------------------------------

def _cos(a, b):
    dot = F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda s, x: s + x)
    na = F.sqrt(F.aggregate(a, F.lit(0.0), lambda s, x: s + x * x))
    nb = F.sqrt(F.aggregate(b, F.lit(0.0), lambda s, x: s + x * x))
    return dot / (na * nb)


def q_semantic_topk(spark, sf):
    """O3/P15: cosine top-k against the vec_id=0 query vector
    (reference semantic_search, neon_schema.py:301-326)."""
    e = _t(spark, sf, "embeddings").withColumn("v", F.col("embedding").cast("array<double>"))
    q = e.filter(F.col("vec_id") == 0).select(F.col("v").alias("qv"))
    return (
        e.crossJoin(F.broadcast(q))
        .select("vec_id", F.round(_cos(F.col("v"), F.col("qv")), 6).alias("score"))
        .orderBy(F.desc("score"), "vec_id")
        .limit(10)
    )


O_SEMANTIC_TOPK = """
WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
SELECT vec_id,
       round(list_dot_product(v, qv) / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))), 6) AS score
FROM e, q
ORDER BY score DESC, vec_id
LIMIT 10
"""


def q_ivf_topk(spark, sf):
    """IVF ANN search exercised end-to-end (train -> assign -> probe),
    run at n_probe = n_cells so the probed set is the whole corpus and
    the result is EXACTLY the brute-force top-k — which makes the same
    SQL oracle as semantic_topk apply. Recall at pruned n_probe is
    covered by tests/test_embed.py::test_ivf_topk_recall_vs_brute."""
    from epstein_pipeline_spark.operators.embed_pass import (
        assign_ivf_cells,
        ivf_topk,
        train_ivf_centroids,
    )

    e = _t(spark, sf, "embeddings")
    qv = [float(x) for x in e.filter(F.col("vec_id") == 0).select("embedding").first()[0]]
    cent = train_ivf_centroids(e, n_cells=16, sample_cap=5000)
    indexed = assign_ivf_cells(e, cent)
    return ivf_topk(indexed, cent, qv, k=10, n_probe=16)


def q_cosine_pairs(spark, sf):
    """J5: similarity self-join — all pairs with cosine >= 0.4 (the
    driver corpus has no >=0.95 structure; threshold adjusted to be
    non-empty while keeping identical semantics)."""
    e = _t(spark, sf, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    a, b = e.alias("a"), e.alias("b")
    return (
        a.crossJoin(b)
        .filter(F.col("a.vec_id") < F.col("b.vec_id"))
        .withColumn("score", F.round(_cos(F.col("a.v"), F.col("b.v")), 6))
        .filter(F.col("score") >= 0.4)
        .select(F.col("a.vec_id").alias("vec_id1"), F.col("b.vec_id").alias("vec_id2"), "score")
    )


O_COSINE_PAIRS = """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
SELECT a.vec_id AS vec_id1, b.vec_id AS vec_id2,
       round(list_dot_product(a.v, b.v) / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) AS score
FROM e a, e b
WHERE a.vec_id < b.vec_id
  AND round(list_dot_product(a.v, b.v) / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) >= 0.4
"""


def q_bates_overlap(spark, sf):
    """J2: interval-overlap range join — Bates-style ranges derived
    deterministically from doc_id (same derivation in the oracle).

    16 derived prefixes (A..P from doc_id % 16) so the equi-join key
    has real cardinality (a single constant prefix puts every row in
    ONE task — the r1 skew finding), and the exercised path is the
    skew-resistant bucketized variant, not the plain prefix join."""
    from epstein_pipeline_spark.operators.range_join import bates_pairs_bucketized

    pfx = F.char(F.lit(65) + (F.col("doc_id") % 16))
    lo = (F.col("doc_id") * 37) % 1000
    d = _docs(spark, sf).select(
        "doc_id",
        F.concat(
            pfx, F.lpad(lo.cast("string"), 5, "0"),
            F.lit("-"),
            pfx, F.lpad((lo + (F.col("doc_id") % 7) * 13).cast("string"), 5, "0"),
        ).alias("batesRange"),
    )
    return bates_pairs_bucketized(d, id_col="doc_id", bucket=100).select(
        F.col("url1").alias("doc_id1"), F.col("url2").alias("doc_id2"), "score"
    )


O_BATES_OVERLAP = """
WITH d AS (
  SELECT doc_id,
         chr(65 + CAST(doc_id % 16 AS INT)) AS pfx,
         (doc_id * 37) % 1000 AS lo,
         (doc_id * 37) % 1000 + (doc_id % 7) * 13 AS hi
  FROM documents
)
SELECT a.doc_id AS doc_id1, b.doc_id AS doc_id2, 0.95 AS score
FROM d a JOIN d b
  ON a.pfx = b.pfx AND a.doc_id < b.doc_id AND a.lo <= b.hi AND b.lo <= a.hi
"""


def q_title_fuzzy(spark, sf):
    """J3: blocked fuzzy-title join over derived titles (first 25
    normalized chars), rapidfuzz fuzz.ratio (InDel) >= 0.90 within
    first-word blocks — the reference's kernel and threshold
    (processors/dedup.py:313, config dedup_threshold 0.90)."""
    from epstein_pipeline_spark.operators.fuzzy_title import title_fuzzy_pairs

    d = _docs(spark, sf).select(
        "doc_id", F.substring(_norm("text"), 1, 25).alias("title")
    )
    return title_fuzzy_pairs(d, id_col="doc_id", threshold=0.90).select(
        F.col("url1").alias("doc_id1"), F.col("url2").alias("doc_id2"), "score"
    )


# InDel ratio = 2*LCS/(la+lb). DuckDB has no LCS builtin, so the oracle
# computes it exactly: a cheap levenshtein UPPER BOUND prunes candidates
# (indel_dist >= lev_dist, so 1 - lev/(la+lb) >= indel ratio — never
# drops a true match), then a recursive-CTE DP computes LCS per
# survivor. Each DP row update uses the prefix-max identity
# new[j] = cummax(max(old[j], old[j-1]+eq)) over 1-based lists.
O_TITLE_FUZZY = f"""
WITH RECURSIVE d AS (
  SELECT doc_id, substr({_NORM_DUCK.format(c='text')}, 1, 25) AS title
  FROM documents
), t AS (
  SELECT doc_id, title, string_split(title, ' ')[1] AS blk FROM d
), cand AS (
  SELECT a.doc_id AS doc_id1, b.doc_id AS doc_id2,
         a.title AS t1, b.title AS t2
  FROM t a JOIN t b ON a.blk = b.blk AND a.doc_id < b.doc_id
  WHERE CASE WHEN length(a.title) + length(b.title) = 0 THEN 1.0
             ELSE 1.0 - CAST(levenshtein(a.title, b.title) AS DOUBLE)
                   / (length(a.title) + length(b.title)) END >= 0.90
), dp AS (
  SELECT doc_id1, doc_id2, t1, t2, 0 AS i,
         list_transform(range(1, length(t2)+2), x -> 0) AS dprow
  FROM cand
  UNION ALL
  SELECT doc_id1, doc_id2, t1, t2, i+1,
         list_transform(range(1, length(t2)+2), j ->
            list_max(list_transform(range(1, j+1), k ->
               CASE WHEN k = 1 THEN 0
                    ELSE greatest(dprow[k], dprow[k-1] +
                         CASE WHEN substr(t1, i+1, 1) = substr(t2, k-1, 1)
                              THEN 1 ELSE 0 END)
               END)))
  FROM dp WHERE i < length(t1)
), scored AS (
  SELECT doc_id1, doc_id2,
         round(CASE WHEN length(t1) + length(t2) = 0 THEN 1.0
                    ELSE 2.0 * dprow[length(t2)+1]
                          / (length(t1) + length(t2)) END, 6) AS score
  FROM dp WHERE i = length(t1)
)
SELECT doc_id1, doc_id2, score FROM scored WHERE score >= 0.90
"""


def q_event_cooccurrence(spark, sf):
    """A5: weighted co-occurrence edges — event types co-used by the
    same user, canonical endpoint order, summed weights."""
    e = _t(spark, sf, "events").select("user_id", "event_type").distinct()
    a, b = e.alias("a"), e.alias("b")
    return (
        a.join(b, "user_id")
        .filter(F.col("a.event_type") < F.col("b.event_type"))
        .groupBy(F.col("a.event_type").alias("src"), F.col("b.event_type").alias("dst"))
        .agg(F.count("*").alias("weight"))
    )


O_EVENT_COOCCURRENCE = """
WITH e AS (SELECT DISTINCT user_id, event_type FROM events)
SELECT a.event_type AS src, b.event_type AS dst, count(*) AS weight
FROM e a JOIN e b ON a.user_id = b.user_id AND a.event_type < b.event_type
GROUP BY 1, 2
"""


def q_duplicate_ids(spark, sf):
    """A7: duplicate-id integrity check (integrity.py:87-96).

    Corpus ids are unique, so the check over raw documents passes
    vacuously (0 = 0); plant id collisions inside the query — every
    doc_id % 97 == 0 row is unioned back under its own id — so the
    validator provably fires. Same derivation in the oracle."""
    from epstein_pipeline_spark.operators.integrity import duplicate_ids

    base = _docs(spark, sf)
    planted = base.unionByName(base.filter(F.col("doc_id") % 97 == 0))
    return duplicate_ids(planted, id_col="doc_id")


O_DUPLICATE_IDS = """
WITH d AS (
  SELECT doc_id FROM documents
  UNION ALL
  SELECT doc_id FROM documents WHERE doc_id % 97 = 0
)
SELECT doc_id AS id, count(*) AS n FROM d GROUP BY doc_id HAVING count(*) > 1
"""


# ---------------------------------------------------------------------------
# rows-only queries (non-SQL-expressible: pandas-UDF signatures,
# LSH banding, iterative pipeline): no DuckDB oracle; their row counts
# are recorded and tests/test_golden_checksums.py pins their result sets. They run the
# pipeline's own operator chain: plans.pipeline.signatures_stage and
# its length gates, then the lsh / simhash_pass candidate bodies.
# ---------------------------------------------------------------------------

def _planted_corpus(spark, sf) -> DataFrame:
    """documents ∪ deterministic near-dup variants: every doc gets a
    whitespace/case variant (id+100000) and a 1-char-splice variant
    (id+200000)."""
    d = _docs(spark, sf).select(
        F.col("doc_id").cast("string").alias("url"), "text"
    )
    ws = _docs(spark, sf).select(
        (F.col("doc_id") + 100000).cast("string").alias("url"),
        F.concat(F.lit("  "), F.upper("text"), F.lit("\n")).alias("text"),
    )
    splice = _docs(spark, sf).filter(F.length("text") > 120).select(
        (F.col("doc_id") + 200000).cast("string").alias("url"),
        F.concat(
            F.substring("text", 1, 60), F.lit("q"), F.expr("substring(text, 62)")
        ).alias("text"),
    )
    return d.unionByName(ws).unionByName(splice)


def _planted_signatures(corpus: DataFrame, cfg) -> DataFrame:
    """The pipeline's signatures_stage over the planted corpus, whose
    raw text is normalized first, as extract does for pages."""
    from epstein_pipeline_spark.functions.text import normalize_text_expr
    from epstein_pipeline_spark.plans.pipeline import signatures_stage

    return signatures_stage(
        corpus.select("url", normalize_text_expr("text").alias("text")), cfg
    )


def _planted_minhash_pairs(corpus: DataFrame, cfg) -> DataFrame:
    """(url1, url2, score, method='minhash'): band candidates over the
    planted corpus, kept where the signature estimate reaches the
    threshold."""
    from epstein_pipeline_spark.operators.lsh import (
        band_rows,
        candidate_pairs_from_bands,
        score_candidates,
    )
    from epstein_pipeline_spark.plans.pipeline import minhash_sigs

    # the signature frame feeds the band explosion AND both sides of
    # the score join; un-materialized it would run the UDFs once per
    # consumer. The pipeline commits signatures as a stage instead;
    # these queries commit nothing and are not resumable, so the lazy
    # (not fault-tolerant) local checkpoint stays off the resumable
    # path. The first action materializes it once.
    sigs = minhash_sigs(_planted_signatures(corpus, cfg), cfg).localCheckpoint(eager=False)
    scored = score_candidates(candidate_pairs_from_bands(band_rows(sigs, cfg), cfg), sigs, cfg)
    return scored.filter(F.col("score") >= cfg.jaccard_threshold).withColumn(
        "method", F.lit("minhash")
    )


def q_minhash_dedup_planted(spark, sf):
    """F1/J4: full MinHash/LSH pass over documents + planted variants."""
    from epstein_pipeline_spark.config import DedupConfig

    return _planted_minhash_pairs(_planted_corpus(spark, sf), DedupConfig()).select(
        "url1", "url2", F.round("score", 4).alias("score"), "method"
    )


def q_simhash_dedup_planted(spark, sf):
    """SimHash Hamming-ball pass over documents + planted variants."""
    from epstein_pipeline_spark.config import DedupConfig
    from epstein_pipeline_spark.operators.simhash_pass import simhash_pass
    from epstein_pipeline_spark.plans.pipeline import simhash_sigs

    cfg = DedupConfig()
    sigs = simhash_sigs(_planted_signatures(_planted_corpus(spark, sf), cfg), cfg)
    return simhash_pass(sigs, cfg).select(
        "url1", "url2", F.round("score", 4).alias("score"), "method"
    )


def q_dedup_clusters_planted(spark, sf):
    """Flagship end-to-end: exact + minhash + CC + cluster build over
    documents + planted variants (the reference `dedup --clusters`
    output shape, neon_schema.py:146-157)."""
    from epstein_pipeline_spark.config import DedupConfig
    from epstein_pipeline_spark.operators.cc import connected_components
    from epstein_pipeline_spark.operators.clusters import build_clusters
    from epstein_pipeline_spark.operators.exact import exact_pairs
    from epstein_pipeline_spark.operators.pairs import canonicalize_pairs, union_first_wins

    cfg = DedupConfig()
    corpus = _planted_corpus(spark, sf)
    pairs = union_first_wins(
        canonicalize_pairs(exact_pairs(corpus)),
        canonicalize_pairs(_planted_minhash_pairs(corpus, cfg)),
    )
    labels = connected_components(pairs, nodes=corpus.select("url"))
    return build_clusters(labels, pairs, corpus)


_KW = ["hash", "table", "window"]


def q_keyword_search(spark, sf):
    """FTS stand-in (reference tsvector/FTS5 surface,
    neon_schema.py:376-379 / sqlite_export.py:137-161): token-match
    scoring — docs matching >= 2 of 3 query terms, ranked by matched
    term count then length."""
    d = _docs(spark, sf).withColumn("toks", F.array_distinct(F.split(_norm("text"), " ")))
    score = F.size(F.array_intersect(F.col("toks"), _spark_arr(_KW)))
    return (
        d.withColumn("matched_terms", score)
        .filter(F.col("matched_terms") >= 2)
        .select("doc_id", "matched_terms", "n_chars")
        .orderBy(F.desc("matched_terms"), F.desc("n_chars"), "doc_id")
        .limit(20)
    )


O_KEYWORD_SEARCH = f"""
WITH d AS (
  SELECT doc_id, n_chars,
         len(list_intersect(list_distinct(string_split({_NORM_DUCK.format(c='text')}, ' ')),
                            {_duck_list(_KW)})) AS matched_terms
  FROM documents
)
SELECT doc_id, matched_terms, n_chars FROM d
WHERE matched_terms >= 2
ORDER BY matched_terms DESC, n_chars DESC, doc_id
LIMIT 20
"""


def q_rhp_cosine_pairs(spark, sf):
    """Scale-path ANN: random-hyperplane LSH bucketed cosine pair join
    with exact verification (the HNSW/IVF stand-in)."""
    from epstein_pipeline_spark.operators.embed_pass import cosine_pairs_rhp

    return cosine_pairs_rhp(
        _t(spark, sf, "embeddings"), threshold=0.40, n_bits=8, n_tables=16
    )


def q_chunk_documents(spark, sf):
    """F5: pandas-UDF chunker + posexplode (UDTF-shaped flatMap).

    Oracle note: the corpus texts contain no blank-line paragraph
    breaks, so at target_chars=200 every doc takes py_chunk's
    hard-split path — a closed-form piece formula (s = 0, 200, 400…;
    piece = text[max(0, s-overlap):s+200]) that SQL can replicate
    exactly, turning this from a rows-only check into a full
    value-hash oracle. The greedy paragraph-packing path is covered by
    tests/test_longtail_ops.py::test_chunker_offsets_and_coverage."""
    from epstein_pipeline_spark.functions.chunker import chunk_documents

    return chunk_documents(_docs(spark, sf), id_col="doc_id", text_col="text", target_chars=200)


O_CHUNK_DOCUMENTS = """
SELECT doc_id AS url,
       CAST(s / 200 AS INT) AS chunk_index,
       CASE WHEN s = 0 THEN 0 ELSE s - 200 END AS char_start,
       (CASE WHEN s = 0 THEN 0 ELSE s - 200 END)
         + length(CASE WHEN s = 0 THEN substr(text, 1, 200)
                       ELSE substr(text, s - 200 + 1, 400) END) AS char_end,
       CASE WHEN s = 0 THEN substr(text, 1, 200)
            ELSE substr(text, s - 200 + 1, 400) END AS chunk_text
FROM documents, LATERAL unnest(range(0, length(text), 200)) AS t(s)
"""


def q_exact_cc_clusters_planted(spark, sf):
    """Flagship spine, oracle-checked: exact hash-group pairs + the
    distributed CC over the planted corpus, compared as PARTITIONS
    (min-url labels are canonical on both engines). The full flagship
    (``dedup_clusters_planted``) adds the pandas-UDF MinHash pass,
    whose recall is proven against planted truth separately; this
    query pins the SQL-expressible subset end-to-end."""
    from epstein_pipeline_spark.operators.cc import connected_components
    from epstein_pipeline_spark.operators.exact import exact_pairs

    corpus = _planted_corpus(spark, sf)
    pairs = exact_pairs(corpus)
    labels = connected_components(pairs, nodes=corpus.select("url"))
    return labels.select("url", "cluster_id")


O_EXACT_CC_CLUSTERS = f"""
WITH RECURSIVE docs0 AS (
  SELECT CAST(doc_id AS VARCHAR) AS url, text FROM documents
  UNION ALL
  SELECT CAST(doc_id + 100000 AS VARCHAR), '  ' || upper(text) || chr(10) FROM documents
  UNION ALL
  SELECT CAST(doc_id + 200000 AS VARCHAR),
         substr(text, 1, 60) || 'q' || substr(text, 62)
  FROM documents WHERE length(text) > 120
), h AS (
  SELECT url, sha256({_NORM_DUCK.format(c='text')}) AS ch FROM docs0
), edges AS (
  SELECT a.url AS src, b.url AS dst
  FROM h a JOIN h b ON a.ch = b.ch AND a.url < b.url
), sym AS (
  SELECT src, dst FROM edges UNION SELECT dst, src FROM edges
), reach(node, comp) AS (
  SELECT url, url FROM docs0
  UNION
  SELECT s.dst, r.comp FROM reach r JOIN sym s ON s.src = r.node
)
SELECT node AS url, min(comp) AS cluster_id FROM reach GROUP BY node
"""


# ---------------------------------------------------------------------------
# P9: entity extraction
# ---------------------------------------------------------------------------

# entity sentence planted onto every document so each of the seven
# extractors provably fires (the corpus alone contains none); the SAME
# template renders in Spark and the DuckDB oracle
def q_entity_extract(spark, sf):
    """P9: regex entity extractors -> exploded entity table
    (reference entities.py:34-63,369-384)."""
    from epstein_pipeline_spark.operators.entities import extract_entities

    did = F.col("doc_id")
    suffix = F.concat(
        F.lit(" Contact (212) 555-0"), F.lpad((did % 1000).cast("string"), 3, "0"),
        F.lit(" or agent"), did.cast("string"),
        F.lit("@mail.example.com re Case No. 2015-CV-"), (did % 900 + 100).cast("string"),
        F.lit(". Wired $"), (did % 90 + 10).cast("string"),
        F.lit(",500.00 from account #"), (did + 10000).cast("string"),
        F.lit(" after Flight N"), (did % 900 + 100).cast("string"),
        F.lit("JE met at "), (did % 999 + 1).cast("string"), F.lit(" Cedar Lane."),
    )
    aug = _docs(spark, sf).select("doc_id", F.concat(F.col("text"), suffix).alias("text"))
    return extract_entities(aug)


def _entity_oracle() -> str:
    from epstein_pipeline_spark.operators.entities import ENTITY_PATTERNS

    pats = ",\n    ".join(f"('{t}', '{p}')" for t, p in ENTITY_PATTERNS.items())
    return f"""
WITH d AS (
  SELECT doc_id,
         text || ' Contact (212) 555-0' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
              || ' or agent' || CAST(doc_id AS VARCHAR)
              || '@mail.example.com re Case No. 2015-CV-' || CAST(doc_id % 900 + 100 AS VARCHAR)
              || '. Wired $' || CAST(doc_id % 90 + 10 AS VARCHAR)
              || ',500.00 from account #' || CAST(doc_id + 10000 AS VARCHAR)
              || ' after Flight N' || CAST(doc_id % 900 + 100 AS VARCHAR)
              || 'JE met at ' || CAST(doc_id % 999 + 1 AS VARCHAR) || ' Cedar Lane.' AS text
  FROM documents
), pats(entity_type, pat) AS (
  VALUES {pats}
)
SELECT d.doc_id, p.entity_type, unnest(regexp_extract_all(d.text, p.pat)) AS value
FROM d CROSS JOIN pats p
"""


O_ENTITY_EXTRACT = _entity_oracle()


# ---------------------------------------------------------------------------
# J6: entity-resolution scoring (fixed-weight Fellegi-Sunter)
# ---------------------------------------------------------------------------

_ER_FIRSTS = ["james", "mary", "john", "patricia", "robert", "jennifer",
              "michael", "linda", "william", "elizabeth", "david", "barbara",
              "richard", "susan", "joseph", "jessica"]
_ER_LASTS = ["smith", "johnson", "williams", "brown", "jones", "garcia",
             "miller", "davis", "rodriguez", "martinez", "hernandez", "lopez",
             "gonzalez", "wilson", "anderson", "thomas"]


def _er_persons(spark, sf):
    """Deterministic person records from customer keys + planted typo
    variants (custkey % 20 == 0 gets a pid+1000000 twin whose FIRST
    name drops its final letter — the last name stays intact so the
    twin is reachable through the reference's last_name blocking rule;
    a last-name typo would never be a candidate under name_lower /
    last_name blocks, exactly as in the reference)."""
    c = _t(spark, sf, "customer").select(
        F.col("c_custkey").alias("pid"), F.lower(F.col("c_mktsegment")).alias("category")
    )
    first = F.element_at(_spark_arr(_ER_FIRSTS), (F.col("pid") % 16 + 1).cast("int"))
    last = F.element_at(_spark_arr(_ER_LASTS), ((F.col("pid") / F.lit(16)).cast("long") % 16 + 1).cast("int"))
    base = c.select(
        "pid", first.alias("first_name"), last.alias("last_name"), "category"
    )
    variant = base.filter(F.col("pid") % 20 == 0).select(
        (F.col("pid") + 1_000_000).alias("pid"),
        F.col("first_name").substr(F.lit(1), F.length("first_name") - 1).alias("first_name"),
        "last_name",
        "category",
    )
    p = base.unionByName(variant)
    return p.select(
        "pid",
        F.concat_ws(" ", "first_name", "last_name").alias("name"),
        "first_name",
        "last_name",
        F.concat(F.substring("first_name", 1, 1), F.lit(". "), F.col("last_name")).alias("aliases"),
        "category",
    )


def q_entity_resolution(spark, sf):
    """J6: blocked JaroWinkler comparison vector -> fixed-weight
    log-odds match probability >= 0.85
    (reference entity_resolution.py:180-238, config.py:129)."""
    from epstein_pipeline_spark.operators.resolution import score_person_pairs

    return score_person_pairs(_er_persons(spark, sf), id_col="pid")


def _er_oracle() -> str:
    from epstein_pipeline_spark.operators.resolution import (
        FS_CATEGORY_WEIGHTS,
        FS_COMPARISONS,
        FS_PRIOR_LOGIT2,
    )

    firsts = _duck_list(_ER_FIRSTS)
    lasts = _duck_list(_ER_LASTS)
    tier_sql = []
    for col, (tiers, weights) in FS_COMPARISONS.items():
        jw = f"round(jaro_winkler_similarity(a.{col}, b.{col}), 6)"
        branches = " ".join(
            f"WHEN {jw} >= {thr} THEN {w}" for thr, w in zip(tiers, weights[:-1])
        )
        tier_sql.append(f"CASE {branches} ELSE {weights[-1]} END")
    tier_sql.append(
        f"CASE WHEN a.category = b.category THEN {FS_CATEGORY_WEIGHTS[0]}"
        f" ELSE {FS_CATEGORY_WEIGHTS[1]} END"
    )
    score = f"({FS_PRIOR_LOGIT2} + " + " + ".join(tier_sql) + ")"
    return f"""
WITH base AS (
  SELECT c_custkey AS pid,
         {firsts}[CAST(c_custkey % 16 + 1 AS INT)] AS first_name,
         {lasts}[CAST((c_custkey // 16) % 16 + 1 AS INT)] AS last_name,
         lower(c_mktsegment) AS category
  FROM customer
), persons0 AS (
  SELECT pid, first_name, last_name, category FROM base
  UNION ALL
  SELECT pid + 1000000,
         substr(first_name, 1, length(first_name) - 1), last_name, category
  FROM base WHERE pid % 20 = 0
), p AS (
  SELECT pid, first_name || ' ' || last_name AS name, first_name, last_name,
         substr(first_name, 1, 1) || '. ' || last_name AS aliases, category
  FROM persons0
), blocked AS (
  SELECT a.pid AS pid1, b.pid AS pid2, {score} AS s
  FROM p a JOIN p b ON a.name = b.name AND a.pid < b.pid
  UNION
  SELECT a.pid AS pid1, b.pid AS pid2, {score} AS s
  FROM p a JOIN p b ON a.last_name = b.last_name AND a.pid < b.pid
)
SELECT pid1, pid2, round(pow(2.0, s) / (1.0 + pow(2.0, s)), 6) AS match_probability
FROM blocked
WHERE round(pow(2.0, s) / (1.0 + pow(2.0, s)), 6) >= 0.85
"""


O_ENTITY_RESOLUTION = _er_oracle()


def q_em_gamma_patterns(spark, sf):
    """Splink-style EM training input: distinct comparison-vector
    (gamma) pattern counts over the blocked pair stream
    (entity_resolution.py:209-233). The EM loop itself is driver-side
    over THIS bounded table — so the oracle pins the entire cluster
    side of weight training."""
    from epstein_pipeline_spark.operators.em_training import (
        gamma_pattern_counts,
        pair_gammas,
    )
    from epstein_pipeline_spark.operators.resolution import blocked_person_pairs

    g = gamma_pattern_counts(
        pair_gammas(blocked_person_pairs(_er_persons(spark, sf), "pid"), "pid")
    )
    return g.select(
        "g_name", "g_first_name", "g_last_name", "g_aliases", "g_category", "n_pairs"
    )


def _em_gamma_oracle() -> str:
    from epstein_pipeline_spark.operators.resolution import FS_COMPARISONS

    firsts = _duck_list(_ER_FIRSTS)
    lasts = _duck_list(_ER_LASTS)
    gcols = []
    for col, (tiers, _w) in FS_COMPARISONS.items():
        jw = f"round(jaro_winkler_similarity(a.{col}, b.{col}), 6)"
        branches = " ".join(f"WHEN {jw} >= {t} THEN {i}" for i, t in enumerate(tiers))
        gcols.append(f"CAST(CASE {branches} ELSE {len(tiers)} END AS INT) AS g_{col}")
    gcols.append(
        "CAST(CASE WHEN a.category = b.category THEN 0 ELSE 1 END AS INT) AS g_category"
    )
    gamma_select = ",\n         ".join(gcols)
    return f"""
WITH base AS (
  SELECT c_custkey AS pid,
         {firsts}[CAST(c_custkey % 16 + 1 AS INT)] AS first_name,
         {lasts}[CAST((c_custkey // 16) % 16 + 1 AS INT)] AS last_name,
         lower(c_mktsegment) AS category
  FROM customer
), persons0 AS (
  SELECT pid, first_name, last_name, category FROM base
  UNION ALL
  SELECT pid + 1000000,
         substr(first_name, 1, length(first_name) - 1), last_name, category
  FROM base WHERE pid % 20 = 0
), p AS (
  SELECT pid, first_name || ' ' || last_name AS name, first_name, last_name,
         substr(first_name, 1, 1) || '. ' || last_name AS aliases, category
  FROM persons0
), gam AS (
  SELECT {gamma_select}
  FROM p a JOIN p b
    ON (a.name = b.name OR a.last_name = b.last_name)
   AND a.pid < b.pid
)
SELECT g_name, g_first_name, g_last_name, g_aliases, g_category,
       count(*) AS n_pairs
FROM gam
GROUP BY ALL
"""


O_EM_GAMMA_PATTERNS = _em_gamma_oracle()


# ---------------------------------------------------------------------------
# A12: temporal-event dedup (word-overlap gate)
# ---------------------------------------------------------------------------

def q_temporal_dedup(spark, sf):
    """A12: same (date, event_type) + >80% description word overlap ->
    keep the higher-confidence event
    (reference temporal_extractor.py:282-323)."""
    from epstein_pipeline_spark.operators.temporal import dedup_events

    ev = _t(spark, sf, "events").select(
        "event_id",
        F.col("ts").cast("date").cast("string").alias("date"),
        "event_type",
        F.concat(
            F.lit("grp"), (F.col("user_id") % 25).cast("string"),
            F.lit(" evt "), F.col("event_type"),
        ).alias("description"),
        F.round("value", 4).alias("confidence"),
    )
    return dedup_events(ev).select("event_id", "date", "event_type", "confidence")


# ORACLE SCOPE: this SQL encodes the order-free "dominated by a
# higher-confidence overlapping event" rule, which equals the
# operator's reference-greedy semantics ONLY because the synthesized
# descriptions ('grpN evt TYPE') form identical-description CLIQUES
# within each (date, event_type) group — no >0.8 overlap chains exist.
# Chain-shaped data diverges (greedy keeps chain tails; see
# tests/test_resolution_entities.py::test_temporal_dedup_chain_matches_reference_greedy);
# if the derivation ever changes, keep it clique-shaped or drop the oracle.
O_TEMPORAL_DEDUP = """
WITH ev AS (
  SELECT event_id, CAST(CAST(ts AS DATE) AS VARCHAR) AS date, event_type,
         'grp' || CAST(user_id % 25 AS VARCHAR) || ' evt ' || event_type AS description,
         round(value, 4) AS confidence
  FROM events
), toks AS (
  SELECT *, list_distinct(string_split(lower(description), ' ')) AS w FROM ev
), dominated AS (
  SELECT DISTINCT a.event_id
  FROM toks a JOIN toks b
    ON a.date = b.date AND a.event_type = b.event_type AND a.event_id <> b.event_id
  WHERE len(a.w) > 0 AND len(b.w) > 0
    AND CAST(len(list_intersect(a.w, b.w)) AS DOUBLE) / greatest(len(a.w), len(b.w)) > 0.8
    AND (b.confidence > a.confidence
         OR (b.confidence = a.confidence AND b.event_id < a.event_id))
)
SELECT event_id, date, event_type, confidence
FROM ev WHERE event_id NOT IN (SELECT event_id FROM dominated)
"""


def q_ocr_chain_select(spark, sf):
    """OCR fallback-chain selection (reference ocr.py:789-827): plant
    three deterministic backend candidates per document (some empty,
    confidences derived from doc_id), accept the first >= 0.6 in chain
    order else the best non-empty candidate, flag low confidence."""
    from epstein_pipeline_spark.operators.ocr_chain import select_ocr_result

    d = _docs(spark, sf)
    cands = []
    for i in range(3):
        txt = F.when(
            (F.col("doc_id") * 7 + i) % 5 == 0, F.lit("")
        ).otherwise(F.substring("text", 1, 50 + i))
        # plant NULL confidences (backend reported none): doc_id % 9
        # in {0,1,2} makes ALL THREE NULL for doc_id % 9 == 0 (chosen
        # candidate carries NULL conf -> low_confidence, the case the
        # r3 oracle never exercised) and a NULL/real mix elsewhere
        conf = F.when(
            (F.col("doc_id") + i) % 9 < 3, F.lit(None).cast("double")
        ).otherwise(F.round(((F.col("doc_id") * 31 + i * 17) % 100) / 100.0, 2))
        cands.append(
            F.struct(
                F.lit(f"b{i}").alias("backend"),
                txt.alias("text"),
                conf.cast("double").alias("confidence"),
            )
        )
    planted = d.withColumn("candidates", F.array(*cands))
    return select_ocr_result(planted, threshold=0.6).select(
        "doc_id",
        "ocr_backend",
        F.round("ocr_confidence", 2).alias("ocr_confidence"),
        "low_confidence",
        F.length("ocr_text").alias("ocr_len"),
    )


O_OCR_CHAIN = """
WITH c AS (
  SELECT doc_id, i,
         'b' || CAST(i AS VARCHAR) AS backend,
         CASE WHEN (doc_id*7 + i) % 5 = 0 THEN ''
              ELSE substr(text, 1, 50 + CAST(i AS INT)) END AS ctext,
         CASE WHEN (doc_id + i) % 9 < 3 THEN NULL
              ELSE round(CAST((doc_id*31 + i*17) % 100 AS DOUBLE)/100.0, 2)
         END AS conf
  FROM documents, (SELECT unnest([0, 1, 2]) AS i)
), ne AS (
  SELECT * FROM c WHERE trim(ctext) <> ''
), first_ok AS (
  SELECT doc_id, backend, ctext, conf,
         row_number() OVER (PARTITION BY doc_id ORDER BY i) AS rn
  FROM ne WHERE conf >= 0.6
), best AS (
  -- NULLS LAST mirrors the engine's coalesce(conf, -inf) ranking: a
  -- NULL-confidence candidate loses to every real one, earliest wins
  -- among equals/NULLs
  SELECT doc_id, backend, ctext, conf,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY conf DESC NULLS LAST, i ASC) AS rn
  FROM ne
)
SELECT d.doc_id,
       coalesce(f.backend, b.backend) AS ocr_backend,
       coalesce(f.conf, b.conf) AS ocr_confidence,
       -- missing confidence counts as LOW (reference keeps it only as
       -- a below-threshold candidate, ocr.py:805-807); a doc with no
       -- non-empty candidate at all is NOT flagged
       (coalesce(f.backend, b.backend) IS NOT NULL
        AND coalesce(coalesce(f.conf, b.conf) < 0.6, TRUE)) AS low_confidence,
       length(coalesce(f.ctext, b.ctext, '')) AS ocr_len
FROM documents d
LEFT JOIN (SELECT * FROM first_ok WHERE rn = 1) f USING (doc_id)
LEFT JOIN (SELECT * FROM best WHERE rn = 1) b USING (doc_id)
"""


def q_decontaminate(spark, sf):
    """Benchmark decontamination — the training-data-pipeline staple
    (flag training docs that share any 8-token gram with a benchmark
    set, per the n-gram-overlap rule used by large-LM data curation).
    The benchmark here is derived deterministically INSIDE the query
    (the exact_dup_pairs planting trick): every doc_id % 11 == 0 doc
    contributes a 15-token excerpt (tokens 4..18), standing in for a
    benchmark item that quotes web text. Output: one row per
    contaminated training doc with hit counts.

    Scale shape: the benchmark gram set is tiny relative to the corpus
    (thousands of eval items vs 10^12 pages), so it is BROADCAST and
    the corpus-side explode never shuffles — the plan is a map-side
    semi-ish join + one groupBy on doc_id. With a benchmark too big to
    broadcast, the same query degrades gracefully to a shuffled join
    on the gram key."""
    d = _docs(spark, sf).withColumn("toks", F.split(_norm("text"), " "))
    grams_of = lambda col: F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.size(col) - F.lit(7), F.lit(1))),
            lambda i: F.concat_ws(" ", F.slice(col, i, 8)),
        )
    )
    bench = (
        d.filter(F.col("doc_id") % 11 == 0)
        .withColumn("ex", F.slice("toks", 4, 15))
        .select(F.explode(grams_of(F.col("ex"))).alias("g"))
        .distinct()
    )
    train = d.select(
        "doc_id",
        F.size(grams_of(F.col("toks"))).alias("n_grams"),
        F.explode(grams_of(F.col("toks"))).alias("g"),
    )
    return (
        train.join(F.broadcast(bench), "g")
        .groupBy("doc_id", "n_grams")
        .agg(F.count("*").alias("n_hits"))  # grams pre-distinct per doc
        .select(
            "doc_id",
            "n_hits",
            "n_grams",
            F.round(F.col("n_hits") / F.col("n_grams"), 4).alias("contaminated_frac"),
        )
    )


O_DECONTAMINATE = f"""
WITH d AS (
  SELECT doc_id, string_split({_NORM_DUCK.format(c='text')}, ' ') AS toks
  FROM documents
), g AS (
  SELECT doc_id,
         list_distinct(list_transform(
           generate_series(1, greatest(len(toks) - 7, 1)),
           i -> array_to_string(toks[i:i+7], ' '))) AS grams
  FROM d
), bench AS (
  SELECT DISTINCT unnest(list_distinct(list_transform(
           generate_series(1, greatest(len(toks[4:18]) - 7, 1)),
           i -> array_to_string((toks[4:18])[i:i+7], ' ')))) AS gm
  FROM d WHERE doc_id % 11 = 0
), train AS (
  SELECT doc_id, len(grams) AS n_grams, unnest(grams) AS gm FROM g
)
SELECT doc_id, count(*) AS n_hits, n_grams,
       round(count(*) / CAST(n_grams AS DOUBLE), 4) AS contaminated_frac
FROM train JOIN bench USING (gm)
GROUP BY doc_id, n_grams
"""


def q_repetition_scores(spark, sf):
    """Within-document repetition quality filters (the Gopher-rule
    family a web-text pipeline runs before training): duplicate
    bigram/trigram fractions and the most-frequent-token mass. All
    array expressions on the JVM — per-doc cost is bounded by doc
    length (the top-token scan is O(n_tokens * n_distinct) per doc,
    independent of corpus size), so the whole query is a single
    shuffle-free map over the scan."""
    d = _docs(spark, sf).withColumn("toks", F.split(_norm("text"), " "))
    toks = F.col("toks")

    def ngrams(k: int):
        return F.transform(
            F.sequence(F.lit(1), F.greatest(F.size(toks) - F.lit(k - 1), F.lit(1))),
            lambda i: F.concat_ws(" ", F.slice(toks, i, k)),
        )

    def dup_frac(k: int):
        g = ngrams(k)
        return F.round(1.0 - F.size(F.array_distinct(g)) / F.size(g), 4)

    top_tok = F.array_max(
        F.transform(
            F.array_distinct(toks), lambda t: F.size(F.filter(toks, lambda x: x == t))
        )
    )
    top_frac = F.round(top_tok / F.size(toks), 4)
    return d.select(
        "doc_id",
        dup_frac(2).alias("dup_bigram_frac"),
        dup_frac(3).alias("dup_trigram_frac"),
        top_frac.alias("top_token_frac"),
        ((dup_frac(2) > 0.2) | (top_frac > 0.3)).alias("flagged"),
    )


O_REPETITION_SCORES = f"""
WITH d AS (
  SELECT doc_id, string_split({_NORM_DUCK.format(c='text')}, ' ') AS toks
  FROM documents
), m AS (
  SELECT doc_id,
         round(1.0 - len(list_distinct(list_transform(
             generate_series(1, greatest(len(toks) - 1, 1)),
             i -> array_to_string(toks[i:i+1], ' '))))
           / CAST(greatest(len(toks) - 1, 1) AS DOUBLE), 4) AS dup_bigram_frac,
         round(1.0 - len(list_distinct(list_transform(
             generate_series(1, greatest(len(toks) - 2, 1)),
             i -> array_to_string(toks[i:i+2], ' '))))
           / CAST(greatest(len(toks) - 2, 1) AS DOUBLE), 4) AS dup_trigram_frac,
         round(list_max(list_transform(list_distinct(toks),
             t -> len(list_filter(toks, x -> x = t))))
           / CAST(len(toks) AS DOUBLE), 4) AS top_token_frac
  FROM d
)
SELECT doc_id, dup_bigram_frac, dup_trigram_frac, top_token_frac,
       (dup_bigram_frac > 0.2 OR top_token_frac > 0.3) AS flagged
FROM m
"""


def q_dup_span_stats(spark, sf):
    """Cross-document repeated-span (ExactSubstr) dedup stats — the
    Lee-et-al.-2021 "remove every >= n-token span that occurs more
    than once, keeping one canonical copy" rule, reformulated as
    repeated-n-gram coverage + per-doc interval merge (exactly the
    token set a suffix-array scan flags at the same threshold; see
    operators/dup_spans.py for the equivalence argument and the
    pass-A map-side-combine scale story). n=15 on the documents
    table, canonical occurrence = min (doc_id, pos)."""
    from epstein_pipeline_spark.operators.dup_spans import repeated_span_stats

    return repeated_span_stats(
        _docs(spark, sf),
        id_col="doc_id",
        text_col="text",
        n=15,
        dup_grams_hint=100_000,  # benchmark-scale dup-gram sets broadcast
    ).select("doc_id", "n_tokens", "n_dup_positions", "dup_tokens", "dup_fraction")


O_DUP_SPAN_STATS = f"""
WITH d AS (
  SELECT doc_id, string_split({_NORM_DUCK.format(c='text')}, ' ') AS toks
  FROM documents
), flat AS (
  SELECT doc_id, n_tokens, u.p AS p, u.gm AS gm FROM (
    SELECT doc_id, len(toks) AS n_tokens,
           unnest(list_transform(
             generate_series(1, greatest(len(toks) - 14, 1)),
             i -> struct_pack(p := i, gm := array_to_string(toks[i:i+14], ' ')))) AS u
    FROM d)
), marked AS (
  SELECT doc_id, n_tokens, p,
         count(*) OVER (PARTITION BY gm) AS c,
         row_number() OVER (PARTITION BY gm ORDER BY doc_id, p) AS rn
  FROM flat
), hits AS (
  SELECT doc_id, n_tokens, p FROM marked WHERE c >= 2 AND rn > 1
), agg AS (
  SELECT doc_id, n_tokens, count(*) AS n_dup_positions
  FROM hits GROUP BY doc_id, n_tokens
), cov AS (
  SELECT doc_id, count(DISTINCT t) AS dup_tokens FROM (
    SELECT doc_id, unnest(generate_series(p, least(p + 14, n_tokens))) AS t
    FROM hits)
  GROUP BY doc_id
)
SELECT a.doc_id, a.n_tokens, a.n_dup_positions, c.dup_tokens,
       round(c.dup_tokens / CAST(a.n_tokens AS DOUBLE), 4) AS dup_fraction
FROM agg a JOIN cov c USING (doc_id)
"""


def q_pii_redact(spark, sf):
    """PII masking (Dolma-convention sentinels) — the pre-training
    redaction pass. PII is planted deterministically per doc (the
    entity_extract trick: email, phone, IPv4, SSN derived from
    doc_id), the text is rewritten through the PII_PATTERNS chain,
    and the oracle pins BOTH the per-type counts and a sha256 of the
    redacted bytes — a masking regression at equal counts is caught.
    Pure scalar regexp expressions; zero exchanges."""
    from epstein_pipeline_spark.operators.pii import redact_pii

    did = F.col("doc_id")
    suffix = F.concat(
        F.lit(" Reach user"), did.cast("string"),
        F.lit("@host.example.net or (646) 555-0"),
        F.lpad((did % 1000).cast("string"), 3, "0"),
        F.lit(". Node 10."), (did % 256).cast("string"),
        F.lit("."), (did % 200).cast("string"),
        F.lit("."), (did % 250 + 1).cast("string"),
        F.lit(" ssn "), (did % 900 + 100).cast("string"),
        F.lit("-"), (did % 90 + 10).cast("string"),
        F.lit("-"), (did % 9000 + 1000).cast("string"),
        F.lit(" end."),
    )
    aug = _docs(spark, sf).select(
        "doc_id", F.concat(F.col("text"), suffix).alias("text")
    )
    return redact_pii(aug).select(
        "doc_id",
        "n_email_address",
        "n_ssn",
        "n_ip_address",
        "n_phone_number",
        "any_pii",
        F.sha2(F.col("text"), 256).alias("redacted_hash"),
    )


def _pii_oracle() -> str:
    from epstein_pipeline_spark.operators.pii import PII_PATTERNS, mask_token

    red = "text"
    for t, p in PII_PATTERNS.items():
        red = f"regexp_replace({red}, '{p}', '{mask_token(t)}', 'g')"
    counts = ",\n         ".join(
        f"len(regexp_extract_all(text, '{p}')) AS n_{t.lower()}"
        for t, p in PII_PATTERNS.items()
    )
    return f"""
WITH d AS (
  SELECT doc_id,
         text || ' Reach user' || CAST(doc_id AS VARCHAR)
              || '@host.example.net or (646) 555-0'
              || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
              || '. Node 10.' || CAST(doc_id % 256 AS VARCHAR)
              || '.' || CAST(doc_id % 200 AS VARCHAR)
              || '.' || CAST(doc_id % 250 + 1 AS VARCHAR)
              || ' ssn ' || CAST(doc_id % 900 + 100 AS VARCHAR)
              || '-' || CAST(doc_id % 90 + 10 AS VARCHAR)
              || '-' || CAST(doc_id % 9000 + 1000 AS VARCHAR)
              || ' end.' AS text
  FROM documents
), r AS (
  SELECT doc_id,
         {counts},
         {red} AS red
  FROM d
)
SELECT doc_id, n_email_address, n_ssn, n_ip_address, n_phone_number,
       (n_email_address + n_ssn + n_ip_address + n_phone_number > 0) AS any_pii,
       sha256(red) AS redacted_hash
FROM r
"""


O_PII_REDACT = _pii_oracle()


def q_url_canonical_dup(spark, sf):
    """URL canonicalization + url-level dedup (the first pass of any
    web crawl pipeline: collapse scheme/host case, default ports,
    fragments, tracking params, and trailing slashes before content
    dedup ever runs). The documents table has no url column, so two
    raw spellings per doc are derived deterministically in-query —
    a messy one (upper-case host, :443, utm_* params, fragment) and a
    clean one — and docs sharing (source, doc_id % 40) collide on the
    same canonical path, giving real cross-doc groups. Output: one
    row per canonical url with variant/doc counts and the min-doc_id
    representative (the keep-rule).

    Scale shape: pure scalar expressions into one groupBy on the
    canonical key — a single shuffle, no UDFs; at 10^12 rows the
    canonical-url groupBy is the same shape as the content-hash
    dedup's."""
    d = _docs(spark, sf).withColumn("host", F.concat(F.lower("source"), F.lit(".example.com")))
    path = F.concat(F.lit("/p/"), (F.col("doc_id") % 40).cast("string"), F.lit("/"))
    messy = F.concat(
        F.lit("HTTPS://"), F.upper("host"), F.lit(":443"), path,
        F.lit("?utm_source=feed&id="), (F.col("doc_id") % 7).cast("string"),
        F.lit("&utm_campaign=x#sec"),
    )
    clean = F.concat(
        F.lit("https://"), F.col("host"), path,
        F.lit("?id="), (F.col("doc_id") % 7).cast("string"),
    )
    raw = d.select("doc_id", messy.alias("raw_url")).unionByName(
        d.select("doc_id", clean.alias("raw_url"))
    )
    u = F.regexp_replace(F.col("raw_url"), r"#.*$", "")
    host = F.lower(F.regexp_extract(u, r"^[a-zA-Z]+://([^/:?#]+)", 1))
    upath = F.regexp_replace(F.regexp_extract(u, r"^[a-zA-Z]+://[^/?#]+([^?#]*)", 1), r"/$", "")
    q = F.regexp_extract(u, r"\?([^#]*)", 1)
    params = F.array_sort(
        F.filter(F.split(q, "&"), lambda p: ~p.startswith("utm_") & (p != ""))
    )
    canon = F.concat(
        F.lit("https://"), host, upath,
        F.when(F.size(params) > 0, F.concat(F.lit("?"), F.concat_ws("&", params))).otherwise(F.lit("")),
    )
    return (
        raw.select("doc_id", canon.alias("canonical_url"))
        .groupBy("canonical_url")
        .agg(
            F.count("*").alias("n_urls"),
            F.countDistinct("doc_id").alias("n_docs"),
            F.min("doc_id").alias("rep_doc_id"),
        )
    )


O_URL_CANONICAL_DUP = """
WITH d AS (
  SELECT doc_id, lower(source) || '.example.com' AS host,
         '/p/' || CAST(doc_id % 40 AS VARCHAR) || '/' AS path,
         CAST(doc_id % 7 AS VARCHAR) AS idq
  FROM documents
), raw AS (
  SELECT doc_id, 'HTTPS://' || upper(host) || ':443' || path
         || '?utm_source=feed&id=' || idq || '&utm_campaign=x#sec' AS raw_url FROM d
  UNION ALL
  SELECT doc_id, 'https://' || host || path || '?id=' || idq AS raw_url FROM d
), c AS (
  SELECT doc_id,
         regexp_replace(raw_url, '#.*$', '') AS u
  FROM raw
), parts AS (
  SELECT doc_id,
         lower(regexp_extract(u, '^[a-zA-Z]+://([^/:?#]+)', 1)) AS host,
         regexp_replace(regexp_extract(u, '^[a-zA-Z]+://[^/?#]+([^?#]*)', 1), '/$', '') AS path,
         list_sort(list_filter(string_split(regexp_extract(u, '\\?([^#]*)', 1), '&'),
                               p -> NOT starts_with(p, 'utm_') AND p <> '')) AS params
  FROM c
)
SELECT 'https://' || host || path ||
         CASE WHEN len(params) > 0 THEN '?' || array_to_string(params, '&') ELSE '' END
         AS canonical_url,
       count(*) AS n_urls,
       count(DISTINCT doc_id) AS n_docs,
       min(doc_id) AS rep_doc_id
FROM parts
GROUP BY 1
"""


def q_line_dedup(spark, sf):
    """Cross-corpus line-level dedup (C4 §2.2 / CCNet paragraph rule):
    any 10-token line occurring >= 2 times corpus-wide keeps only its
    first occurrence in (doc_id, line_idx) order; every doc reports
    how many lines it lost and the hash of its cleaned text. The
    corpus has organic repeats (planted near-dup variants share
    aligned spans), so the rule fires on the raw table.

    Scale shape (operators/line_dedup.py docstring has the full
    argument): text never shuffles — the wide exchanges carry
    (xxhash64, doc_id, line_idx) longs and a per-doc removed-index
    array; the winner per line is a partial-aggregating min, not a
    window, so hot boilerplate lines cannot pin a reducer."""
    from epstein_pipeline_spark.operators.line_dedup import dedup_lines

    out = dedup_lines(_docs(spark, sf))
    return out.select(
        "doc_id",
        "n_lines",
        "n_removed",
        F.md5(F.col("cleaned_text")).alias("cleaned_hash"),
    )


O_LINE_DEDUP = f"""
WITH d AS (
  SELECT doc_id, string_split({_NORM_DUCK.format(c='text')}, ' ') AS toks
  FROM documents
), s AS (
  SELECT doc_id, toks, greatest((len(toks) + 9) // 10, 1) AS nseg FROM d
), seg AS (
  SELECT doc_id, i AS line_idx,
         array_to_string(toks[i*10+1:i*10+10], ' ') AS line
  FROM s, unnest(generate_series(0, nseg - 1)) AS u(i)
), occ AS (
  SELECT doc_id, line_idx, line,
         row_number() OVER (PARTITION BY line ORDER BY doc_id, line_idx) AS rn
  FROM seg
)
SELECT doc_id,
       count(*) AS n_lines,
       count(*) FILTER (WHERE rn > 1) AS n_removed,
       md5(coalesce(string_agg(CASE WHEN rn = 1 THEN line END, ' ' ORDER BY line_idx), '')) AS cleaned_hash
FROM occ
GROUP BY doc_id
"""


from epstein_pipeline_spark.functions.text import (  # noqa: E402 — single gate-word source
    GOPHER_STOPWORDS as _GOPHER_STOPS,
)


def q_gopher_gates(spark, sf):
    """Gopher-rule document gates (Rae et al. 2021, §A.1.1 — the
    standard pre-training quality filters): word-count bounds
    [50, 100000], mean word length [3, 10], symbol-word ratio
    (# / ellipsis) <= 0.1, >= 80% words containing an alphabetic
    character, and >= 2 distinct stopwords present. One boolean per
    gate plus the conjunction — the columns a curation pipeline
    filters and audits on.

    Scale shape: pure per-row array/scalar expressions over the scan —
    zero shuffles, whole-stage codegen end to end; mean word length is
    derived from (chars, words) counts rather than a per-token
    aggregate so no higher-order fold runs per row."""
    from epstein_pipeline_spark.functions.text import gopher_gates

    return gopher_gates(_docs(spark, sf))


O_GOPHER_GATES = f"""
WITH d AS (
  SELECT doc_id, {_NORM_DUCK.format(c='text')} AS norm FROM documents
), c AS (
  SELECT doc_id, norm, string_split(norm, ' ') AS toks,
         len(string_split(norm, ' ')) AS n_words
  FROM d
), m AS (
  SELECT doc_id, n_words,
         CAST(length(norm) - (n_words - 1) AS DOUBLE) / n_words AS mean_wl,
         CAST(len(list_filter(toks, t -> contains(t, '#') OR contains(t, '...'))) AS DOUBLE) / n_words AS sym_frac,
         CAST(len(list_filter(toks, t -> regexp_matches(t, '[a-z]'))) AS DOUBLE) / n_words AS alpha_frac,
         len(list_intersect(list_distinct(toks), {_duck_list(_GOPHER_STOPS)})) AS stop_hits
  FROM c
)
SELECT doc_id, n_words,
       round(mean_wl, 4) AS mean_word_len,
       (n_words >= 50 AND n_words <= 100000) AS pass_word_count,
       (mean_wl >= 3.0 AND mean_wl <= 10.0) AS pass_mean_word_len,
       (sym_frac <= 0.1) AS pass_symbol_ratio,
       (alpha_frac >= 0.8) AS pass_alpha_words,
       (stop_hits >= 2) AS pass_stopwords,
       ((n_words >= 50 AND n_words <= 100000) AND (mean_wl >= 3.0 AND mean_wl <= 10.0)
        AND (sym_frac <= 0.1) AND (alpha_frac >= 0.8) AND (stop_hits >= 2)) AS pass_all
FROM m
"""


def q_corpus_mix(spark, sf):
    """Deterministic corpus mixing to per-source token budgets (the
    Dolma/RedPajama data-mixing step: fill each source's share of the
    training mix with a reproducible pseudo-random document order).
    Docs are ordered within source by xxhash64(doc_id) — stable across
    runs and cluster layouts, no RNG — and taken while the running
    token count stays inside the source's budget (here 600 tokens per
    source, derived in-query; a real run passes a budgets table).
    Output: the selected docs with their position and cumulative
    token count.

    Scale shape: one shuffle on source + an in-partition sort for the
    window. This exact form is the AUDIT query; at 10^12 docs with hot
    sources, replace the global per-source sort with hash-threshold
    selection (keep docs with hash < t, binary-search t over an
    approx-quantile of per-doc token counts) — same determinism, no
    sort; the window form stays correct for per-source audits where
    one source fits a partition. xxhash64 seeds differ from DuckDB's
    hash, so the order key is md5(doc_id) here — bit-identical in both
    engines (the determinism, not the hash brand, is the contract)."""
    d = _docs(spark, sf).select(
        "doc_id",
        "source",
        F.size(F.split(_norm("text"), " ")).cast("long").alias("n_tokens"),
        F.md5(F.col("doc_id").cast("string")).alias("ord_key"),
    )
    w = (
        Window.partitionBy("source")
        .orderBy("ord_key", "doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    ranked = d.withColumn("cum_tokens", F.sum("n_tokens").over(w)).withColumn(
        "pos", F.count(F.lit(1)).over(w).cast("long")
    )
    return ranked.filter(F.col("cum_tokens") <= 600).select(
        "doc_id", "source", "n_tokens", "pos", "cum_tokens"
    )


O_CORPUS_MIX = f"""
WITH d AS (
  SELECT doc_id, source,
         len(string_split({_NORM_DUCK.format(c='text')}, ' ')) AS n_tokens,
         md5(CAST(doc_id AS VARCHAR)) AS ord_key
  FROM documents
), r AS (
  SELECT doc_id, source, n_tokens,
         CAST(sum(n_tokens) OVER (PARTITION BY source ORDER BY ord_key, doc_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens,
         count(*) OVER (PARTITION BY source ORDER BY ord_key, doc_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pos
  FROM d
)
SELECT doc_id, source, n_tokens, pos, cum_tokens
FROM r WHERE cum_tokens <= 600
"""


def q_unigram_freq_scores(spark, sf):
    """Corpus-statistics quality score (the CCNet perplexity-filter
    stand-in without an external LM): score each doc by how typical
    its tokens are under the corpus's own unigram distribution. A doc
    of common words scores high; OCR noise / gibberish scores low.
    Outputs stay INTEGER-exact (sum of global token counts + token
    count) with one final long/long division, so the cross-engine hash
    can't drift through float summation order or libm log ulps.

    Scale shape: token counts are a partial-aggregating groupBy (Zipf
    skew combines map-side); the count table joins back token->count —
    broadcast at real vocabulary sizes (10^6 rows), AQE-skew-split on
    the shuffled fallback; per-doc rollup is one groupBy on doc_id
    carrying two longs."""
    toks = _docs(spark, sf).select(
        "doc_id", F.explode(F.split(_norm("text"), " ")).alias("tok")
    )
    counts = toks.groupBy("tok").agg(F.count("*").alias("c"))
    total = counts.agg(F.sum("c").alias("total"))
    per_doc = (
        # no forced broadcast: AQE broadcasts the count table from real
        # size stats while the vocabulary fits and falls back to the
        # (skew-splittable) shuffled join when it doesn't — the gate
        # behavior the other operators implement by hand
        toks.join(counts, "tok")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_tokens"), F.sum("c").alias("sum_tok_count"))
    )
    return per_doc.crossJoin(F.broadcast(total)).select(
        "doc_id",
        "n_tokens",
        "sum_tok_count",
        F.round(
            F.col("sum_tok_count").cast("double")
            / (F.col("n_tokens") * F.col("total")).cast("double"),
            12,
        ).alias("mean_tok_freq"),
    )


O_UNIGRAM_FREQ = f"""
WITH t AS (
  SELECT doc_id, unnest(string_split({_NORM_DUCK.format(c='text')}, ' ')) AS tok
  FROM documents
), c AS (
  SELECT tok, count(*) AS c FROM t GROUP BY tok
), tot AS (
  SELECT CAST(sum(c) AS BIGINT) AS total FROM c
), p AS (
  SELECT doc_id, count(*) AS n_tokens, CAST(sum(c) AS BIGINT) AS sum_tok_count
  FROM t JOIN c USING (tok)
  GROUP BY doc_id
)
SELECT doc_id, n_tokens, sum_tok_count,
       round(CAST(sum_tok_count AS DOUBLE) / CAST(n_tokens * total AS DOUBLE), 12) AS mean_tok_freq
FROM p, tot
"""


QUERIES = {
    "norm_hash": q_norm_hash,
    "ocr_chain_select": q_ocr_chain_select,
    "bates_overlap": q_bates_overlap,
    "title_fuzzy": q_title_fuzzy,
    "event_cooccurrence": q_event_cooccurrence,
    "duplicate_ids": q_duplicate_ids,
    "keyword_search": q_keyword_search,
    "rhp_cosine_pairs": q_rhp_cosine_pairs,
    "chunk_documents": q_chunk_documents,
    "exact_dup_pairs": q_exact_dup_pairs,
    "stats_by_source": q_stats_by_source,
    "token_stats": q_token_stats,
    "lang_id": q_lang_id,
    "quality_scores": q_quality_scores,
    "fingerprints": q_fingerprints,
    "word_jaccard_pairs": q_word_jaccard_pairs,
    "word_jaccard_prefix_pairs": q_word_jaccard_prefix_pairs,
    "cc_chain": q_cc_chain,
    "q1_pricing_summary": q1_pricing_summary,
    "q3_top_orders": q3_top_orders,
    "q5_nation_revenue": q5_nation_revenue,
    "top_parts_per_brand": q_top_parts_per_brand,
    "customer_fuzzy_pairs": q_customer_fuzzy_pairs,
    "orders_anti_join": q_orders_anti_join,
    "timeline_search": q_timeline_search,
    "event_rollup": q_event_rollup,
    "user_sessions": q_user_sessions,
    "running_value": q_running_value,
    "semantic_topk": q_semantic_topk,
    "cosine_pairs": q_cosine_pairs,
    "minhash_dedup_planted": q_minhash_dedup_planted,
    "simhash_dedup_planted": q_simhash_dedup_planted,
    "dedup_clusters_planted": q_dedup_clusters_planted,
    "entity_extract": q_entity_extract,
    "entity_resolution": q_entity_resolution,
    "em_gamma_patterns": q_em_gamma_patterns,
    "temporal_dedup": q_temporal_dedup,
    "exact_cc_clusters_planted": q_exact_cc_clusters_planted,
    "ivf_topk": q_ivf_topk,
    "decontaminate": q_decontaminate,
    "repetition_scores": q_repetition_scores,
    "url_canonical_dup": q_url_canonical_dup,
    "dup_span_stats": q_dup_span_stats,
    "pii_redact": q_pii_redact,
    "line_dedup": q_line_dedup,
    "gopher_gates": q_gopher_gates,
    "corpus_mix": q_corpus_mix,
    "unigram_freq_scores": q_unigram_freq_scores,
}

ORACLES = {
    "norm_hash": O_NORM_HASH,
    "ocr_chain_select": O_OCR_CHAIN,
    "bates_overlap": O_BATES_OVERLAP,
    "title_fuzzy": O_TITLE_FUZZY,
    "event_cooccurrence": O_EVENT_COOCCURRENCE,
    "duplicate_ids": O_DUPLICATE_IDS,
    "keyword_search": O_KEYWORD_SEARCH,
    # rhp_cosine_pairs: approximate LSH candidate set — rows-only
    "exact_dup_pairs": O_EXACT_DUP_PAIRS,
    "stats_by_source": O_STATS_BY_SOURCE,
    "token_stats": O_TOKEN_STATS,
    "lang_id": O_LANG_ID,
    "quality_scores": O_QUALITY_SCORES,
    "fingerprints": O_FINGERPRINTS,
    "word_jaccard_pairs": O_WORD_JACCARD_PAIRS,
    # the prefix-filtered variant must produce the IDENTICAL result
    # set — same quadratic oracle pins it (that equality is the
    # lossless-filter claim under test)
    "word_jaccard_prefix_pairs": O_WORD_JACCARD_PAIRS,
    "cc_chain": O_CC_CHAIN,
    "q1_pricing_summary": O_Q1,
    "q3_top_orders": O_Q3,
    "q5_nation_revenue": O_Q5,
    "top_parts_per_brand": O_TOP_PARTS,
    "customer_fuzzy_pairs": O_CUSTOMER_FUZZY,
    "orders_anti_join": O_ORDERS_ANTI,
    "timeline_search": O_TIMELINE,
    "event_rollup": O_EVENT_ROLLUP,
    "user_sessions": O_USER_SESSIONS,
    "running_value": O_RUNNING_VALUE,
    "semantic_topk": O_SEMANTIC_TOPK,
    "cosine_pairs": O_COSINE_PAIRS,
    "entity_extract": O_ENTITY_EXTRACT,
    "entity_resolution": O_ENTITY_RESOLUTION,
    "em_gamma_patterns": O_EM_GAMMA_PATTERNS,
    "temporal_dedup": O_TEMPORAL_DEDUP,
    "exact_cc_clusters_planted": O_EXACT_CC_CLUSTERS,
    "ivf_topk": O_SEMANTIC_TOPK,
    "chunk_documents": O_CHUNK_DOCUMENTS,
    "decontaminate": O_DECONTAMINATE,
    "repetition_scores": O_REPETITION_SCORES,
    "url_canonical_dup": O_URL_CANONICAL_DUP,
    "dup_span_stats": O_DUP_SPAN_STATS,
    "pii_redact": O_PII_REDACT,
    "line_dedup": O_LINE_DEDUP,
    "gopher_gates": O_GOPHER_GATES,
    "corpus_mix": O_CORPUS_MIX,
    "unigram_freq_scores": O_UNIGRAM_FREQ,
    # minhash/simhash/dedup_clusters_planted: pandas-UDF signatures and
    # an iterative CC loop — not SQL-expressible; rows-only checks
}
