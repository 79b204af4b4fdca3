"""Driver contract (PySpark target).

``entry(spark)`` runs the flagship extraction over sf0.001;
``queries()`` exposes every implemented operator from SURVEY.md §2 plus
the training-data-pipeline operators (dedup / similarity / text
analysis), each entry running the package operator itself;
``oracle_sql()`` gives an independent DuckDB-dialect equivalent for
every query. Only the TPC-H/events queries, ``embedding_centroids`` and
``eval_text_metrics`` (no package counterpart) are Spark SQL strings.

Column names are kept identical between each query and its DuckDB twin;
double aggregates are rounded on both sides so value-hashes match
despite float summation-order differences.
"""

from __future__ import annotations

from collections.abc import Callable
from functools import partial

from pyspark.sql import DataFrame, SparkSession, functions as F

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings".split()
)


#: marker conf key: registering the 10 driver views costs ~0.8 s per
#: call (10 parquet schema inferences + py4j round trips), and every
#: _sql query used to pay it on every invocation. The views are a pure
#: function of sf_dir, so register once per (session, sf_dir); a
#: different sf_dir on the same session re-registers (the marker holds
#: the LAST registered dir, which is the only staleness that matters).
_REGISTER_MARKER = "spark.jochre3.registered_sf_dir"


def _register(spark: SparkSession, sf_dir: str) -> None:
    try:
        if spark.conf.get(_REGISTER_MARKER, None) == sf_dir:
            return
    except Exception:  # noqa: BLE001 — conf probe only
        pass
    for t in TABLES:
        spark.read.parquet(f"{sf_dir}/{t}.parquet").createOrReplaceTempView(t)
    spark.conf.set(_REGISTER_MARKER, sf_dir)


def _sql(statement: str):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        _register(spark, sf_dir)
        stmt = statement
        if "/*+ REBALANCE */" in stmt:
            from jochre3_ocr_spark.plans.pipeline import _spread_count

            # eval_text_metrics marks its row-cost-bound levenshtein
            # projection with REBALANCE, which AQE folds back to ONE
            # partition; the explicit count is exempt (sf0.1, 4 CPUs,
            # min of 3: 2.4-2.6 s against 4.6-5.5 s without it)
            stmt = stmt.replace(
                "/*+ REBALANCE */",
                f"/*+ REPARTITION({_spread_count(spark)}) */",
            )
        return spark.sql(stmt)

    return run


def _on(table: str, op: Callable[[DataFrame], DataFrame]):
    """A ``queries()`` entry that runs package operator ``op`` over the
    cached ``table`` view."""
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        _register(spark, sf_dir)
        return op(spark.table(table))

    return run


# --------------------------------------------------------------------------
# Extraction-engine queries (the flagship): the full Jochre3-equivalent
# pipeline over the documents table. For the clean [a-z ] driver corpus the
# engine's output is independently derivable in SQL, so these get oracles.
# --------------------------------------------------------------------------
def _extract_processed_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jochre3_ocr_spark.plans.pipeline import extract_text_df
    from jochre3_ocr_spark.sources.corpus import lexicon_words

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = extract_text_df(docs, lexicon_words())
    return out.selectExpr("doc_id", "processed_text")


def _extract_span_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jochre3_ocr_spark.plans.pipeline import extract_text_df
    from jochre3_ocr_spark.sources.corpus import lexicon_words

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = extract_text_df(docs, lexicon_words())
    return out.selectExpr("doc_id", "n_spans", "n_words")


# 16 "inert" Hebrew consonants: outside every simplify digraph/rewrite
# class (no ו/י/א, no ה/ע/פ to_yivo edit letters, no final forms), so
# translate()-ing the driver's [a-z ] corpus through them yields genuine
# Yiddish-script text whose full-pipeline output is INDEPENDENTLY
# derivable in SQL — the technique that upgrades the Yiddish-path
# queries from rows-only to oracle-checked. ב/ד/ח are deliberately kept:
# they are keys of the deterministic glyph-confusion table, making the
# beam variant's search non-trivial while 1-char→1-char substitutions
# keep every length/count column invariant.
_YID_ALEPH = "בגדזחטכלמנסצקרשת"
_FROM26 = "abcdefghijklmnopqrstuvwxyz"
_TO26 = (_YID_ALEPH * 2)[:26]


def _yiddish_docs(spark: SparkSession, sf_dir: str):
    from pyspark.sql import functions as SF

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    # NO spread here: every consumer (extract_text_df, ocr_documents,
    # the giant branch's salt shuffle) spreads at its own Python stage,
    # and an outer Repartition makes each branch's construction-time
    # checkpoint/probe re-execute a full-corpus shuffle stage under AQE
    return docs.select(
        SF.col("doc_id").cast("string").alias("doc_id"),
        SF.translate("text", _FROM26, _TO26).alias("text"),
    )


def _extract_yiddish_beam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extraction with the confusion glyph classifier over the
    Yiddish-translated driver corpus: non-trivial beams + lexicon
    rescoring. Confusions are 1-char→1-char (guesser.CONFUSION_TABLE),
    so n_words/n_spans/char counts are beam-invariant and SQL-derivable;
    the beam ARGMAX itself is pinned by
    tests/test_pipeline_spark.py (confusion vectors)."""
    from jochre3_ocr_spark.plans.pipeline import extract_text_df
    from jochre3_ocr_spark.schema import PipelineConfig
    from jochre3_ocr_spark.sources.corpus import lexicon_words

    out = extract_text_df(
        _yiddish_docs(spark, sf_dir),
        lexicon_words(),
        config=PipelineConfig(glyph_confusions=True),
    )
    return out.selectExpr(
        "doc_id", "n_spans", "n_words", "status",
        "length(processed_text) AS n_chars",
    )


def _extract_yiddish_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full Yiddish pipeline over the translated driver corpus, through
    the SALTED skew path (giant_threshold=600 routes the top ~7% of docs
    down the chunk-split → repartition → reassemble branch): beam + ALTO
    rules + reassembly, oracle-checked down to the exact processed text.
    The hyphenation/number/punctuation rules (inert on this corpus) are
    pinned by tests/test_rules.py and tests/test_pipeline_spark.py."""
    import pandas as pd

    from jochre3_ocr_spark.plans.pipeline import (
        extract_text_df,
        extract_with_salting,
        text_to_spans,
    )
    from jochre3_ocr_spark.sources.corpus import lexicon_words

    def to_spans(batches):
        from jochre3_ocr_spark.plans.pipeline import _tuples_to_json

        for b in batches:
            rows = []
            for doc_id, text in zip(b["doc_id"], b["text"]):
                spans = text_to_spans(text)
                rows.append(
                    {
                        "doc_id": doc_id,
                        "spans_json": _tuples_to_json(spans),
                        "n_in_spans": len(spans),
                    }
                )
            yield pd.DataFrame(
                rows, columns=["doc_id", "spans_json", "n_in_spans"]
            )

    # Pre-branch JVM-side: the span count is a closed form of the text
    # (1 block + lines + words + spaces + glyphs = 1 + 2W + G), so the
    # normal/giant split happens in whole-stage codegen BEFORE the
    # Python span builder — the builder runs ONCE per row instead of
    # once per branch (extract_with_salting's two-scan shape is priced
    # for re-scanning parquet, not recomputing a Python stage).
    docs = _yiddish_docs(spark, sf_dir).withColumn(
        "n_est",
        F.expr(
            "1 + 2 * size(filter(split(text, ' '), x -> x != '')) "
            "+ length(replace(text, ' ', ''))"
        ),
    )
    builder_schema = "doc_id string, spans_json string, n_in_spans int"
    # Normal branch: builder and kernel FUSED in one mapInPandas
    # (extract_text_df runs text_to_spans → process_document in a single
    # Python crossing) — the staged builder → JSON → kernel shape paid a
    # second JVM↔Python round trip for ~93% of the corpus for no reason
    # (the spans never touch the JVM between the two stages). The giant
    # branch keeps the staged shape: the chunk splitter needs the span
    # table to exist BEFORE the salt shuffle.
    normal = extract_text_df(
        docs.filter("n_est <= 600").select("doc_id", "text"),
        lexicon_words(),
    )
    # NOT spread: the giant subset's builder runs on the scan's few
    # splits, but at compact (toy) scale that work is trivial and an
    # explicit spread measured a 2.09 -> 2.39 s regression on the full
    # query (construction-time shuffle materialization under the
    # branch checkpoint), while at production split counts
    # _spread_small_input is a no-op anyway — the pinning regime and
    # the firing regime never overlap (round-6 review adjudication).
    giant = (
        docs.filter("n_est > 600")
        .mapInPandas(to_spans, schema=builder_schema)
    )
    # extract_with_salting re-splits on the real span count: n_est =
    # 1+2W+G OVERCOUNTS the builder's actual span count (1+2W —
    # text_to_spans emits no glyph spans), so docs with n_est > 600 but
    # n_in_spans <= 600 exist and must take the inner whole-doc kernel
    # branch, not the chunk path — the single-chunk reassemble
    # recomputes mean_confidence as (m·n)/n, which is not always == m
    # in IEEE float (round-6 self-review finding)
    out = normal.unionByName(
        extract_with_salting(giant, lexicon_words(), giant_threshold=600)
    )
    return out.selectExpr(
        "doc_id", "n_spans", "n_words", "status", "processed_text",
        "round(mean_confidence, 4) AS mean_conf",
    )


# oracle for span stats: n_spans = 1 block + lines + words + glyphs + spaces
#   lines = ceil(W/12); spaces = W - lines; glyphs = total chars
#   → n_spans = 1 + ceil(W/12) + W + (W - ceil(W/12)) + G = 1 + 2W + G
_ORACLE_SPAN_STATS = """
WITH toks AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id,
         list_filter(string_split(text, ' '), x -> x <> '') AS t
  FROM documents
)
SELECT doc_id,
       CAST(1 + 2 * len(t) + list_sum(list_transform(t, x -> length(x)))
            AS INTEGER) AS n_spans,
       CAST(len(t) AS INTEGER) AS n_words
FROM toks
"""

_ORACLE_PROCESSED_TEXT = """
SELECT CAST(doc_id AS VARCHAR) AS doc_id,
       array_to_string(list_filter(string_split(text, ' '), x -> x <> ''), ' ')
         AS processed_text
FROM documents
"""

# Yiddish-path oracles: same invariants, over translate()-mapped text.
# mean_conf is the engine's unknown-word lexicon rescoring factor 0.5
# (FullSegmentationGuesser.scala unknownWordFactor) — constant because
# every mapped word is outside the Yiddish lexicon (the 16-letter
# alphabet excludes every vowel letter the lexicon's entries contain).
_ORACLE_YIDDISH_CORPUS = f"""
WITH toks AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id,
         list_filter(string_split(translate(text, '{_FROM26}', '{_TO26}'), ' '),
                     x -> x <> '') AS t
  FROM documents
)
SELECT doc_id,
       CAST(1 + 2 * len(t) + list_sum(list_transform(t, x -> length(x)))
            AS INTEGER) AS n_spans,
       CAST(len(t) AS INTEGER) AS n_words,
       'ok' AS status,
       array_to_string(t, ' ') AS processed_text,
       CAST(0.5 AS DOUBLE) AS mean_conf
FROM toks
"""

_ORACLE_YIDDISH_BEAM = f"""
WITH toks AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id,
         list_filter(string_split(translate(text, '{_FROM26}', '{_TO26}'), ' '),
                     x -> x <> '') AS t
  FROM documents
)
SELECT doc_id,
       CAST(1 + 2 * len(t) + list_sum(list_transform(t, x -> length(x)))
            AS INTEGER) AS n_spans,
       CAST(len(t) AS INTEGER) AS n_words,
       'ok' AS status,
       CAST(len(t) - 1 + list_sum(list_transform(t, x -> length(x)))
            AS INTEGER) AS n_chars
FROM toks
"""

# vision-path oracle: ocr_documents lays words out 4/line, 3 lines/block
# (12 words per block), blocks joined with "\\n" in processedContent
# (TextBlock.scala:94-124, Page.scala:156-166); n_spans counts
# block+line+word+space+glyph nodes = blocks + 2W + G.
_ORACLE_OCR_E2E = f"""
WITH toks AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id,
         list_filter(string_split(translate(text, '{_FROM26}', '{_TO26}'), ' '),
                     x -> x <> '') AS t
  FROM documents WHERE doc_id < 120
)
SELECT doc_id,
       CAST(ceil(ceil(len(t) / 4.0) / 3.0) + 2 * len(t)
            + list_sum(list_transform(t, x -> length(x))) AS INTEGER) AS n_spans,
       CAST(len(t) AS INTEGER) AS n_words,
       'ok' AS status,
       array_to_string(
         list_transform(range(1, CAST(ceil(len(t) / 12.0) AS BIGINT) + 1),
                        g -> array_to_string(t[(g-1)*12+1 : g*12], ' ')),
         chr(10)) AS processed_text
FROM toks
"""

# --------------------------------------------------------------------------
# Relational operator coverage (scan/filter/agg/join/window/sort/setop) —
# the same SQL runs on both engines unless noted.
# --------------------------------------------------------------------------
_Q1 = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2)                                   AS sum_qty,
       round(sum(l_extendedprice), 2)                              AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2)           AS sum_disc_price,
       round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
       round(avg(l_quantity), 3)                                   AS avg_qty,
       round(avg(l_extendedprice), 3)                              AS avg_price,
       round(avg(l_discount), 3)                                   AS avg_disc,
       count(*)                                                    AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1999-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""

_Q3_SPARK = """
SELECT o_orderkey,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       date_format(o_orderdate, 'yyyy-MM-dd')            AS orderdate
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
  AND l_shipdate  > TIMESTAMP '1998-03-15 00:00:00'
GROUP BY o_orderkey, o_orderdate
ORDER BY revenue DESC, o_orderkey
LIMIT 10
"""
_Q3_DUCK = _Q3_SPARK.replace(
    "date_format(o_orderdate, 'yyyy-MM-dd')", "strftime(o_orderdate, '%Y-%m-%d')"
)

_Q5 = """
SELECT n_name,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
GROUP BY n_name
ORDER BY revenue DESC, n_name
"""

_Q_WINDOW = """
SELECT l_suppkey, l_orderkey, l_linenumber, l_extendedprice
FROM (
  SELECT l_suppkey, l_orderkey, l_linenumber, l_extendedprice,
         row_number() OVER (
           PARTITION BY l_suppkey
           ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
         ) AS rn
  FROM lineitem
) t
WHERE rn <= 3
"""

_Q_SEMI_ANTI = """
SELECT c_custkey, c_name
FROM customer
WHERE c_custkey IN (SELECT o_custkey FROM orders)
  AND c_custkey NOT IN (
        SELECT o_custkey FROM orders WHERE o_totalprice > 300000
      )
ORDER BY c_custkey
"""

_Q_EVENTS_SPARK = """
SELECT event_type,
       date_format(date_trunc('hour', ts), 'yyyy-MM-dd HH:mm:ss') AS hour,
       count(*)             AS n_events,
       round(sum(value), 2) AS total_value
FROM events
GROUP BY event_type, date_trunc('hour', ts)
"""
_Q_EVENTS_DUCK = _Q_EVENTS_SPARK.replace(
    "date_format(date_trunc('hour', ts), 'yyyy-MM-dd HH:mm:ss')",
    "strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S')",
)

# --------------------------------------------------------------------------
# Training-data pipeline operators over documents / embeddings
# --------------------------------------------------------------------------
_Q_DEDUP_EXACT_DUCK = """
SELECT prefix_hash,
       count(*)                      AS n_docs,
       min(CAST(doc_id AS VARCHAR))  AS keeper
FROM (SELECT doc_id, md5(substr(text, 1, 40)) AS prefix_hash FROM documents) t
GROUP BY prefix_hash
HAVING count(*) >= 2
"""

_Q_NGRAM_JACCARD_DUCK = """
WITH toks AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id,
         list_filter(string_split(text, ' '), x -> x <> '') AS t
  FROM documents
),
sh AS (
  SELECT doc_id,
         unnest(list_distinct(
           list_transform(range(1, len(t) - 1),
                          i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
         )) AS shingle
  FROM toks
  WHERE len(t) >= 3
),
counts AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
-- doc-frequency cap: stop-phrase shingles are quadratic hot keys at scale
rare AS (SELECT shingle FROM sh GROUP BY shingle HAVING count(*) <= 50),
pairs AS (
  SELECT a.doc_id AS doc1, b.doc_id AS doc2, count(*) AS common
  FROM sh a
  JOIN rare r ON a.shingle = r.shingle
  JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT p.doc1, p.doc2, p.common,
       round(p.common / (ca.n + cb.n - p.common), 4) AS jaccard
FROM pairs p
JOIN counts ca ON p.doc1 = ca.doc_id
JOIN counts cb ON p.doc2 = cb.doc_id
WHERE p.common >= 3
"""

_Q_MINHASH_DUCK = """
WITH toks AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id,
         list_filter(string_split(text, ' '), x -> x <> '') AS t
  FROM documents
),
sh AS (
  SELECT doc_id,
         unnest(list_distinct(
           list_transform(range(1, len(t) - 1),
                          i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
         )) AS shingle
  FROM toks
  WHERE len(t) >= 3
),
mh AS (
  SELECT doc_id, s, min(md5(CAST(s AS VARCHAR) || ':' || shingle)) AS mh
  FROM sh CROSS JOIN range(0, 8) r(s)
  GROUP BY doc_id, s
)
SELECT doc_id, md5(string_agg(mh, ',' ORDER BY s)) AS signature
FROM mh
GROUP BY doc_id
"""

# dedup.simhash_neardup_pairs(max_hamming=1, bits=64, n_bands=4,
# max_bucket=3): 4×16-bit bands aggregated from the per-bit votes (never
# by shifting the signed signature), capped buckets in their join form —
# all pairs among a bucket's first 3 docs, and every tail doc paired with
# each of those 3 heads — then the bit_count(xor) verify.
_Q_SIMHASH_ND_DUCK = """
WITH toks AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id,
         unnest(list_distinct(list_filter(string_split(text, ' '),
                                          x -> x <> ''))) AS token
  FROM documents
),
bits AS (
  SELECT doc_id, b,
         CASE WHEN sum(CASE WHEN b < 32 AND substr(md5(token), b % 32 + 1, 1)
                                 IN ('8','9','a','b','c','d','e','f') THEN 1
                            WHEN b >= 32 AND substr(md5(token), b % 32 + 1, 1)
                                 IN ('4','5','6','7','c','d','e','f') THEN 1
                            ELSE -1 END) >= 0
              THEN 1 ELSE 0 END AS bit
  FROM toks CROSS JOIN range(0, 64) r(b)
  GROUP BY doc_id, b
),
sigs AS (
  SELECT doc_id,
         CAST(sum(CASE WHEN b = 63 AND bit = 1
                       THEN CAST(-9223372036854775807 AS BIGINT) - 1
                       ELSE bit * CAST(pow(2, least(b, 62)) AS BIGINT) END)
              AS BIGINT) AS simhash
  FROM bits GROUP BY doc_id
),
bands AS (
  SELECT doc_id, CAST(floor(b / 16) AS INT) AS band,
         CAST(sum(bit * CAST(pow(2, b % 16) AS BIGINT)) AS BIGINT) AS band_val
  FROM bits GROUP BY doc_id, CAST(floor(b / 16) AS INT)
),
ranked AS (
  SELECT n.doc_id, n.band, n.band_val, g.simhash,
         row_number() OVER (PARTITION BY n.band, n.band_val
                            ORDER BY n.doc_id) AS rk
  FROM bands n JOIN sigs g ON n.doc_id = g.doc_id
),
cand AS (
  SELECT DISTINCT doc1, doc2, s1, s2 FROM (
    SELECT a.doc_id AS doc1, b.doc_id AS doc2,
           a.simhash AS s1, b.simhash AS s2
    FROM ranked a JOIN ranked b
      ON a.band = b.band AND a.band_val = b.band_val
     AND a.doc_id < b.doc_id
    WHERE a.rk <= 3 AND b.rk <= 3
    UNION ALL
    SELECT a.doc_id AS doc1, t.doc_id AS doc2,
           a.simhash AS s1, t.simhash AS s2
    FROM ranked a JOIN ranked t
      ON a.band = t.band AND a.band_val = t.band_val
    WHERE a.rk <= 3 AND t.rk > 3
  )
)
SELECT doc1, doc2, CAST(bit_count(xor(s1, s2)) AS INT) AS hamming
FROM cand WHERE bit_count(xor(s1, s2)) <= 1
"""

# dedup.minhash_lsh_candidates(max_bucket=3): 8 min-hashes in 4 bands of
# 2, docs sharing any band hash become candidate pairs; buckets over the
# cap emit all pairs among their first 3 docs plus one star-link pair per
# tail doc to the bucket minimum (the cap is exercised at driver SF).
_Q_LSH_DUCK = """
WITH toks AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id,
         list_filter(string_split(text, ' '), x -> x <> '') AS t
  FROM documents
),
sh AS (
  SELECT doc_id,
         unnest(list_distinct(
           list_transform(range(1, len(t) - 1),
                          i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
         )) AS shingle
  FROM toks
  WHERE len(t) >= 3
),
mh AS (
  SELECT doc_id, s, min(md5(CAST(s AS VARCHAR) || ':' || shingle)) AS mh
  FROM sh CROSS JOIN range(0, 8) r(s)
  GROUP BY doc_id, s
),
bands AS (
  SELECT doc_id, CAST(s // 2 AS INT) AS band,
         md5(string_agg(mh, ',' ORDER BY s)) AS band_hash
  FROM mh
  GROUP BY doc_id, CAST(s // 2 AS INT)
),
ranked AS (
  SELECT doc_id, band, band_hash,
         row_number() OVER (PARTITION BY band, band_hash ORDER BY doc_id)
           AS rk
  FROM bands
)
SELECT DISTINCT doc1, doc2 FROM (
  SELECT a.doc_id AS doc1, b.doc_id AS doc2
  FROM ranked a JOIN ranked b
    ON a.band = b.band AND a.band_hash = b.band_hash
   AND a.doc_id < b.doc_id
  WHERE a.rk <= 3 AND b.rk <= 3
  UNION ALL
  SELECT a.doc_id AS doc1, t.doc_id AS doc2
  FROM ranked a JOIN ranked t
    ON a.band = t.band AND a.band_hash = t.band_hash
  WHERE a.rk = 1 AND t.rk > 3
)
"""

# dedup.simhash: 64-bit fingerprint (Manku et al., WWW'07) replayed as a
# per-bit CTE — bit b's per-token vote is md5 hex digit b%32, its high
# bit (>=8) for b<32 and its second bit (&4) for b>=32; bit 63 is
# assembled as -2^63 (two's complement). The operator aggregates 64 wide
# votes per doc instead, so the two formulations check each other.
_Q_SIMHASH_DUCK = """
WITH toks AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id,
         unnest(list_distinct(list_filter(string_split(text, ' '),
                                          x -> x <> ''))) AS token
  FROM documents
),
bits AS (
  SELECT doc_id, b,
         CASE WHEN sum(CASE WHEN b < 32 AND substr(md5(token), b % 32 + 1, 1)
                                 IN ('8','9','a','b','c','d','e','f') THEN 1
                            WHEN b >= 32 AND substr(md5(token), b % 32 + 1, 1)
                                 IN ('4','5','6','7','c','d','e','f') THEN 1
                            ELSE -1 END) >= 0
              THEN 1 ELSE 0 END AS bit
  FROM toks CROSS JOIN range(0, 64) r(b)
  GROUP BY doc_id, b
)
SELECT doc_id,
       CAST(sum(CASE WHEN b = 63 AND bit = 1
                     THEN CAST(-9223372036854775807 AS BIGINT) - 1
                     ELSE bit * CAST(pow(2, least(b, 62)) AS BIGINT) END)
            AS BIGINT) AS simhash
FROM bits
GROUP BY doc_id
"""

_Q_ANN_DUCK = """
WITH q AS (
  SELECT vec_id AS qid,
         generate_subscripts(embedding, 1) AS pos,
         CAST(unnest(embedding) AS DOUBLE) AS v
  FROM embeddings WHERE vec_id < 5
),
c AS (
  SELECT vec_id AS cid,
         generate_subscripts(embedding, 1) AS pos,
         CAST(unnest(embedding) AS DOUBLE) AS v
  FROM embeddings
),
dots AS (
  SELECT q.qid, c.cid,
         sum(q.v * c.v) AS dot,
         sqrt(sum(q.v * q.v)) AS nq,
         sqrt(sum(c.v * c.v)) AS nc
  FROM q JOIN c ON q.pos = c.pos
  GROUP BY q.qid, c.cid
)
SELECT qid, cid, rank FROM (
  SELECT qid, cid,
         row_number() OVER (
           PARTITION BY qid ORDER BY dot / (nq * nc) DESC, cid
         ) AS rank
  FROM dots WHERE qid <> cid
) t WHERE rank <= 5
"""

_Q_CENTROIDS_SPARK = """
SELECT label, pos + 1 AS dim, round(avg(CAST(val AS DOUBLE)), 4) + 0.0 AS centroid
FROM embeddings LATERAL VIEW posexplode(embedding) x AS pos, val
GROUP BY label, pos
"""
_Q_CENTROIDS_DUCK = """
WITH e AS (
  SELECT label,
         generate_subscripts(embedding, 1) AS dim,
         CAST(unnest(embedding) AS DOUBLE) AS v
  FROM embeddings
)
SELECT label, CAST(dim AS INTEGER) AS dim, round(avg(v), 4) + 0.0 AS centroid
FROM e GROUP BY label, dim
"""

_Q_QUALITY_DUCK = """
WITH toks AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id, lang, text,
         list_filter(string_split(text, ' '), x -> x <> '') AS t
  FROM documents
)
SELECT doc_id, lang,
       CAST(len(t) AS INTEGER) AS n_tokens,
       round(length(replace(text, ' ', '')) / len(t), 4) AS avg_token_len,
       round(len(list_filter(t, x -> x IN ('the', 'a'))) / len(t), 4)
         AS stopword_ratio,
       round(len(list_distinct(t)) / len(t), 4) AS distinct_ratio
FROM toks
"""

_Q_FINGERPRINT_DUCK = """
SELECT CAST(doc_id AS VARCHAR) AS doc_id,
       md5(text) AS exact_fp,
       md5(array_to_string(list_sort(list_distinct(
           list_filter(string_split(text, ' '), x -> x <> ''))), ' ')) AS bag_fp
FROM documents
"""

_Q_TOKEN_STATS = """
SELECT source,
       count(*)            AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars,
       round(avg(n_chars), 3) AS avg_chars
FROM documents
GROUP BY source
"""


_Q6 = """
SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue,
       count(*) AS n_rows
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
"""

_Q_SETOPS = """
SELECT c_custkey, 'both' AS tag FROM (
  SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
  INTERSECT
  SELECT o_custkey AS c_custkey FROM orders WHERE o_totalprice > 100000
)
UNION ALL
SELECT c_custkey, 'building_only' AS tag FROM (
  SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
  EXCEPT
  SELECT o_custkey AS c_custkey FROM orders
)
"""

_Q_GROUPING_SETS = """
SELECT l_returnflag, l_linestatus, count(*) AS n,
       round(sum(l_quantity), 2) AS sum_qty
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
"""

_Q_PERCENTILES_SPARK = """
SELECT l_returnflag,
       round(percentile(l_quantity, 0.5), 2) AS p50,
       round(percentile(l_quantity, 0.9), 2) AS p90,
       round(percentile(l_extendedprice, 0.99), 2) AS price_p99
FROM lineitem
GROUP BY l_returnflag
"""
_Q_PERCENTILES_DUCK = """
SELECT l_returnflag,
       round(quantile_cont(l_quantity, 0.5), 2) AS p50,
       round(quantile_cont(l_quantity, 0.9), 2) AS p90,
       round(quantile_cont(l_extendedprice, 0.99), 2) AS price_p99
FROM lineitem
GROUP BY l_returnflag
"""

_Q_ROLLUP = """
SELECT l_returnflag, l_linestatus,
       count(*) AS n,
       round(sum(l_quantity), 2) AS sum_qty
FROM lineitem
GROUP BY ROLLUP(l_returnflag, l_linestatus)
"""


# sessionization: 30-minute-gap sessions per user over the events stream
# (the batch analog of Structured Streaming session windows)
_Q_SESSIONS_SPARK = """
WITH gaps AS (
  SELECT user_id, event_id, ts, value,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR unix_timestamp(ts) - unix_timestamp(lag(ts) OVER w) > 1800
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
  SELECT user_id, ts, value,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS session_id
  FROM gaps
)
SELECT user_id, session_id,
       count(*) AS n_events,
       round(sum(value), 2) AS total_value,
       CAST(max(unix_timestamp(ts)) - min(unix_timestamp(ts)) AS BIGINT)
         AS duration_sec
FROM sess
GROUP BY user_id, session_id
"""
_Q_SESSIONS_DUCK = """
WITH gaps AS (
  SELECT user_id, event_id, ts, value,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR floor(epoch(ts)) - floor(epoch(lag(ts) OVER w)) > 1800
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
  SELECT user_id, ts, value,
         CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                     ROWS UNBOUNDED PRECEDING) AS BIGINT)
           AS session_id
  FROM gaps
)
SELECT user_id, session_id,
       count(*) AS n_events,
       round(sum(value), 2) AS total_value,
       CAST(max(floor(epoch(ts))) - min(floor(epoch(ts))) AS BIGINT) AS duration_sec
FROM sess
GROUP BY user_id, session_id
"""

# evaluation metrics (core/evaluation/CharacterErrorRate.scala:5-15,
# BagOfWords.scala:9-28, TextEvaluationMetric.scala:9-13): pair each doc
# with its successor as pred/gold and compute CER + bag-of-words cosine
# Spark side restructured for execution shape ONLY (the DuckDB twin
# keeps the join-based construction; strict float-repr parity verified at
# sf0.01/sf0.1):
# * cos: the dot product and both norms come from ONE aggregation over
#   the per-token (pc, gc) vector, where the twin aggregates the dot
#   product and the norms separately and joins them. Every term is a
#   BIGINT count (integer math, no float-order sensitivity), so both
#   give the same number exactly; here the toks subtree is evaluated
#   once, with no self-join.
# * lev: levenshtein is O(|pred|·|gold|) per row and ran in the
#   post-join projection, which AQE coalesces to ONE partition at this
#   size — the REBALANCE marker (rewritten to an AQE-exempt
#   REPARTITION(n) by _sql) spreads it across the session's cores.
_Q_EVAL_SPARK = """
WITH pairs AS (
  SELECT a.doc_id AS doc_id, a.text AS pred, b.text AS gold
  FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
),
toks AS (
  SELECT doc_id, token, side, count(*) AS c
  FROM (
    SELECT doc_id, explode(filter(split(pred, ' '), x -> x <> '')) AS token,
           'p' AS side FROM pairs
    UNION ALL
    SELECT doc_id, explode(filter(split(gold, ' '), x -> x <> '')) AS token,
           'g' AS side FROM pairs
  ) t GROUP BY doc_id, token, side
),
vec AS (
  SELECT doc_id, token,
         sum(CASE WHEN side = 'p' THEN c ELSE 0 END) AS pc,
         sum(CASE WHEN side = 'g' THEN c ELSE 0 END) AS gc
  FROM toks GROUP BY doc_id, token
),
cos AS (
  SELECT doc_id,
         sum(pc * gc) /
         (sqrt(sum(pc * pc)) * sqrt(sum(gc * gc))) AS cosine
  FROM vec GROUP BY doc_id
),
pairs_spread AS (SELECT /*+ REBALANCE */ * FROM pairs),
lev AS (
  SELECT doc_id,
         round(levenshtein(pred, gold) / length(gold), 4) AS cer,
         length(gold) AS char_count
  FROM pairs_spread
)
SELECT l.doc_id, l.cer, l.char_count, round(c.cosine, 4) AS bow_cosine
FROM lev l JOIN cos c ON l.doc_id = c.doc_id
"""
_Q_EVAL_DUCK = """
WITH pairs AS (
  SELECT a.doc_id AS doc_id, a.text AS pred, b.text AS gold
  FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
),
toks AS (
  SELECT doc_id, token, side, count(*) AS c
  FROM (
    SELECT doc_id,
           unnest(list_filter(string_split(pred, ' '), x -> x <> '')) AS token,
           'p' AS side FROM pairs
    UNION ALL
    SELECT doc_id,
           unnest(list_filter(string_split(gold, ' '), x -> x <> '')) AS token,
           'g' AS side FROM pairs
  ) t GROUP BY doc_id, token, side
),
vec AS (
  SELECT doc_id,
         sum(CASE WHEN side = 'p' THEN c ELSE 0 END)
           * sum(CASE WHEN side = 'g' THEN c ELSE 0 END) AS dot_part,
         token
  FROM toks GROUP BY doc_id, token
),
dot AS (
  SELECT doc_id, sum(dot_part) AS dot FROM vec GROUP BY doc_id
),
norms AS (
  SELECT doc_id,
         sqrt(sum(CASE WHEN side='p' THEN c*c ELSE 0 END)) AS pn,
         sqrt(sum(CASE WHEN side='g' THEN c*c ELSE 0 END)) AS gn
  FROM toks GROUP BY doc_id
),
cos AS (
  SELECT d.doc_id, d.dot / (n.pn * n.gn) AS cosine
  FROM dot d JOIN norms n ON d.doc_id = n.doc_id
)
SELECT p.doc_id,
       round(levenshtein(p.pred, p.gold) / length(p.gold), 4) AS cer,
       length(p.gold) AS char_count,
       round(c.cosine, 4) AS bow_cosine
FROM pairs p JOIN cos c ON p.doc_id = c.doc_id
"""




_Q_LANGID_DUCK = """
WITH toks AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id, lang,
         list_filter(string_split(text, ' '), x -> x <> '') AS t
  FROM documents
),
counts AS (
  SELECT doc_id, lang,
         CAST(len(list_filter(t, x -> x IN ('the', 'a', 'of'))) AS INTEGER) AS c_en,
         CAST(len(list_filter(t, x -> x IN ('der', 'die', 'und'))) AS INTEGER) AS c_de,
         CAST(len(list_filter(t, x -> x IN ('le', 'la', 'et'))) AS INTEGER) AS c_fr,
         CAST(len(list_filter(t, x -> x IN ('el', 'los', 'y'))) AS INTEGER) AS c_es
  FROM toks
)
SELECT doc_id, lang AS true_lang,
       CASE greatest(c_en, c_de, c_fr, c_es)
            WHEN c_en THEN 'en' WHEN c_de THEN 'de'
            WHEN c_fr THEN 'fr' ELSE 'es' END AS predicted_lang,
       c_en, c_de, c_fr, c_es
FROM counts
"""


def _media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal path: binary image columns → PNG decode → grayscale →
    ink stats (operators/multimodal.extract_image_features). Images are
    synthesized per driver doc (top ``n_chars % h`` rows black), so
    ink_ratio and mean_intensity are closed-form in SQL — the whole
    encode→decode→feature chain is oracle-checked. Skew estimation stays
    under skew_eval_stats (vision tolerance, rows-only)."""
    import numpy as np
    import pandas as pd

    from jochre3_ocr_spark.operators.multimodal import extract_image_features

    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .filter("doc_id < 40")
        .select("doc_id", "n_chars")
    )

    def gen(batches):
        from jochre3_ocr_spark.sources.png_codec import encode_png

        for b in batches:
            rows = []
            for doc_id, n_chars in zip(b["doc_id"], b["n_chars"]):
                n = int(n_chars)
                h, w = 24 + n % 13, 24 + n % 17
                k = n % h
                img = np.full((h, w), 255, dtype=np.uint8)
                img[:k, :] = 0
                rows.append(
                    {
                        "media_ref": f"img://doc/{int(doc_id)}",
                        "media_type": "image/png",
                        "content": encode_png(img),
                        "width": w,
                        "height": h,
                        "n_frames": 1,
                    }
                )
            yield pd.DataFrame(
                rows,
                columns="media_ref media_type content width height n_frames".split(),
            )

    media = docs.mapInPandas(
        gen,
        schema="media_ref string, media_type string, content binary, "
        "width int, height int, n_frames int",
    )
    out = extract_image_features(media)
    return out.selectExpr(
        "media_ref", "width", "height",
        "round(ink_ratio, 6) AS ink_ratio",
        "round(mean_intensity, 4) AS mean_intensity",
        "status",
    )


_Q_MEDIA_IMAGE_DUCK = """
WITH d AS (
  SELECT CAST(doc_id AS BIGINT) AS did,
         24 + n_chars % 13 AS h,
         24 + n_chars % 17 AS w,
         n_chars % (24 + n_chars % 13) AS k
  FROM documents WHERE doc_id < 40
)
SELECT 'img://doc/' || did AS media_ref,
       CAST(w AS INTEGER) AS width,
       CAST(h AS INTEGER) AS height,
       round(CAST(k * w AS DOUBLE) / (h * w), 6) AS ink_ratio,
       round(CAST(255 * (h - k) * w AS DOUBLE) / (h * w), 4) AS mean_intensity,
       'ok' AS status
FROM d
"""




# similarity.ivf_topk: coarse quantize every vector to its nearest of the
# first 8 embeddings (the "centroids"), probe only the query's cell — the
# scale path next to brute-force ann_cosine_topk.
_Q_IVF_DUCK = """
WITH e AS (
  SELECT vec_id, generate_subscripts(embedding, 1) AS pos,
         CAST(unnest(embedding) AS DOUBLE) AS v
  FROM embeddings
),
cent AS (SELECT vec_id AS cid, pos, v FROM e WHERE vec_id < 8),
dots AS (
  SELECT e.vec_id, c.cid,
         sum(e.v * c.v) / (sqrt(sum(e.v * e.v)) * sqrt(sum(c.v * c.v))) AS cos
  FROM e JOIN cent c ON e.pos = c.pos
  GROUP BY e.vec_id, c.cid
),
assign AS (
  SELECT vec_id, cid AS cell FROM (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid) AS rn
    FROM dots
  ) t WHERE rn = 1
),
q AS (SELECT vec_id AS qid, generate_subscripts(embedding, 1) AS pos,
             CAST(unnest(embedding) AS DOUBLE) AS v
      FROM embeddings WHERE vec_id < 5),
c AS (SELECT vec_id AS cid2, generate_subscripts(embedding, 1) AS pos,
             CAST(unnest(embedding) AS DOUBLE) AS v
      FROM embeddings),
pair AS (
  SELECT q.qid, c.cid2 AS cid,
         sum(q.v * c.v) / (sqrt(sum(q.v * q.v)) * sqrt(sum(c.v * c.v))) AS cos
  FROM q JOIN c ON q.pos = c.pos
  JOIN assign aq ON aq.vec_id = q.qid
  JOIN assign ac ON ac.vec_id = c.cid2 AND ac.cell = aq.cell
  GROUP BY q.qid, c.cid2
)
SELECT qid, cid, rank FROM (
  SELECT qid, cid,
         row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rank
  FROM pair WHERE qid <> cid
) t WHERE rank <= 3
"""

def _q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (operators/similarity.semantic_dedup; Abbas et al.,
    arXiv:2303.09540): cluster-then-compare semantic deduplication in
    the oracle-replayable configuration (first-8 deterministic
    centroids) — the DuckDB twin replays the ENTIRE pipeline:
    assignment argmax, within-cell cosine pairs above eps, transitive
    closure (recursive CTE vs the engine's connected components), and
    the min-id keeper rule over the full domain. The engine computes
    within-cell pairs with the numpy gram backend; the oracle replays
    the exploded SQL join, so the row is also the backend-equality
    check."""
    from jochre3_ocr_spark.operators.similarity import semantic_dedup

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return semantic_dedup(emb, eps=0.3, n_cells=8)


_Q_SEMDEDUP_DUCK = """
WITH RECURSIVE e AS (
  SELECT vec_id, generate_subscripts(embedding, 1) AS pos,
         CAST(unnest(embedding) AS DOUBLE) AS v
  FROM embeddings),
cent AS (SELECT vec_id AS cell, pos, v FROM e WHERE vec_id < 8),
adots AS (
  SELECT e.vec_id, c.cell,
         sum(e.v * c.v) / (sqrt(sum(e.v * e.v)) * sqrt(sum(c.v * c.v)))
           AS cos
  FROM e JOIN cent c ON e.pos = c.pos GROUP BY e.vec_id, c.cell),
assign AS (
  SELECT vec_id, cell FROM (
    SELECT vec_id, cell,
           row_number() OVER (
             PARTITION BY vec_id ORDER BY cos DESC, cell) AS rn
    FROM adots) t WHERE rn = 1),
pairs AS (
  SELECT a.vec_id AS v1, b.vec_id AS v2
  FROM e a JOIN assign aa ON a.vec_id = aa.vec_id
       JOIN e b ON a.pos = b.pos AND a.vec_id < b.vec_id
       JOIN assign ab ON b.vec_id = ab.vec_id AND ab.cell = aa.cell
  GROUP BY a.vec_id, b.vec_id
  HAVING sum(a.v * b.v)
         / (sqrt(sum(a.v * a.v)) * sqrt(sum(b.v * b.v))) > 0.3),
edges AS (SELECT v1 AS src, v2 AS dst FROM pairs
          UNION SELECT v2, v1 FROM pairs),
cc(node, label) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e2.src, cc.label FROM edges e2 JOIN cc ON cc.node = e2.dst),
comp AS (SELECT node, min(label) AS cid FROM cc GROUP BY node)
SELECT s.vec_id, s.cell,
       CAST(coalesce(comp.cid, s.vec_id) AS BIGINT) AS cluster_id,
       (comp.cid IS NULL OR comp.cid = s.vec_id) AS keep
FROM assign s LEFT JOIN comp ON s.vec_id = comp.node
"""


# embedding-cosine near-duplicate pairs over a label-blocked candidate set
_Q_EMB_NEARDUP_DUCK = """
WITH e AS (
  SELECT vec_id, label, generate_subscripts(embedding, 1) AS pos,
         CAST(unnest(embedding) AS DOUBLE) AS v
  FROM embeddings
),
pair AS (
  SELECT a.vec_id AS v1, b.vec_id AS v2,
         sum(a.v * b.v) / (sqrt(sum(a.v * a.v)) * sqrt(sum(b.v * b.v))) AS cos
  FROM e a JOIN e b
    ON a.pos = b.pos AND a.label = b.label AND a.vec_id < b.vec_id
  GROUP BY a.vec_id, b.vec_id
)
SELECT v1, v2, round(cos, 4) AS cosine
FROM pair WHERE cos > 0.3
"""


def _dehyphenate_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Standalone dehyphenation (the /dehyphenate API operator,
    YiddishDehyphenator.scala:24-137) over the driver corpus with
    deterministic maqaf line breaks injected JVM-side (every word longer
    than 4 chars splits after its 3rd char). With an empty lexicon every
    4-branch decision lands on "drop the hyphen", so the exact restored
    text is SQL-derivable; the lexicon-driven keep/drop branches are
    pinned by tests/test_dehyphenate.py."""
    import pandas as pd

    from pyspark.sql import functions as SF

    from jochre3_ocr_spark.plans.pipeline import _get_worker_lexicon

    from jochre3_ocr_spark.plans.pipeline import _spread_small_input

    hyph = _spread_small_input(
        spark.read.parquet(f"{sf_dir}/documents.parquet").select(
            SF.col("doc_id").cast("string").alias("doc_id"),
            SF.expr(
                "array_join(transform(filter(split(text, ' '), x -> x != ''), "
                "x -> IF(length(x) > 4, "
                "concat(substr(x, 1, 3), '־\\n', substr(x, 4)), x)), ' ')"
            ).alias("text"),
        )
    )
    bc = spark.sparkContext.broadcast([])

    def run(batches):
        from jochre3_ocr_spark.functions.dehyphenate import dehyphenate

        lex = _get_worker_lexicon(bc)
        for b in batches:
            yield pd.DataFrame(
                {
                    "doc_id": b["doc_id"],
                    "dehyphenated": [dehyphenate(t or "", lex) for t in b["text"]],
                    "n_lines_in": [
                        (t or "").count("\n") + 1 for t in b["text"]
                    ],
                }
            )

    return hyph.mapInPandas(
        run, schema="doc_id string, dehyphenated string, n_lines_in int"
    )


# fixed EXTERNAL reference lexicon for word_frequency_corpus — the
# reference's real pattern is a bounded lexicon FILE broadcast to
# workers (YivoLexicon via TextFileLexicon, core/lexicon/
# TextFileLexicon.scala), so broadcasting it is scale-free by
# construction. Inert-alphabet entries (see _YID_ALEPH notes): to_yivo
# repair edits only touch ה/ײ/פ/ע, none of which the inert alphabet
# contains, so get_frequency is exactly set membership and to_yivo the
# identity — closed form for the DuckDB twin.
_REF_LEXICON_LATIN = ("table", "merge", "window", "stream", "shuffle", "spark")


def _word_frequency_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed vocabulary build (explode → groupBy count) + the
    word-in-lexicon / standardize-words API operators
    (api/.../AnalysisApp.scala:158-176, Lexicon.getFrequency /
    Lexicon.standardize).

    Two lexicon paths, each in its scale-correct shape (VERDICT r2
    item 2 — the corpus vocabulary must never be collected to the
    driver):

    * ``frequency`` — membership in the CORPUS-DERIVED lexicon (every
      translated word of length ≥ 5), computed as a distributed
      left join of the vocabulary against its own ≥5-char projection.
      No driver collect: at 100 TB the distinct vocab is GB-scale and
      stays on the executors; AQE picks broadcast vs shuffle join from
      the actual build-side size.
    * ``ref_frequency`` / ``standardized`` — the reference's actual
      lexicon pattern: a FIXED external lexicon (bounded artifact)
      broadcast once and served through the worker-cached Lexicon API
      (plans/pipeline._get_worker_lexicon). to_yivo's repair-candidate
      search provably returns the identity on inert-alphabet words
      (candidate edits insert diacritics no entry contains).
    """
    import pandas as pd

    from pyspark.sql import functions as SF

    from jochre3_ocr_spark.plans.pipeline import _get_worker_lexicon

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    words = (
        docs.select(SF.explode(SF.split("text", " ")).alias("word"))
        .filter("word != ''")
        .groupBy("word")
        .agg(SF.count("*").alias("word_count"))
        .withColumn("yid", SF.expr(f"translate(word, '{_FROM26}', '{_TO26}')"))
    )
    lex_entries = (
        words.filter(SF.length("yid") >= 5)
        .select(SF.col("yid").alias("entry"))
        .distinct()
    )
    joined = words.join(
        lex_entries, words["yid"] == lex_entries["entry"], "left"
    ).select(
        "word",
        "word_count",
        "yid",
        SF.when(SF.col("entry").isNotNull(), 1)
        .otherwise(0)
        .cast("int")
        .alias("frequency"),
    )

    trans = str.maketrans(_FROM26, _TO26)
    bc = spark.sparkContext.broadcast(
        [w.translate(trans) for w in _REF_LEXICON_LATIN]
    )

    def run(batches):
        lex = _get_worker_lexicon(bc)
        for b in batches:
            yield pd.DataFrame(
                {
                    "word": b["word"],
                    "word_count": b["word_count"],
                    "frequency": b["frequency"],
                    "ref_frequency": [
                        lex.get_frequency(w) for w in b["yid"]
                    ],
                    "standardized": [lex.to_yivo(w) for w in b["yid"]],
                }
            )

    return joined.mapInPandas(
        run,
        schema=(
            "word string, word_count long, frequency int, "
            "ref_frequency int, standardized string"
        ),
    )




# every word longer than 4 chars carries an injected '־\n' break; the
# empty lexicon forces the drop-hyphen branch, so dehyphenate restores
# the original text (plus the reference's trailing '\n' on the final
# line whenever the text was multi-line at all).
_Q_DEHYPH_DUCK = """
SELECT CAST(doc_id AS VARCHAR) AS doc_id,
       CASE WHEN len(list_filter(string_split(text, ' '), x -> length(x) > 4)) > 0
            THEN text || chr(10) ELSE text END AS dehyphenated,
       CAST(1 + len(list_filter(string_split(text, ' '), x -> length(x) > 4))
            AS INTEGER) AS n_lines_in
FROM documents
"""

def _layout_predict_boxes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The batched DLA inference slot driven end to end
    (operators/predictor.py — retry/backoff, per-batch keep-aspect
    resize, 1/scale output rescale per YoloPredictor.scala:60-138).

    Closed-form anchoring: each document renders a deterministic
    1280×1280 page with min(n_words, 64) black 120×80 blocks on an
    8-wide 156px grid (all-even coordinates). Through the 640px
    'blocks' endpoint the resize scale is exactly 0.5 and INTER_AREA
    keeps even-aligned rectangles sharp, so the recovered boxes —
    resize → batched forward → rescale — equal the grid EXACTLY and the
    whole path is SQL-derivable (box i at (32+(i%8)·156, 32+(i⁄8)·156),
    confidence 1.0).

    Scale shape: rendering and prediction are FUSED in one mapInPandas
    — a 1280² uint8 page is 1.6 MB, so an image column crossing the
    JVM↔Python Arrow boundary costs records-per-batch × 1.6 MB of
    direct memory PER TASK (measured: Arrow OutOfMemoryException at
    sf0.1/local[32] with the default 256-record batches when staged as
    render → predict). Real page-image TABLES go through
    operators/predictor.predict_layout_boxes with
    spark.sql.execution.arrow.maxRecordsPerBatch sized to the image
    payload (~16-32 for MB-scale pages)."""
    import pandas as pd

    from jochre3_ocr_spark.operators.predictor import (
        NumpyLayoutModel,
        RetryingBatchPredictor,
    )
    from jochre3_ocr_spark.plans.pipeline import _spread_small_input

    docs = _spread_small_input(
        spark.read.parquet(f"{sf_dir}/documents.parquet").select(
            F.col("doc_id").cast("string").alias("doc_id"), "text"
        )
    )

    def render_and_predict(batches):
        import numpy as np

        predictor = RetryingBatchPredictor(NumpyLayoutModel())
        from jochre3_ocr_spark.operators.predictor import BLOCKS

        for b in batches:
            ids, imgs = [], []
            for doc_id, text in zip(b["doc_id"], b["text"]):
                n = min(len([w for w in (text or "").split(" ") if w]), 64)
                img = np.full((1280, 1280), 255, np.uint8)
                for i in range(n):
                    left = 32 + (i % 8) * 156
                    top = 32 + (i // 8) * 156
                    img[top : top + 80, left : left + 120] = 0
                ids.append(doc_id)
                imgs.append(img)
            rows = {k: [] for k in (
                "doc_id", "box_index", "label", "left", "top", "width",
                "height", "confidence",
            )}
            if ids:
                for doc_id, boxes in zip(
                    ids, predictor.predict_batch(imgs, BLOCKS)
                ):
                    for i, box in enumerate(boxes):
                        rows["doc_id"].append(doc_id)
                        rows["box_index"].append(i)
                        rows["label"].append(box.label)
                        rows["left"].append(box.left)
                        rows["top"].append(box.top)
                        rows["width"].append(box.width)
                        rows["height"].append(box.height)
                        rows["confidence"].append(box.confidence)
            yield pd.DataFrame(rows)

    return docs.mapInPandas(
        render_and_predict,
        schema=(
            "doc_id string, box_index int, label string, left int, "
            "top int, width int, height int, confidence double"
        ),
    )


_Q_LAYOUT_BOXES_DUCK = """
WITH t AS (
  -- coalesce: DuckDB least() IGNORES NULLs (least(NULL,64)=64), so a
  -- NULL text would mint 64 phantom boxes vs the Spark side's 0
  SELECT CAST(doc_id AS VARCHAR) AS doc_id,
         least(coalesce(
           len(list_filter(string_split(text, ' '), x -> x <> '')), 0
         ), 64) AS nb
  FROM documents
),
i AS (SELECT doc_id, unnest(range(nb)) AS bi FROM t)
SELECT doc_id,
       CAST(bi AS INTEGER) AS box_index,
       'TextBlock' AS label,
       CAST(32 + (bi % 8) * 156 AS INTEGER) AS "left",
       CAST(32 + (bi // 8) * 156 AS INTEGER) AS "top",
       CAST(120 AS INTEGER) AS width,
       CAST(80 AS INTEGER) AS height,
       CAST(1.0 AS DOUBLE) AS confidence
FROM i
"""


# ref_frequency's closed form: the fixed external lexicon is the
# translated _REF_LEXICON_LATIN set; membership is compared on the
# TRANSLATED form (translate is non-injective over a-z, raw-word
# membership would differ).
_REF_LEXICON_YID = tuple(
    w.translate(str.maketrans(_FROM26, _TO26)) for w in _REF_LEXICON_LATIN
)

_Q_WORDFREQ_DUCK = f"""
WITH t AS (
  SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS word
  FROM documents
)
SELECT word,
       count(*) AS word_count,
       CAST(CASE WHEN length(word) >= 5 THEN 1 ELSE 0 END AS INTEGER) AS frequency,
       CAST(CASE WHEN translate(word, '{_FROM26}', '{_TO26}') IN
            ({", ".join("'" + w + "'" for w in _REF_LEXICON_YID)})
            THEN 1 ELSE 0 END AS INTEGER) AS ref_frequency,
       translate(word, '{_FROM26}', '{_TO26}') AS standardized
FROM t GROUP BY word
"""


def _dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster resolution: MinHash-LSH candidate pairs →
    connected components → per-doc
    cluster verdicts with a canonical representative
    (operators/dedup.duplicate_clusters). The transitive-closure step
    every dedup pipeline needs after pair generation; oracled by a
    DuckDB recursive CTE over the identical LSH pair set."""
    from jochre3_ocr_spark.operators.dedup import duplicate_clusters

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return duplicate_clusters(docs)


# LSH pairs (same CTE chain as _Q_LSH_DUCK) → symmetric edges →
# recursive min-label closure. String doc_ids compare lexicographically
# in both engines, so cluster_id = lexicographic min of the component.
_Q_DEDUP_CLUSTERS_DUCK = """
WITH RECURSIVE toks AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id,
         list_filter(string_split(text, ' '), x -> x <> '') AS t
  FROM documents
),
sh AS (
  SELECT doc_id,
         unnest(list_distinct(
           list_transform(range(1, len(t) - 1),
                          i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
         )) AS shingle
  FROM toks
  WHERE len(t) >= 3
),
mh AS (
  SELECT doc_id, s, min(md5(CAST(s AS VARCHAR) || ':' || shingle)) AS mh
  FROM sh CROSS JOIN range(0, 8) r(s)
  GROUP BY doc_id, s
),
bands AS (
  SELECT doc_id, CAST(s // 2 AS INT) AS band,
         md5(string_agg(mh, ',' ORDER BY s)) AS band_hash
  FROM mh
  GROUP BY doc_id, CAST(s // 2 AS INT)
),
pairs AS (
  SELECT DISTINCT a.doc_id AS doc1, b.doc_id AS doc2
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
),
edges AS (
  SELECT doc1 AS src, doc2 AS dst FROM pairs
  UNION
  SELECT doc2, doc1 FROM pairs
),
cc(node, label) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.src, cc.label FROM edges e JOIN cc ON cc.node = e.dst
),
comp AS (
  SELECT node, min(label) AS cid FROM cc GROUP BY node
)
SELECT node AS doc_id,
       cid AS cluster_id,
       count(*) OVER (PARTITION BY cid) AS cluster_size,
       node = cid AS is_canonical
FROM comp
"""

# singleton-inclusive variant (ADVICE r2): every corpus doc gets a row;
# docs in no LSH pair are their own canonical cluster of size 1 — the
# domain a consumer filtering is_canonical directly needs.
_Q_DEDUP_CLUSTERS_FULL_DUCK = _Q_DEDUP_CLUSTERS_DUCK.replace(
    """SELECT node AS doc_id,
       cid AS cluster_id,
       count(*) OVER (PARTITION BY cid) AS cluster_size,
       node = cid AS is_canonical
FROM comp""",
    """SELECT node AS doc_id,
       cid AS cluster_id,
       count(*) OVER (PARTITION BY cid) AS cluster_size,
       node = cid AS is_canonical
FROM comp
UNION ALL
SELECT CAST(d.doc_id AS VARCHAR) AS doc_id,
       CAST(d.doc_id AS VARCHAR) AS cluster_id,
       CAST(1 AS BIGINT) AS cluster_size,
       TRUE AS is_canonical
FROM documents d
WHERE CAST(d.doc_id AS VARCHAR) NOT IN (SELECT node FROM comp)""",
)


def _corpus_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window context chunking (64-token windows, 8-token
    overlap) over the documents table — operators/text_metrics
    .chunk_documents. Pure codegen column expressions; chunk-count
    arithmetic is integer-exact so the DuckDB twin matches bit-for-bit."""
    from jochre3_ocr_spark.operators.text_metrics import chunk_documents

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return chunk_documents(docs, max_tokens=64, overlap=8)


_Q_CHUNKING_DUCK = """
WITH t AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id,
         list_filter(string_split(text, ' '), x -> x <> '') AS tk
  FROM documents
),
nz AS (SELECT doc_id, tk, len(tk) AS n FROM t WHERE len(tk) > 0),
c AS (
  SELECT doc_id, tk, n,
         CASE WHEN n <= 64 THEN 1 ELSE 1 + ((n - 9) // 56) END AS nc
  FROM nz
),
i AS (SELECT doc_id, tk, n, unnest(range(nc)) AS ci FROM c)
SELECT doc_id,
       CAST(ci AS INTEGER) AS chunk_index,
       CAST(ci * 56 AS INTEGER) AS begin_token,
       CAST(len(list_slice(tk, ci * 56 + 1, least(ci * 56 + 64, n)))
            AS INTEGER) AS n_chunk_tokens,
       array_to_string(list_slice(tk, ci * 56 + 1, least(ci * 56 + 64, n)),
                       ' ') AS chunk_text
FROM i
"""


def _corpus_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (operators/dedup.decontaminate): the
    docs with doc_id % 97 == 0 act as the held-out eval suite; flag
    every OTHER training doc sharing >= 1 distinct 4-gram with any of
    them. Broadcast of the small exploded benchmark shingle set; the
    corpus side stays one narrow scan + broadcast join."""
    from jochre3_ocr_spark.operators.dedup import decontaminate

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    bench = docs.filter("CAST(doc_id AS BIGINT) % 97 = 0")
    return decontaminate(docs, bench, n=4).filter("doc_id <> bench_id")


_Q_DECONTAM_DUCK = """
WITH t AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id,
         list_filter(string_split(text, ' '), x -> x <> '') AS tk
  FROM documents
),
sh AS (
  SELECT doc_id,
         unnest(list_distinct(
           list_transform(range(1, len(tk) - 2),
             i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' '
                  || tk[i+3])
         )) AS shingle
  FROM t WHERE len(tk) >= 4
)
SELECT a.doc_id,
       b.doc_id AS bench_id,
       CAST(count(*) AS BIGINT) AS n_hits
FROM sh a
JOIN sh b ON a.shingle = b.shingle
WHERE CAST(b.doc_id AS BIGINT) % 97 = 0 AND a.doc_id <> b.doc_id
GROUP BY a.doc_id, b.doc_id
HAVING count(*) >= 1
"""


def _corpus_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling for training-mixture control
    (operators/text_metrics.deterministic_sample): md5-prefix threshold
    per source stratum — src0 keeps 80%, src1 25%, src2 100%, others
    drop. Pure string comparison, identical expression in DuckDB."""
    from jochre3_ocr_spark.operators.text_metrics import deterministic_sample

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = deterministic_sample(
        docs, fractions={"src0": 0.8, "src1": 0.25, "src2": 1.0},
        by="source", salt="mix1",
    )
    return out.select(
        F.col("doc_id").cast("string").alias("doc_id"), "source"
    )


_Q_SAMPLE_DUCK = """
SELECT CAST(doc_id AS VARCHAR) AS doc_id, source
FROM documents
WHERE (source = 'src0' AND
       substring(md5(CAST(doc_id AS VARCHAR) || ':mix1'), 1, 6) < 'cccccd')
   OR (source = 'src1' AND
       substring(md5(CAST(doc_id AS VARCHAR) || ':mix1'), 1, 6) < '400000')
   OR (source = 'src2' AND
       substring(md5(CAST(doc_id AS VARCHAR) || ':mix1'), 1, 6) < 'g')
"""


def _interleaved_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal sample construction over the interleaved payload shape
    (operators/text_metrics.interleaved_chunk_documents, 64/8 windows,
    media anchored before every 10th word): each chunk carries the
    media items its window covers — pure codegen, zero shuffle, and the
    whole construction is integer arithmetic the DuckDB twin repeats."""
    from jochre3_ocr_spark.operators.text_metrics import (
        interleaved_chunk_documents,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return interleaved_chunk_documents(
        docs, max_tokens=64, overlap=8, media_every=10
    )


_Q_INTERLEAVED_DUCK = """
WITH t AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id,
         list_filter(string_split(text, ' '), x -> x <> '') AS tk
  FROM documents
),
nz AS (SELECT doc_id, tk, len(tk) AS n FROM t WHERE len(tk) > 0),
c AS (
  SELECT doc_id, tk, n,
         CASE WHEN n <= 64 THEN 1 ELSE 1 + ((n - 9) // 56) END AS nc,
         CASE WHEN n > 10 THEN range(10, n, 10)
              ELSE CAST([] AS BIGINT[]) END AS media
  FROM nz
),
i AS (SELECT doc_id, tk, n, media, unnest(range(nc)) AS ci FROM c),
w AS (
  SELECT doc_id, tk, n, ci,
         ci * 56 AS b,
         least(ci * 56 + 64, n) - ci * 56 AS wlen,
         list_filter(media,
                     p -> p >= ci * 56
                          AND p < ci * 56 + (least(ci * 56 + 64, n) - ci * 56))
           AS mwin
  FROM i
)
SELECT doc_id,
       CAST(ci AS INTEGER) AS chunk_index,
       CAST(b AS INTEGER) AS begin_token,
       CAST(wlen AS INTEGER) AS n_chunk_tokens,
       CAST(len(mwin) AS INTEGER) AS n_media,
       coalesce(array_to_string(
         list_transform(mwin, p -> doc_id || ':m' || CAST(p AS VARCHAR)),
         ','), '') AS media_refs,
       array_to_string(list_slice(tk, b + 1, b + wlen), ' ') AS chunk_text
FROM w
"""


def _html_main_content(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML main-content extraction (operators/html_extract): the north
    rule's "HTML boilerplate strip + DOM heuristics" axis, driven over
    deterministically synthesized pages (each doc's tokens in <p>
    paragraphs with inline <img> media inside realistic chrome —
    header/nav/aside/footer/script/link-farms). The REAL parser +
    Kohlschütter-style link-density classifier run in one narrow
    mapInPandas; the oracle recomputes the exact interleaved span
    sequence (kind, text, media_ref, offset) — the north rule's per-row
    invariant — in closed form from the raw text column: title heading
    at offset 0, 12-token paragraphs at offset 1+i+i//3, media refs
    doc:mK at offset 4K, all 5 chrome/link-farm blocks stripped."""
    from jochre3_ocr_spark.operators.html_extract import (
        html_extract,
        synthesize_html_corpus,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pages = synthesize_html_corpus(docs)
    # permissive threshold: ANY link-sparse non-chrome text block is
    # content, so the closed-form oracle covers 1-char tail paragraphs;
    # the production defaults (25 chars / 0.33) are unit-tested
    out = html_extract(pages, min_content_chars=1)
    return out.select("doc_id", F.explode("spans").alias("s")).select(
        "doc_id",
        F.col("s.kind").alias("kind"),
        F.col("s.text").alias("text"),
        F.col("s.media_ref").alias("media_ref"),
        F.col("s.offset").alias("offset"),
    )


_Q_HTML_MAIN_DUCK = """
WITH t AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id,
         list_filter(string_split(text, ' '), x -> x <> '') AS tk
  FROM documents
),
c AS (
  SELECT doc_id, tk, len(tk) AS n,
         CASE WHEN len(tk) = 0 THEN 0
              ELSE ((len(tk) - 1) // 12) + 1 END AS np
  FROM t
),
p AS (SELECT doc_id, tk, n, unnest(range(np)) AS pi FROM c),
m AS (
  SELECT doc_id, unnest(range(1, (np - 1) // 3 + 1)) AS k
  FROM c WHERE np >= 4
)
SELECT doc_id, 'heading' AS kind, 'Doc ' || doc_id AS text,
       '' AS media_ref, CAST(0 AS INT) AS "offset"
FROM t
UNION ALL
SELECT doc_id, 'text' AS kind,
       array_to_string(list_slice(tk, pi * 12 + 1, least(pi * 12 + 12, n)),
                       ' ') AS text,
       '' AS media_ref,
       CAST(1 + pi + pi // 3 AS INT) AS "offset"
FROM p
UNION ALL
SELECT doc_id, 'media' AS kind, '' AS text,
       doc_id || ':m' || CAST(k AS VARCHAR) AS media_ref,
       CAST(4 * k AS INT) AS "offset"
FROM m
"""


def _html_extraction_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full web-document path through the SAME extraction engine as
    OCR pages (the north rule's one pipeline over interleaved docs):
    synthesized HTML → boilerplate-strip/DOM extraction → span-vocabulary
    bridge (operators/html_extract.html_spans_to_doc_spans: heading/text
    spans become block/line/word/space, media passes through) → the
    salted extraction kernel (plans/pipeline.extract_with_salting) →
    processed text. The oracle recomputes the output in closed form from
    the raw text column: title line 'Doc <id>' (with the engine's BiDi
    number-reversal rule applied to the digit run — the oracle mirrors
    it with reverse(doc_id), proving the REAL rule chain ran) then the
    12-token paragraph lines, newline-joined; n_words counts title +
    body tokens."""
    from jochre3_ocr_spark.operators.html_extract import (
        html_extract,
        html_spans_to_doc_spans,
        synthesize_html_corpus,
    )
    from jochre3_ocr_spark.plans.pipeline import extract_with_salting
    from jochre3_ocr_spark.sources.corpus import lexicon_words

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    bridged = html_spans_to_doc_spans(
        html_extract(synthesize_html_corpus(docs), min_content_chars=1)
    )
    out = extract_with_salting(bridged, lexicon_words())
    return out.selectExpr(
        "doc_id",
        "processed_text",
        "CAST(n_words AS INT) AS n_words",
        "status",
    )


_Q_HTML_E2E_DUCK = """
WITH t AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id,
         list_filter(string_split(text, ' '), x -> x <> '') AS tk
  FROM documents
),
c AS (
  -- the engine's BiDi number-reversal rule fires on every digit-run
  -- token (>= 2 digits, optional decimal point — alto_rules
  -- .reverse_number_rule); mirror it on BODY tokens too so the oracle
  -- does not silently depend on the corpus being digit-free
  SELECT doc_id,
         list_transform(tk,
           x -> CASE WHEN regexp_matches(x, '^[0-9]+\\.?[0-9]+$')
                     THEN reverse(x) ELSE x END) AS tk,
         len(tk) AS n,
         CASE WHEN len(tk) = 0 THEN 0
              ELSE ((len(tk) - 1) // 12) + 1 END AS np
  FROM t
)
SELECT doc_id,
       array_to_string(
         list_prepend('Doc ' || reverse(doc_id),
           list_transform(range(np),
             i -> array_to_string(
                    list_slice(tk, i * 12 + 1, least(i * 12 + 12, n)),
                    ' '))),
         chr(10)) AS processed_text,
       CAST(2 + n AS INT) AS n_words,
       'ok' AS status
FROM c
"""


def _corpus_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy first-fit-in-order sequence packing per doc_id-mod shard
    (operators/packing.pack_sequences, capacity 256, 8 shards) — the
    training-batch packer. The per-shard sequential fold is oracled by
    a DuckDB recursive CTE walking the identical numeric-doc_id order."""
    from jochre3_ocr_spark.operators.packing import pack_sequences

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return pack_sequences(docs, capacity=256, n_shards=8)


_Q_PACKING_DUCK = """
WITH RECURSIVE t AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id,
         CAST(CAST(doc_id AS BIGINT) % 8 AS INTEGER) AS shard,
         CAST(doc_id AS BIGINT) AS ord,
         CAST(coalesce(len(list_filter(string_split(text, ' '),
                                       x -> x <> '')), 0)
              AS INTEGER) AS n_tokens
  FROM documents
),
o AS (
  SELECT *, row_number() OVER (PARTITION BY shard ORDER BY ord) AS rn
  FROM t
),
rec AS (
  SELECT shard, rn, doc_id, n_tokens,
         0 AS pack_id, 0 AS pack_pos, n_tokens AS cum
  FROM o WHERE rn = 1
  UNION ALL
  SELECT o.shard, o.rn, o.doc_id, o.n_tokens,
         CASE WHEN rec.cum > 0 AND rec.cum + o.n_tokens > 256
              THEN rec.pack_id + 1 ELSE rec.pack_id END,
         CASE WHEN rec.cum > 0 AND rec.cum + o.n_tokens > 256
              THEN 0 ELSE rec.pack_pos + 1 END,
         CASE WHEN rec.cum > 0 AND rec.cum + o.n_tokens > 256
              THEN o.n_tokens ELSE rec.cum + o.n_tokens END
  FROM rec JOIN o ON o.shard = rec.shard AND o.rn = rec.rn + 1
)
SELECT doc_id, shard,
       CAST(pack_id AS INTEGER) AS pack_id,
       CAST(pack_pos AS INTEGER) AS pack_pos,
       n_tokens
FROM rec
"""


def _dedup_clusters_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """duplicate_clusters over the FULL corpus domain
    (include_singletons=True, operators/dedup.py): unpaired docs appear
    as their own canonical size-1 cluster, so downstream keep/drop
    filters on is_canonical are safe without a corpus left-join."""
    from jochre3_ocr_spark.operators.dedup import duplicate_clusters

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return duplicate_clusters(docs, include_singletons=True)


def _dedup_leakage_splits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val/test assignment
    (operators/dedup.leakage_safe_splits): splits are hashed at
    CLUSTER granularity so a test document can never have a
    near-duplicate in train — the leakage mode per-document hashing
    silently permits.  The oracle replays the full clustering
    construction plus the cumulative md5-hex-threshold banding."""
    from jochre3_ocr_spark.operators.dedup import (
        duplicate_clusters,
        leakage_safe_splits,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return leakage_safe_splits(
        duplicate_clusters(docs, include_singletons=True)
    )


# thresholds: sorted names (test, train, val) at cumulative
# 0.05 / 0.95 of 16^6 → 0ccccd / f33333 (python round halves-to-even
# matches these exact values)
_Q_LEAKAGE_SPLITS_DUCK = (
    "WITH cf AS (" + _Q_DEDUP_CLUSTERS_FULL_DUCK + """)
SELECT doc_id, cluster_id, cluster_size, is_canonical,
       CASE WHEN substr(md5('split:' || cluster_id), 1, 6) < '0ccccd'
            THEN 'test'
            WHEN substr(md5('split:' || cluster_id), 1, 6) < 'f33333'
            THEN 'train'
            ELSE 'val' END AS split
FROM cf
"""
)


def _dedup_corpus_verdicts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed scale-safe dedup pipeline (operators/dedup
    .dedup_corpus): exact-duplicate pre-collapse → capped MinHash-LSH
    candidates on representatives → connected components over the
    representative pairs only → full-domain keep/drop verdicts, with
    exact members labelled by key from their representative (they never
    enter components). The oracle is the NAIVE uncapped construction
    (all-docs LSH + recursive-CTE closure) — the green row is the proof
    that pre-collapse, key labelling and hot-bucket capping leave the
    output clusters bit-identical while removing the b² pair blowup."""
    from jochre3_ocr_spark.operators.dedup import dedup_corpus

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return dedup_corpus(docs)


_Q_DEDUP_CORPUS_DUCK = _Q_DEDUP_CLUSTERS_FULL_DUCK.replace(
    """       node = cid AS is_canonical
FROM comp
UNION ALL""",
    """       node = cid AS is_canonical,
       node = cid AS keep
FROM comp
UNION ALL""",
).replace(
    """       TRUE AS is_canonical
FROM documents d""",
    """       TRUE AS is_canonical,
       TRUE AS keep
FROM documents d""",
)


def _dedup_adversarial_density(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The driver-checkable invariance row AT ELEVATED DUPLICATE DENSITY
    (VERDICT r4 next-round item 1, gate form of the 1M soak in
    scripts/soak_dedup.py): augment the documents table with a 300-member
    EXACT-duplicate group (the first doc's text replicated verbatim) and
    a 120-member NEAR-duplicate family (the second doc's text + one
    distinct tail token each — one hot LSH bucket of ~121 > max_bucket),
    then run the composed scale-safe pipeline. The exact pre-collapse
    absorbs the exact group and the hot-bucket cap engages on genuinely
    non-identical docs — while
    the DuckDB oracle is the NAIVE uncapped all-docs construction, so
    the green row proves BOTH scale features output-invariant exactly
    where they activate. Reference shape being matched at corpus scale:
    the bounded-candidate discipline of FullYoloSegmenter.scala:711-798.

    The 500-row window rank used to pick the two seed texts is a
    correctness-gate construct (sf0.01); the production-scale corpus
    generator is sources/corpus.adversarial_corpus."""
    from pyspark.sql import Window as W

    from jochre3_ocr_spark.operators.dedup import dedup_corpus

    base = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        F.col("doc_id").cast("string").alias("doc_id"), "text"
    )
    # top-2 BEFORE the rank window: orderBy(doc_id).limit(2) plans a
    # TakeOrderedAndProject (per-partition top-2, merge) where the bare
    # row_number() window sorted the WHOLE corpus — text included —
    # into one partition. doc_id is unique, so the two surviving rows
    # and their rn assignment are identical.
    ranked = (
        base.orderBy("doc_id")
        .limit(2)
        .withColumn("rn", F.row_number().over(W.orderBy("doc_id")))
    )
    first = ranked.filter("rn = 1").select("text")
    second = ranked.filter("rn = 2").select("text")
    dup = first.crossJoin(spark.range(300)).select(
        F.concat(
            F.lit("dup"), F.lpad(F.col("id").cast("string"), 4, "0")
        ).alias("doc_id"),
        "text",
    )
    near = second.crossJoin(spark.range(120)).select(
        F.concat(
            F.lit("near"), F.lpad(F.col("id").cast("string"), 4, "0")
        ).alias("doc_id"),
        F.concat(
            F.col("text"), F.lit(" zq"), F.col("id").cast("string")
        ).alias("text"),
    )
    # materialize the augmented corpus ONCE (5 420 rows): the dedup
    # pipeline scans its input several times (collapse reps, members,
    # full-domain verdict join), and each scan would otherwise re-run
    # the single-partition rank window + crossJoins
    corpus = (
        base.unionByName(dup).unionByName(near).localCheckpoint(eager=True)
    )
    return dedup_corpus(corpus)


_Q_DEDUP_ADVERSARIAL_DUCK = (
    _Q_DEDUP_CORPUS_DUCK
    # repoint both corpus references at the augmented CTE first …
    .replace("  FROM documents\n", "  FROM corpus\n")
    .replace("FROM documents d", "FROM corpus d")
    # … then prepend the augmented-corpus construction (which may
    # itself reference the raw documents table)
    .replace(
        "WITH RECURSIVE toks AS (",
        """WITH RECURSIVE ranked AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id, text,
         row_number() OVER (ORDER BY CAST(doc_id AS VARCHAR)) AS rn
  FROM documents
),
corpus AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id, text FROM documents
  UNION ALL
  SELECT 'dup' || lpad(CAST(r.i AS VARCHAR), 4, '0') AS doc_id, b.text
  FROM (SELECT text FROM ranked WHERE rn = 1) b
       CROSS JOIN range(0, 300) r(i)
  UNION ALL
  SELECT 'near' || lpad(CAST(r.i AS VARCHAR), 4, '0') AS doc_id,
         b.text || ' zq' || CAST(r.i AS VARCHAR) AS text
  FROM (SELECT text FROM ranked WHERE rn = 2) b
       CROSS JOIN range(0, 120) r(i)
),
toks AS (""",
    )
)


def _corpus_filter_verdicts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The capstone composition a training-data pipeline actually runs:
    quality metrics (length / repetition) + duplicate-cluster resolution
    → one keep/drop verdict row per document with the first matching
    drop reason (too_short → repetitive → duplicate precedence). Pure
    column expressions joined to the components output — one broadcast-
    sized join against the verdict table at any corpus scale."""
    from pyspark.sql import functions as SF

    from jochre3_ocr_spark.operators.dedup import duplicate_clusters

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    quality = docs.selectExpr(
        "CAST(doc_id AS STRING) AS doc_id",
        "size(filter(split(text, ' '), x -> x != '')) AS n_tokens",
        "round(size(array_distinct(filter(split(text, ' '), x -> x != ''))) "
        "/ size(filter(split(text, ' '), x -> x != '')), 4) AS distinct_ratio",
    )
    dups = duplicate_clusters(docs).select(
        "doc_id", (~SF.col("is_canonical")).alias("is_dup")
    )
    joined = quality.join(dups, "doc_id", "left").withColumn(
        "is_duplicate", SF.coalesce("is_dup", SF.lit(False))
    )
    return joined.selectExpr(
        "doc_id",
        "CAST(n_tokens AS INT) AS n_tokens",
        "distinct_ratio",
        "is_duplicate",
        "CASE WHEN n_tokens < 12 THEN 'too_short' "
        "     WHEN distinct_ratio < 0.35 THEN 'repetitive' "
        "     WHEN is_duplicate THEN 'duplicate' END AS drop_reason",
        "(n_tokens >= 12 AND distinct_ratio >= 0.35 AND NOT is_duplicate) AS keep",
    )


_Q_FILTER_VERDICTS_DUCK = """
WITH RECURSIVE toks AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id,
         list_filter(string_split(text, ' '), x -> x <> '') AS t
  FROM documents
),
sh AS (
  SELECT doc_id,
         unnest(list_distinct(
           list_transform(range(1, len(t) - 1),
                          i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
         )) AS shingle
  FROM toks
  WHERE len(t) >= 3
),
mh AS (
  SELECT doc_id, s, min(md5(CAST(s AS VARCHAR) || ':' || shingle)) AS mh
  FROM sh CROSS JOIN range(0, 8) r(s)
  GROUP BY doc_id, s
),
bands AS (
  SELECT doc_id, CAST(s // 2 AS INT) AS band,
         md5(string_agg(mh, ',' ORDER BY s)) AS band_hash
  FROM mh
  GROUP BY doc_id, CAST(s // 2 AS INT)
),
pairs AS (
  SELECT DISTINCT a.doc_id AS doc1, b.doc_id AS doc2
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
),
edges AS (
  SELECT doc1 AS src, doc2 AS dst FROM pairs
  UNION
  SELECT doc2, doc1 FROM pairs
),
cc(node, label) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.src, cc.label FROM edges e JOIN cc ON cc.node = e.dst
),
comp AS (
  SELECT node, min(label) AS cid FROM cc GROUP BY node
),
quality AS (
  SELECT doc_id,
         CAST(len(t) AS INTEGER) AS n_tokens,
         round(CAST(len(list_distinct(t)) AS DOUBLE) / len(t), 4)
           AS distinct_ratio
  FROM toks
)
SELECT q.doc_id,
       q.n_tokens,
       q.distinct_ratio,
       coalesce(c.node <> c.cid, FALSE) AS is_duplicate,
       CASE WHEN q.n_tokens < 12 THEN 'too_short'
            WHEN q.distinct_ratio < 0.35 THEN 'repetitive'
            WHEN coalesce(c.node <> c.cid, FALSE) THEN 'duplicate' END
         AS drop_reason,
       (q.n_tokens >= 12 AND q.distinct_ratio >= 0.35
        AND NOT coalesce(c.node <> c.cid, FALSE)) AS keep
FROM quality q LEFT JOIN comp c ON q.doc_id = c.node
"""


def _skew_eval_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deskew evaluation (Deskewer.scala:250-282 + MathUtils.scala:36-45):
    both estimators (moment consensus AND the reference's contour chain)
    must land within 0.25° of the injected skew on EVERY synthetic page
    (measured max error 0.101° — 2.5× headroom), which turns the vision
    tolerance into a constant per-page invariant the oracle can state.
    The continuous error distributions stay pinned in
    tests/test_transforms.py and tests/test_contour_deskew.py."""
    import pandas as pd

    def run(batches):
        import random

        from jochre3_ocr_spark.operators import contour_deskew as CD
        from jochre3_ocr_spark.operators import transforms as T
        from jochre3_ocr_spark.operators.multimodal import make_text_image

        for b in batches:
            rows = []
            for i in b["doc_id"]:
                rng = random.Random(1000 + int(i))
                true = rng.uniform(-3, 3)
                img = make_text_image(5, true, seed=int(i), width=600, height=400)
                est = T.estimate_skew(img)
                cont = CD.get_skew_angle(img)
                rows.append(
                    {
                        "page_id": int(i),
                        "moment_within_quarter_deg": (
                            est is not None and abs(est - true) <= 0.25
                        ),
                        "contour_within_quarter_deg": (
                            cont is not None and abs(cont - true) <= 0.25
                        ),
                    }
                )
            yield pd.DataFrame(rows)

    from jochre3_ocr_spark.plans.pipeline import _spread_small_input

    docs = _spread_small_input(
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .filter("doc_id < 40")
        .select("doc_id")
    )
    return docs.mapInPandas(
        run,
        schema="page_id long, moment_within_quarter_deg boolean, "
        "contour_within_quarter_deg boolean",
    )


_Q_SKEW_DUCK = """
SELECT CAST(doc_id AS BIGINT) AS page_id,
       TRUE AS moment_within_quarter_deg,
       TRUE AS contour_within_quarter_deg
FROM documents WHERE doc_id < 40
"""


def _ocr_layout_end_to_end(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vision-path OCR over the translated driver corpus: each doc's
    words become deterministic RTL page geometry (layout oracle with
    injected duplicate/split/spurious boxes), then the full segment →
    classify → guess → transform chain recovers the text — the whole
    geometry pipeline is oracle-checked against the exact expected
    processed text (plans/pipeline.ocr_documents)."""
    from jochre3_ocr_spark.plans.pipeline import ocr_documents
    from jochre3_ocr_spark.sources.corpus import lexicon_words

    docs = _yiddish_docs(spark, sf_dir).filter("CAST(doc_id AS BIGINT) < 120")
    out = ocr_documents(docs, lexicon_words())
    return out.selectExpr(
        "doc_id", "n_spans", "n_words", "status", "processed_text"
    )


def _ann_ivf_kmeans_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN over deterministic spherical k-means cells
    (operators/similarity.ivf_kmeans_topk) with EXHAUSTIVE multi-probe
    (n_probe = n_cells): probing every cell makes the pruned cell-join
    plan provably equal to brute-force top-k, so the whole train →
    assign → probe → score machinery is oracle-checked against the
    brute-force SQL. The approximate regime (n_probe < n_cells, recall
    monotone in n_probe) is pinned by tests/test_dedup_similarity.py."""
    from jochre3_ocr_spark.operators.similarity import ivf_kmeans_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return ivf_kmeans_topk(
        emb, "vec_id < 5", k=3, n_cells=8, kmeans_iters=3, n_probe=8
    )


def _ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ADC top-k (operators/similarity.pq_adc_topk;
    Jégou et al., TPAMI 2011) in the EXACT regime: with ``ksub`` ≥ the
    number of distinct subvectors every codeword equals its subvector,
    so reconstruction is lossless and the whole train → encode →
    LUT-broadcast → ADC-score machinery is provably equal to
    brute-force cosine top-k — which is what the oracle checks.  The
    compressed regime (ksub ≪ n, the 32× memory win) is pinned by
    tests/test_pq.py."""
    from jochre3_ocr_spark.operators.similarity import pq_adc_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return pq_adc_topk(
        emb, "vec_id < 5", k=3, m=8, ksub=4096, iters=1, sample_size=4096
    )


def _ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ (faiss's IVFADC: coarse k-means cells pruning the PQ
    code scan) in the exact regime — exhaustive probe
    (n_probe = n_cells) + lossless codebooks (ksub ≥ distinct
    subvectors) make the composed two-stage index provably equal to
    brute force, which the oracle checks; the pruned/compressed regime
    is pinned by tests/test_pq.py."""
    from jochre3_ocr_spark.operators.similarity import pq_adc_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return pq_adc_topk(
        emb, "vec_id < 5", k=3, m=8, ksub=4096, iters=1,
        sample_size=4096, n_cells=8, n_probe=8,
    )


# brute-force cosine top-k — the shared oracle for every exact-regime
# ANN query (IVF exhaustive probe, PQ lossless codebooks)
_Q_IVF_KMEANS_DUCK = """
WITH q AS (
  SELECT vec_id AS qid,
         generate_subscripts(embedding, 1) AS pos,
         CAST(unnest(embedding) AS DOUBLE) AS v
  FROM embeddings WHERE vec_id < 5
),
c AS (
  SELECT vec_id AS cid,
         generate_subscripts(embedding, 1) AS pos,
         CAST(unnest(embedding) AS DOUBLE) AS v
  FROM embeddings
),
dots AS (
  SELECT q.qid, c.cid,
         sum(q.v * c.v) AS dot,
         sqrt(sum(q.v * q.v)) AS nq,
         sqrt(sum(c.v * c.v)) AS nc
  FROM q JOIN c ON q.pos = c.pos
  GROUP BY q.qid, c.cid
)
SELECT qid, cid, rank FROM (
  SELECT qid, cid,
         row_number() OVER (
           PARTITION BY qid ORDER BY dot / (nq * nc) DESC, cid
         ) AS rank
  FROM dots WHERE qid <> cid
) t WHERE rank <= 3
"""


def _media_av_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio + video multimodal paths (operators/multimodal.py), anchored
    on the driver corpus: per doc, a real 16-bit PCM WAV square wave
    (half-period ``4 + doc_id % 4``) and an npy video container
    (``10 + doc_id % 5`` 16×16 frames). The WAV decode (stdlib wave →
    float64), RMS/zero-crossing math, frame-sampling fan-out, and
    per-frame PNG decode are all closed-form — oracle-checked."""
    import io as _io
    import wave

    import numpy as np
    import pandas as pd

    from jochre3_ocr_spark.operators import multimodal as M

    def gen(batches):
        for b in batches:
            rows = []
            for d in b["doc_id"]:
                i = int(d)
                # square wave ±16384 (exactly ±0.5 after /32768 decode)
                half = 4 + i % 4
                t = np.arange(4000)
                sig = np.where((t // half) % 2 == 0, 16384, -16384).astype("<i2")
                buf = _io.BytesIO()
                with wave.open(buf, "wb") as w:
                    w.setnchannels(1)
                    w.setsampwidth(2)
                    w.setframerate(8000)
                    w.writeframes(sig.tobytes())
                rows.append((f"aud_{i}", "audio/wav", buf.getvalue()))

                frames = np.stack(
                    [
                        np.full((16, 16), 7 * i + 3 * f, dtype=np.uint8)
                        for f in range(10 + i % 5)
                    ]
                )
                vbuf = _io.BytesIO()
                np.save(vbuf, frames, allow_pickle=False)
                rows.append((f"vid_{i}", "video/npy", vbuf.getvalue()))
            yield pd.DataFrame(
                rows, columns=["media_ref", "media_type", "content"]
            )

    media = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .filter("doc_id < 10")
        .select("doc_id")
        .mapInPandas(gen, schema="media_ref string, media_type string, content binary")
    )
    audio = M.audio_features(media.filter("media_type = 'audio/wav'")).select(
        "media_ref",
        F.lit("audio").alias("kind"),
        F.col("n_samples").alias("n_units"),
        F.col("rms").alias("metric1"),
        F.col("zero_cross_rate").alias("metric2"),
        "status",
    )

    def frame_mean(batches):
        from jochre3_ocr_spark.sources.png_codec import decode_png

        for b in batches:
            yield pd.DataFrame(
                {
                    "media_ref": b["media_ref"],
                    "frame_idx": b["frame_idx"],
                    "pix_mean": [
                        float(decode_png(bytes(img)).mean()) for img in b["image"]
                    ],
                }
            )

    frames = (
        M.sample_frames_df(media.filter("media_type = 'video/npy'"), every_n=5)
        .mapInPandas(
            frame_mean, schema="media_ref string, frame_idx int, pix_mean double"
        )
        .groupBy("media_ref")
        .agg(
            F.count("*").alias("n_units"),
            F.round(F.avg("pix_mean"), 4).alias("metric1"),
            F.round(F.avg("frame_idx"), 4).alias("metric2"),
        )
        .select(
            "media_ref",
            F.lit("video").alias("kind"),
            "n_units",
            "metric1",
            "metric2",
            F.lit("ok").alias("status"),
        )
    )
    return audio.unionByName(frames)


# square wave: RMS exactly 0.5; sign changes at every multiple of the
# half-period in [1, 3999] → zcr = floor(3999/half)/3999. Video: frames
# sampled at stride 5 → c = floor((nf-1)/5)+1 frames with constant pixel
# values 7i+3*idx → avg pixel mean 7i + 15(c-1)/2, avg idx 5(c-1)/2.
_Q_MEDIA_AV_DUCK = """
WITH d AS (SELECT CAST(doc_id AS BIGINT) AS i FROM documents WHERE doc_id < 10),
a AS (
  SELECT 'aud_' || i AS media_ref, 'audio' AS kind, 4000 AS n_units,
         CAST(0.5 AS DOUBLE) AS metric1,
         round(CAST(floor(3999 / (4 + i % 4)) AS DOUBLE) / 3999, 6) AS metric2,
         'ok' AS status
  FROM d
),
v AS (
  SELECT 'vid_' || i AS media_ref, 'video' AS kind,
         CAST(floor((10 + i % 5 - 1) / 5) + 1 AS BIGINT) AS c, i
  FROM d
)
SELECT media_ref, kind, n_units, metric1, metric2, status FROM a
UNION ALL
SELECT media_ref, kind, c AS n_units,
       round(7 * i + 15.0 * (c - 1) / 2, 4) AS metric1,
       round(5.0 * (c - 1) / 2, 4) AS metric2,
       'ok' AS status
FROM v
"""


def _token_counts_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace + BPE-ish pretokenizer token counts per doc — the
    token-budget estimator (operators/text_metrics.bpe_token_counts);
    pure JVM regexp, no UDF."""
    from jochre3_ocr_spark.operators.text_metrics import bpe_token_counts

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return bpe_token_counts(docs)


# the pattern's leading ' is doubled for the SQL literal
_Q_BPE_DUCK = (
    "SELECT CAST(doc_id AS VARCHAR) AS doc_id,\n"
    "       CAST(len(list_filter(string_split(text, ' '), x -> x <> ''))\n"
    "            AS INTEGER) AS n_ws_tokens,\n"
    "       CAST(len(regexp_extract_all(text,\n"
    "            '''(?:s|t|re|ve|m|ll|d)| ?\\p{L}+| ?\\p{N}+|"
    " ?[^\\s\\p{L}\\p{N}]+|\\s+'))\n"
    "            AS INTEGER) AS n_bpe_tokens\n"
    "FROM documents\n"
)


def _pdf_page_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PDF ingestion (PDFToImageConverter.scala:18-75): one PDF per
    driver doc (``1 + doc_id % 5`` pages), written, parsed, and
    fake-rendered entirely inside the Arrow batch; the page fan-out,
    page numbering, geometry, and rendered ink are all oracle-checked
    (the fake rasteriser draws ``page_number`` 7-px bands over a
    490-px-wide window at 72 DPI on US-Letter — closed form)."""
    import pandas as pd

    def make_pdfs(batches):
        from jochre3_ocr_spark.sources.pdf import make_test_pdf

        for b in batches:
            yield pd.DataFrame(
                {
                    "doc_id": [str(int(d)) for d in b["doc_id"]],
                    "content": [
                        make_test_pdf(1 + int(d) % 5) for d in b["doc_id"]
                    ],
                }
            )

    from jochre3_ocr_spark.sources import pdf as P

    pdfs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .filter("doc_id < 24")
        .select("doc_id")
        .mapInPandas(make_pdfs, schema="doc_id string, content binary")
    )
    pages = P.pdf_pages(pdfs, renderer=P.fake_renderer, dpi=72)

    def ink(batches):
        from jochre3_ocr_spark.sources.png_codec import decode_png

        for b in batches:
            out = []
            for doc_id, page_no, n_pages, img, w, h, status in zip(
                b["doc_id"], b["page_number"], b["n_pages"], b["image"],
                b["width"], b["height"], b["status"],
            ):
                arr = decode_png(bytes(img)) if img is not None else None
                out.append(
                    {
                        "doc_id": doc_id,
                        "page_number": page_no,
                        "n_pages": n_pages,
                        "width": w,
                        "height": h,
                        "ink_ratio": round(float((arr < 128).mean()), 6)
                        if arr is not None
                        else None,
                        "status": status,
                    }
                )
            yield pd.DataFrame(out)

    return pages.mapInPandas(
        ink,
        schema="doc_id string, page_number int, n_pages int, width int, "
        "height int, ink_ratio double, status string",
    )


# fake_renderer at 72 DPI on the 612×792 MediaBox: band height
# max(2, 792//100) = 7, band width 612 - 2*(612//10) = 490, one band per
# page_number — ink = page_number*7*490 / (612*792).
_Q_PDF_DUCK = """
WITH d AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id,
         CAST(1 + doc_id % 5 AS INTEGER) AS n_pages
  FROM documents WHERE doc_id < 24
)
SELECT doc_id,
       CAST(p AS INTEGER) AS page_number,
       n_pages,
       612 AS width,
       792 AS height,
       round(CAST(p * 7 * 490 AS DOUBLE) / (612 * 792), 6) AS ink_ratio,
       'ok' AS status
FROM d, UNNEST(generate_series(1, n_pages)) AS t(p)
"""


def _corpus_word_crop_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus WordExtractor (reference core/corpus/WordExtractor.scala:
    32-86) driven end-to-end over pages synthesized from the driver
    documents table with a closed-form layout — glyph width 10, word gap
    10, one line at top 20, height 30, first 8 tokens — so every rect,
    label line, and train/val split is independently derivable in SQL.
    Labels-only mode (image=None): geometry comes from the Page attrs."""
    from pyspark.sql import functions as SF

    from jochre3_ocr_spark.plans.pipeline import _spread_small_input
    from jochre3_ocr_spark.sources.extractors import extract_crops

    docs = _spread_small_input(
        spark.read.parquet(f"{sf_dir}/documents.parquet").select(
            F.col("doc_id").cast("string").alias("doc_id"), "text"
        )
    )

    def build(batches):
        import pandas as pd

        from xml.sax.saxutils import quoteattr

        for pdf in batches:
            out = {"doc_id": [], "image": [], "alto_xml": []}
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                toks = [t for t in str(text).split(" ") if t][:8]
                parts = []
                left = 10
                for t in toks:
                    w = 10 * len(t)
                    parts.append(
                        f'<String HPOS="{left}" VPOS="20" WIDTH="{w}" '
                        f'HEIGHT="30" CONTENT={quoteattr(t)} WC="0.9"/>'
                    )
                    parts.append(
                        f'<SP HPOS="{left + w}" VPOS="20" WIDTH="10" '
                        f'HEIGHT="30"/>'
                    )
                    left += w + 10
                xml = (
                    '<alto><Layout><Page WIDTH="4000" HEIGHT="100">'
                    '<PrintSpace>'
                    '<TextBlock HPOS="0" VPOS="0" WIDTH="4000" HEIGHT="100">'
                    '<TextLine HPOS="0" VPOS="10" WIDTH="4000" HEIGHT="50">'
                    + "".join(parts)
                    + "</TextLine></TextBlock></PrintSpace></Page>"
                    "</Layout></alto>"
                )
                out["doc_id"].append(doc_id)
                out["image"].append(None)
                out["alto_xml"].append(xml)
            yield pd.DataFrame(out)

    corpus = docs.mapInPandas(
        build, schema="doc_id string, image binary, alto_xml string"
    )
    crops = extract_crops(
        corpus, unit="word", validation_one_every=3, with_crops=False
    )
    return crops.select(
        "doc_id", "idx", "content", "split",
        "left", "top", "width", "height", "label_line",
    )


# Same layout in closed form: left = 10 + sum of (10*len + 10) over the
# preceding tokens; file name %s_%04d.npy (WordExtractor.scala:62,72).
_Q_CORPUS_WORD_LABELS_DUCK = """
WITH raw AS (
  SELECT CAST(d.doc_id AS VARCHAR) AS doc_id,
         unnest(string_split(d.text, ' ')) AS tok,
         generate_subscripts(string_split(d.text, ' '), 1) AS i
  FROM documents d
), toks AS (
  SELECT doc_id, tok AS content,
         CAST(row_number() OVER (PARTITION BY doc_id ORDER BY i) - 1
              AS INT) AS idx,
         CAST(10 * length(tok) AS INT) AS width
  FROM raw
  WHERE tok <> ''
), first8 AS (
  SELECT * FROM toks WHERE idx < 8
), pos AS (
  SELECT doc_id, idx, content, width,
         CAST(10 + COALESCE(SUM(width + 10) OVER (
              PARTITION BY doc_id ORDER BY idx
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS INT) AS "left"
  FROM first8
)
SELECT doc_id, idx, content,
       CASE WHEN (idx + 1) % 3 = 0 THEN 'val' ELSE 'train' END AS split,
       "left", CAST(20 AS INT) AS top, width, CAST(30 AS INT) AS height,
       printf('%s_%04d.npy', doc_id, idx) || chr(9) || content AS label_line
FROM pos
"""


# --------------------------------------------------------------------------
# Temporal joins, exact-substring dedup, random-hyperplane LSH ANN.
# Library implementations in operators/{temporal,substring,similarity}.py;
# every oracle below is a deliberately DISSIMILAR formulation (DuckDB's
# native ASOF JOIN, a naive inequality join, a from-scratch SQL rebuild of
# the md5-derived hyperplanes) so a green row is evidence, not an echo.
# --------------------------------------------------------------------------
def _q_events_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest prior click per purchase: union-window as-of join
    (operators/temporal.py) vs DuckDB's native ASOF JOIN."""
    from pyspark.sql import functions as SF

    from jochre3_ocr_spark.operators.temporal import asof_join

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    out = asof_join(
        ev.where("event_type = 'purchase'"),
        ev.where("event_type = 'click'"),
        on=["user_id"],
        right_payload=["event_id", "value"],
        prefix="click_",
    )
    return out.select(
        "event_id",
        "user_id",
        SF.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("ts_str"),
        # no-match sentinels keep the numeric columns NULL-free: a NULL
        # BIGINT surfaces as pandas float64 on the oracle side and
        # hash-mismatches the driver even when values agree
        SF.coalesce("click_event_id", SF.lit(-1)).alias("click_event_id"),
        SF.coalesce(SF.round("click_value", 2), SF.lit(-1.0)).alias("click_value"),
        SF.date_format("click_ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias(
            "click_ts_str"
        ),
    )


_Q_ASOF_DUCK = """
WITH p AS (SELECT * FROM events WHERE event_type = 'purchase'),
c AS (SELECT * FROM events WHERE event_type = 'click')
SELECT p.event_id, p.user_id,
       strftime(p.ts, '%Y-%m-%d %H:%M:%S.%f') AS ts_str,
       coalesce(c.event_id, -1) AS click_event_id,
       coalesce(round(c.value, 2), -1.0) AS click_value,
       strftime(c.ts, '%Y-%m-%d %H:%M:%S.%f') AS click_ts_str
FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts >= c.ts
"""


def _q_events_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Views within 6 h before each purchase: bucketed range join
    (operators/temporal.py — equi-join on (user, time-bucket), never a
    theta join) vs DuckDB's naive inequality join.  Value sums in integer
    cents so both engines aggregate exactly."""
    from pyspark.sql import functions as SF

    from jochre3_ocr_spark.operators.temporal import range_join_binned

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    pairs = range_join_binned(
        ev.where("event_type = 'purchase'"),
        ev.where("event_type = 'view'"),
        on=["user_id"],
        lower_s=-21600.0,
        upper_s=0.0,
    )
    return pairs.groupBy(SF.col("l_event_id").alias("event_id")).agg(
        SF.count(SF.lit(1)).alias("n_views"),
        SF.sum(SF.round(SF.col("r_value") * 100).cast("long")).alias("view_cents"),
    )


_Q_RANGE_JOIN_DUCK = """
WITH p AS (SELECT * FROM events WHERE event_type = 'purchase'),
v AS (SELECT * FROM events WHERE event_type = 'view')
SELECT p.event_id AS event_id, count(*) AS n_views,
       CAST(sum(CAST(round(v.value * 100) AS BIGINT)) AS BIGINT) AS view_cents
FROM p JOIN v ON p.user_id = v.user_id
 AND v.ts > p.ts - INTERVAL 21600 SECOND AND v.ts <= p.ts
GROUP BY 1
"""


def _q_dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merged per-doc spans of corpus-repeated 8-token windows
    (operators/substring.py, the Lee et al. exact-substring construction)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    from jochre3_ocr_spark.operators.substring import duplicated_window_spans

    return duplicated_window_spans(docs, k=8, min_count=2)


def _q_dedup_substring_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every document with repeated-window spans removed; fully-covered
    docs keep an empty clean_text (they are exact duplicates)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    from jochre3_ocr_spark.operators.substring import strip_duplicated_spans

    return strip_duplicated_spans(docs, k=8, min_count=2)


_SUBSTR_COMMON_DUCK = """
toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
big AS (SELECT * FROM toks WHERE len(t) >= 8),
w AS (SELECT doc_id, i - 1 AS pos, md5(array_to_string(t[i:i+7], ' ')) AS whash
      FROM big, unnest(generate_series(1, len(t) - 7)) AS g(i)),
dup AS (SELECT whash FROM w GROUP BY whash HAVING count(*) >= 2),
hit AS (SELECT doc_id, pos FROM w WHERE whash IN (SELECT whash FROM dup)),
isl AS (SELECT doc_id, pos,
        CASE WHEN lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) IS NULL
             OR pos > lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) + 8
             THEN 1 ELSE 0 END AS nw
        FROM hit),
grp AS (SELECT doc_id, pos,
               sum(nw) OVER (PARTITION BY doc_id ORDER BY pos) AS island
        FROM isl)
"""

_Q_SUBSTR_SPANS_DUCK = f"""
WITH {_SUBSTR_COMMON_DUCK.strip()}
SELECT doc_id, CAST(min(pos) AS INTEGER) AS span_start,
       CAST(max(pos) + 8 AS INTEGER) AS span_end,
       count(*) AS n_windows
FROM grp GROUP BY doc_id, island
"""

_Q_SUBSTR_STRIP_DUCK = f"""
WITH {_SUBSTR_COMMON_DUCK.strip()},
spans AS (SELECT doc_id, min(pos) AS s, max(pos) + 8 AS e
          FROM grp GROUP BY doc_id, island),
rem AS (SELECT doc_id, unnest(generate_series(s, e - 1)) AS pos FROM spans),
toks_i AS (SELECT doc_id, i - 1 AS pos, t[i] AS tok
           FROM toks, unnest(generate_series(1, len(t))) AS g(i)),
kept AS (SELECT a.doc_id, a.pos, a.tok FROM toks_i a
         WHERE NOT EXISTS (SELECT 1 FROM rem r
                           WHERE r.doc_id = a.doc_id AND r.pos = a.pos)),
agg AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS clean_text,
               CAST(count(*) AS INTEGER) AS n_kept
        FROM kept GROUP BY doc_id)
SELECT t.doc_id, coalesce(a.clean_text, '') AS clean_text,
       coalesce(a.n_kept, 0) AS n_kept,
       CAST(len(t.t) - coalesce(a.n_kept, 0) AS INTEGER) AS n_removed
FROM toks t LEFT JOIN agg a ON t.doc_id = a.doc_id
"""


def _bench_slices(spark: SparkSession, sf_dir: str):
    """The synthetic 'eval suite' for span-level decontamination: every
    doc_id % 97 == 0 document with >= 24 tokens contributes its tokens
    9..24 (1-based) as one benchmark passage — eval sets built from
    corpus passages are exactly how real contamination happens."""
    from pyspark.sql import functions as SF

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return (
        docs.filter("CAST(doc_id AS BIGINT) % 97 = 0")
        .select("doc_id", SF.split("text", " ").alias("__t"))
        .where(SF.size("__t") >= 24)
        .select(
            "doc_id",
            SF.array_join(SF.slice("__t", 9, 16), " ").alias("text"),
        )
    )


def _q_contaminated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merged per-doc token spans of 8-token windows leaked into the
    benchmark slice table (operators/substring.contaminated_window_spans
    — benchmark window set broadcast; only (id, pos) hits shuffle)."""
    from jochre3_ocr_spark.operators.substring import contaminated_window_spans

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return contaminated_window_spans(
        docs, _bench_slices(spark, sf_dir), k=8
    )


def _q_decontaminate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Surgical decontamination: strip ONLY the leaked windows and keep
    the document (vs corpus_decontaminate's whole-doc flagging)."""
    from jochre3_ocr_spark.operators.substring import decontaminate_spans

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return decontaminate_spans(docs, _bench_slices(spark, sf_dir), k=8)


# The oracle rebuilds the construction on raw window TEXT (no md5): a
# green row proves hash-membership == verbatim-overlap end to end.
_DECONTAM_SPANS_COMMON_DUCK = """
toks AS (SELECT CAST(doc_id AS VARCHAR) AS doc_id,
                string_split(text, ' ') AS t FROM documents),
bench AS (SELECT t[9:24] AS bt FROM toks
          WHERE CAST(doc_id AS BIGINT) % 97 = 0 AND len(t) >= 24),
bw AS (SELECT DISTINCT array_to_string(bt[i:i+7], ' ') AS wtext
       FROM bench, unnest(generate_series(1, len(bt) - 7)) AS g(i)),
w AS (SELECT doc_id, i - 1 AS pos, array_to_string(t[i:i+7], ' ') AS wtext
      FROM toks, unnest(generate_series(1, len(t) - 7)) AS g(i)
      WHERE len(t) >= 8),
hit AS (SELECT doc_id, pos FROM w WHERE wtext IN (SELECT wtext FROM bw)),
isl AS (SELECT doc_id, pos,
        CASE WHEN lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) IS NULL
             OR pos > lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) + 8
             THEN 1 ELSE 0 END AS nw
        FROM hit),
grp AS (SELECT doc_id, pos,
               sum(nw) OVER (PARTITION BY doc_id ORDER BY pos) AS island
        FROM isl)
"""

_Q_CONTAM_SPANS_DUCK = f"""
WITH {_DECONTAM_SPANS_COMMON_DUCK.strip()}
SELECT doc_id, CAST(min(pos) AS INTEGER) AS span_start,
       CAST(max(pos) + 8 AS INTEGER) AS span_end,
       count(*) AS n_windows
FROM grp GROUP BY doc_id, island
"""

_Q_DECONTAM_SPANS_DUCK = f"""
WITH {_DECONTAM_SPANS_COMMON_DUCK.strip()},
spans AS (SELECT doc_id, min(pos) AS s, max(pos) + 8 AS e
          FROM grp GROUP BY doc_id, island),
rem AS (SELECT doc_id, unnest(generate_series(s, e - 1)) AS pos FROM spans),
toks_i AS (SELECT doc_id, i - 1 AS pos, t[i] AS tok
           FROM toks, unnest(generate_series(1, len(t))) AS g(i)),
kept AS (SELECT a.doc_id, a.pos, a.tok FROM toks_i a
         WHERE NOT EXISTS (SELECT 1 FROM rem r
                           WHERE r.doc_id = a.doc_id AND r.pos = a.pos)),
agg AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS clean_text,
               CAST(count(*) AS INTEGER) AS n_kept
        FROM kept GROUP BY doc_id)
SELECT t.doc_id, coalesce(a.clean_text, '') AS clean_text,
       coalesce(a.n_kept, 0) AS n_kept,
       CAST(len(t.t) - coalesce(a.n_kept, 0) AS INTEGER) AS n_removed
FROM toks t LEFT JOIN agg a ON t.doc_id = a.doc_id
"""


def _q_contamination_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-3-style fuzzy contamination fraction + keep verdict
    (operators/substring.contamination_stats, threshold 0.05)."""
    from jochre3_ocr_spark.operators.substring import contamination_stats

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return contamination_stats(docs, _bench_slices(spark, sf_dir), k=8)


_Q_CONTAM_STATS_DUCK = """
WITH toks AS (SELECT CAST(doc_id AS VARCHAR) AS doc_id,
              string_split(text, ' ') AS t FROM documents),
bench AS (SELECT t[9:24] AS bt FROM toks
          WHERE CAST(doc_id AS BIGINT) % 97 = 0 AND len(t) >= 24),
bw AS (SELECT DISTINCT array_to_string(bt[i:i+7], ' ') AS wtext
       FROM bench, unnest(generate_series(1, len(bt) - 7)) AS g(i)),
w AS (SELECT doc_id, array_to_string(t[i:i+7], ' ') AS wtext
      FROM toks, unnest(generate_series(1, len(t) - 7)) AS g(i)
      WHERE len(t) >= 8),
hits AS (SELECT doc_id, CAST(count(*) AS INTEGER) AS n_contaminated
         FROM w WHERE wtext IN (SELECT wtext FROM bw) GROUP BY doc_id),
tot AS (SELECT doc_id, CAST(greatest(len(t) - 7, 0) AS INTEGER) AS n_windows
        FROM toks),
f AS (SELECT t.doc_id, t.n_windows,
             coalesce(h.n_contaminated, 0) AS n_contaminated,
             CASE WHEN t.n_windows > 0
                  THEN round(coalesce(h.n_contaminated, 0)
                             / CAST(t.n_windows AS DOUBLE), 6)
                  ELSE 0.0 END AS contaminated_frac
      FROM tot t LEFT JOIN hits h ON t.doc_id = h.doc_id)
SELECT doc_id, n_windows, n_contaminated, contaminated_frac,
       contaminated_frac <= 0.05 AS keep
FROM f
"""


def _q_repetition_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher repetition-filter features (operators/repetition.py):
    top-word / top-{2,3,4}-gram char fractions + within-doc duplicated
    5-gram coverage."""
    from jochre3_ocr_spark.operators.repetition import repetition_features

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return repetition_features(docs)


# The oracle recomputes every n-gram count with unnest/GROUP BY and the
# coverage spans with the gaps-and-islands window — no md5, raw text.
_Q_REPETITION_DUCK = """
WITH toks AS (SELECT CAST(doc_id AS VARCHAR) AS doc_id, text,
              string_split(text, ' ') AS t FROM documents),
g AS (SELECT doc_id, n, array_to_string(t[i:i+n-1], ' ') AS gram
      FROM toks, (VALUES (1), (2), (3), (4)) AS ns(n),
           unnest(generate_series(1, len(t) - n + 1)) AS gi(i)
      WHERE len(t) >= n),
c AS (SELECT doc_id, n, gram, count(*) AS c FROM g GROUP BY doc_id, n, gram),
r AS (SELECT doc_id, n, c, len(gram) AS l,
             row_number() OVER (PARTITION BY doc_id, n
                                ORDER BY c DESC, len(gram) DESC) AS rn
      FROM c),
piv AS (SELECT doc_id,
               max(CASE WHEN n = 1 THEN c END) AS c1,
               max(CASE WHEN n = 2 THEN c END) AS c2,
               max(CASE WHEN n = 2 THEN l END) AS l2,
               max(CASE WHEN n = 3 THEN c END) AS c3,
               max(CASE WHEN n = 3 THEN l END) AS l3,
               max(CASE WHEN n = 4 THEN c END) AS c4,
               max(CASE WHEN n = 4 THEN l END) AS l4
        FROM r WHERE rn = 1 GROUP BY doc_id),
w5 AS (SELECT doc_id, i - 1 AS pos, array_to_string(t[i:i+4], ' ') AS wtext
       FROM toks, unnest(generate_series(1, len(t) - 4)) AS gi(i)
       WHERE len(t) >= 5),
dup AS (SELECT doc_id, wtext FROM w5
        GROUP BY doc_id, wtext HAVING count(*) >= 2),
hit AS (SELECT w.doc_id, w.pos FROM w5 w
        JOIN dup d ON w.doc_id = d.doc_id AND w.wtext = d.wtext),
isl AS (SELECT doc_id, pos,
        CASE WHEN lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) IS NULL
             OR pos > lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) + 5
             THEN 1 ELSE 0 END AS nw
        FROM hit),
grp AS (SELECT doc_id, pos,
               sum(nw) OVER (PARTITION BY doc_id ORDER BY pos) AS island
        FROM isl),
spans AS (SELECT doc_id, min(pos) AS s, max(pos) + 5 AS e
          FROM grp GROUP BY doc_id, island),
cov AS (SELECT doc_id, sum(e - s) AS cov FROM spans GROUP BY doc_id)
SELECT t.doc_id,
       CAST(len(t.t) AS INTEGER) AS n_tokens,
       round(p.c1 / CAST(len(t.t) AS DOUBLE), 6) AS top_word_frac,
       coalesce(round(p.c2 * p.l2 / CAST(len(t.text) AS DOUBLE), 6),
                0.0) AS top_2gram_char_frac,
       coalesce(round(p.c3 * p.l3 / CAST(len(t.text) AS DOUBLE), 6),
                0.0) AS top_3gram_char_frac,
       coalesce(round(p.c4 * p.l4 / CAST(len(t.text) AS DOUBLE), 6),
                0.0) AS top_4gram_char_frac,
       round(coalesce(v.cov, 0) / CAST(len(t.t) AS DOUBLE), 6)
           AS dup_5gram_token_frac
FROM toks t LEFT JOIN piv p ON t.doc_id = p.doc_id
            LEFT JOIN cov v ON t.doc_id = v.doc_id
"""


def _q_bigram_lm_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM quality scores (operators/lm.py): add-one bigram
    LM trained on the doc_id % 10 < 3 split, scoring every document."""
    from jochre3_ocr_spark.operators.lm import bigram_lm_scores

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    train = docs.filter("CAST(doc_id AS BIGINT) % 10 < 3")
    return bigram_lm_scores(docs, train)


# Full SQL reconstruction: counts, history sums, vocab size, add-one
# probabilities and the per-doc mean log — dissimilar engines agreeing
# on a trained model's scores end to end.
_Q_BIGRAM_LM_DUCK = """
WITH toks AS (SELECT CAST(doc_id AS VARCHAR) AS doc_id,
              CAST(doc_id AS BIGINT) AS did,
              string_split(text, ' ') AS t FROM documents),
tb AS (SELECT t[i] AS w1, t[i+1] AS w2
       FROM toks, unnest(generate_series(1, len(t) - 1)) AS g(i)
       WHERE did % 10 < 3 AND len(t) >= 2),
c AS (SELECT w1, w2, count(*) AS c FROM tb GROUP BY w1, w2),
h AS (SELECT w1, sum(c) AS h FROM c GROUP BY w1),
v AS (SELECT CAST(count(DISTINCT tok) AS DOUBLE) AS v
      FROM (SELECT unnest(t) AS tok FROM toks WHERE did % 10 < 3)),
db AS (SELECT doc_id, t[i] AS w1, t[i+1] AS w2
       FROM toks, unnest(generate_series(1, len(t) - 1)) AS g(i)
       WHERE len(t) >= 2),
lp AS (SELECT d.doc_id,
              ln((coalesce(c.c, 0) + 1)
                 / (coalesce(h.h, 0) + (SELECT v FROM v))) AS lp
       FROM db d LEFT JOIN c ON d.w1 = c.w1 AND d.w2 = c.w2
                 LEFT JOIN h ON d.w1 = h.w1),
s AS (SELECT doc_id, CAST(count(*) AS INTEGER) AS n_bigrams,
             round(avg(lp), 6) AS avg_logprob
      FROM lp GROUP BY doc_id)
SELECT t.doc_id, coalesce(s.n_bigrams, 0) AS n_bigrams,
       coalesce(s.avg_logprob, 0.0) AS avg_logprob
FROM toks t LEFT JOIN s ON t.doc_id = s.doc_id
"""


def _q_nb_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Naive-Bayes language classification (operators/classifier.py —
    the fasttext-shaped supervised filter slot in CCNet/Dolma/FineWeb):
    train on the even-doc_id half's ``lang`` labels, predict the whole
    corpus.  The oracle replays train AND predict — token-label
    counts, doc priors, add-1 smoothing, per-label ln-sums rounded to
    6 decimals, argmax with label tiebreak — in one SQL statement."""
    from jochre3_ocr_spark.operators.classifier import nb_classify

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return nb_classify(
        docs, docs.where("doc_id % 2 = 0"), label_col="lang"
    )


_Q_NB_LANGID_DUCK = """
WITH ttoks AS (
  SELECT doc_id, lang AS label,
         unnest(list_filter(string_split(coalesce(text, ''), ' '),
                            x -> x <> '')) AS w
  FROM documents WHERE doc_id % 2 = 0),
tc AS (SELECT w, label, count(*) AS c FROM ttoks GROUP BY w, label),
dc AS (SELECT lang AS label, count(*) AS n FROM documents
       WHERE doc_id % 2 = 0 GROUP BY lang),
nt AS (SELECT CAST(sum(n) AS DOUBLE) AS nt FROM dc),
lt AS (SELECT t.label, t.tot, ln(dc.n / nt.nt) AS ln_prior
       FROM (SELECT label, CAST(sum(c) AS BIGINT) AS tot
             FROM tc GROUP BY label) t
       JOIN dc USING (label) CROSS JOIN nt),
v AS (SELECT CAST(count(DISTINCT w) AS DOUBLE) AS v FROM ttoks),
dtoks AS (
  SELECT doc_id,
         unnest(list_filter(string_split(coalesce(text, ''), ' '),
                            x -> x <> '')) AS w
  FROM documents),
pt AS (SELECT d.doc_id, l.label,
              ln((coalesce(tc.c, 0) + 1.0)
                 / (l.tot + 1.0 * (SELECT v FROM v))) AS lp
       FROM dtoks d CROSS JOIN lt l
       LEFT JOIN tc ON d.w = tc.w AND l.label = tc.label),
ds AS (SELECT doc_id, label, sum(lp) AS s FROM pt GROUP BY doc_id, label),
sc AS (SELECT ds.doc_id, ds.label, round(ds.s + lt.ln_prior, 6) AS score
       FROM ds JOIN lt USING (label)),
em AS (SELECT doc_id, l.label, round(l.ln_prior, 6) AS score
       FROM documents CROSS JOIN lt l
       WHERE len(list_filter(string_split(coalesce(text, ''), ' '),
                             x -> x <> '')) = 0)
SELECT doc_id, label AS pred_label, score FROM (
  SELECT doc_id, label, score,
         row_number() OVER (
           PARTITION BY doc_id ORDER BY score DESC, label) AS rn
  FROM (SELECT * FROM sc UNION ALL SELECT * FROM em)) t
WHERE rn = 1
"""


def _q_decontaminate_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graded whole-doc decontamination (dedup.decontaminate_jaccard):
    best benchmark match by exact 5-gram Jaccard, keep iff < 0.05."""
    from jochre3_ocr_spark.operators.dedup import decontaminate_jaccard

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return decontaminate_jaccard(
        docs, _bench_slices(spark, sf_dir), n=5, threshold=0.05
    )


_Q_DECONTAM_JACCARD_DUCK = """
WITH toks AS (SELECT CAST(doc_id AS VARCHAR) AS doc_id,
              string_split(text, ' ') AS t FROM documents),
bsl AS (SELECT doc_id AS bench_id, t[9:24] AS bt FROM toks
        WHERE CAST(doc_id AS BIGINT) % 97 = 0 AND len(t) >= 24),
bsh AS (SELECT DISTINCT bench_id, array_to_string(bt[i:i+4], ' ') AS sh
        FROM bsl, unnest(generate_series(1, len(bt) - 4)) AS g(i)),
dsh AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+4], ' ') AS sh
        FROM toks, unnest(generate_series(1, len(t) - 4)) AS g(i)
        WHERE len(t) >= 5),
na AS (SELECT doc_id, count(*) AS na FROM dsh GROUP BY doc_id),
nb AS (SELECT bench_id, count(*) AS nb FROM bsh GROUP BY bench_id),
p AS (SELECT d.doc_id, b.bench_id, count(*) AS common
      FROM dsh d JOIN bsh b ON d.sh = b.sh GROUP BY d.doc_id, b.bench_id),
j AS (SELECT p.doc_id, p.bench_id, p.common,
             round(p.common / CAST(na.na + nb.nb - p.common AS DOUBLE),
                   6) AS jaccard
      FROM p JOIN na ON p.doc_id = na.doc_id
             JOIN nb ON p.bench_id = nb.bench_id),
r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
                                   ORDER BY jaccard DESC, bench_id ASC) AS rn
      FROM j)
SELECT t.doc_id, r.bench_id AS best_bench_id,
       coalesce(r.common, 0) AS common,
       coalesce(r.jaccard, 0.0) AS jaccard,
       coalesce(r.jaccard, 0.0) < 0.05 AS keep
FROM toks t LEFT JOIN r ON t.doc_id = r.doc_id AND r.rn = 1
"""


def _q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document (text_metrics.tfidf_top_terms,
    sklearn-smoothed idf, rank ties broken alphabetically)."""
    from jochre3_ocr_spark.operators.text_metrics import tfidf_top_terms

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return tfidf_top_terms(docs, k=3)


_Q_TFIDF_DUCK = """
WITH toks AS (SELECT CAST(doc_id AS VARCHAR) AS doc_id,
              unnest(string_split(text, ' ')) AS term FROM documents),
tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term),
dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents),
s AS (SELECT t.doc_id, t.term, t.tf,
             round(t.tf * (ln((1 + (SELECT n FROM n)) / (1 + d.df)) + 1),
                   6) AS score
      FROM tf t JOIN dfq d ON t.term = d.term),
r AS (SELECT doc_id, term, tf, score,
             CAST(row_number() OVER (PARTITION BY doc_id
                                     ORDER BY score DESC, term ASC)
                  AS INTEGER) AS rnk
      FROM s)
SELECT doc_id, term, tf, score, rnk FROM r WHERE rnk <= 3
"""


def _q_pivot_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relational PIVOT: per-year order counts + total price by priority
    (explicit pivot value list for a deterministic schema; the oracle
    mirrors with conditional aggregation, the engine-neutral form)."""
    from pyspark.sql import functions as SF

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    pivoted = (
        orders.withColumn("o_year", SF.year("o_orderdate"))
        .groupBy("o_year")
        .pivot(
            "o_orderpriority",
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
        )
        .agg(SF.count(SF.lit(1)))
    )
    renames = {
        "1-URGENT": "n_urgent",
        "2-HIGH": "n_high",
        "3-MEDIUM": "n_medium",
        "4-NOT SPECIFIED": "n_not_specified",
        "5-LOW": "n_low",
    }
    out = pivoted
    for old, new in renames.items():
        out = out.withColumnRenamed(old, new)
    return out.select(
        "o_year",
        *[SF.coalesce(c, SF.lit(0)).alias(c) for c in renames.values()],
    )


_Q_PIVOT_DUCK = """
SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
       count(*) FILTER (o_orderpriority = '1-URGENT') AS n_urgent,
       count(*) FILTER (o_orderpriority = '2-HIGH') AS n_high,
       count(*) FILTER (o_orderpriority = '3-MEDIUM') AS n_medium,
       count(*) FILTER (o_orderpriority = '4-NOT SPECIFIED')
           AS n_not_specified,
       count(*) FILTER (o_orderpriority = '5-LOW') AS n_low
FROM orders GROUP BY 1
"""


def _q_redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing (operators/redaction.redact_pii) over the corpus
    with deterministic synthetic PII injected into every third doc —
    the corpus alphabet is [a-z0-9 ], so injection is what makes the
    patterns (and their sequential-count semantics) observable."""
    from pyspark.sql import functions as SF

    from jochre3_ocr_spark.operators.redaction import redact_pii

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    did = SF.col("doc_id").cast("bigint")
    injected = SF.when(
        did % 3 == 0,
        SF.concat_ws(
            "",
            SF.coalesce(SF.col("text"), SF.lit("")),
            SF.lit(" contact u"),
            did.cast("string"),
            SF.lit("@mail"),
            (did % 7).cast("string"),
            SF.lit(".org from 10.0."),
            (did % 256).cast("string"),
            SF.lit("."),
            (did % 100).cast("string"),
            SF.lit(" call 555-"),
            (100 + did % 900).cast("string"),
            SF.lit("-"),
            (1000 + did % 9000).cast("string"),
        ),
    ).otherwise(SF.col("text"))
    return redact_pii(docs.withColumn("text", injected))


_Q_REDACT_DUCK = r"""
WITH inj AS (SELECT CAST(doc_id AS VARCHAR) AS doc_id,
  CASE WHEN doc_id % 3 = 0 THEN
    coalesce(text, '') || ' contact u' || doc_id || '@mail' || (doc_id % 7)
         || '.org from 10.0.' || (doc_id % 256) || '.' || (doc_id % 100)
         || ' call 555-' || (100 + doc_id % 900) || '-'
         || (1000 + doc_id % 9000)
  ELSE text END AS text FROM documents),
s1 AS (SELECT doc_id,
       CAST(len(regexp_extract_all(coalesce(text, ''),
            '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}')) AS INTEGER) AS n_email,
       regexp_replace(coalesce(text, ''),
                      '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}',
                      '<EMAIL>', 'g') AS t1 FROM inj),
s2 AS (SELECT doc_id, n_email,
       CAST(len(regexp_extract_all(t1,
            '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS INTEGER) AS n_ipv4,
       regexp_replace(t1, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b',
                      '<IP>', 'g') AS t2 FROM s1),
s3 AS (SELECT doc_id, n_email, n_ipv4,
       CAST(len(regexp_extract_all(t2, '\b\d{3}-\d{3}-\d{4}\b'))
            AS INTEGER) AS n_phone,
       regexp_replace(t2, '\b\d{3}-\d{3}-\d{4}\b', '<PHONE>', 'g') AS t3
       FROM s2)
SELECT doc_id, t3 AS clean_text, n_email, n_ipv4, n_phone,
       n_email + n_ipv4 + n_phone AS n_redactions
FROM s3
"""


def _q_bpe_merge_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One BPE merge round: corpus-wide top-20 adjacent char pairs
    (text_metrics.bpe_merge_candidates)."""
    from jochre3_ocr_spark.operators.text_metrics import bpe_merge_candidates

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return bpe_merge_candidates(docs, k=20)


_Q_BPE_MERGE_DUCK = """
WITH w AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),
p AS (SELECT substr(w, i, 2) AS pair
      FROM w, unnest(generate_series(1, len(w) - 1)) AS g(i)
      WHERE len(w) >= 2),
c AS (SELECT pair, count(*) AS cnt FROM p GROUP BY pair),
r AS (SELECT pair, cnt,
             CAST(row_number() OVER (ORDER BY cnt DESC, pair ASC)
                  AS INTEGER) AS rnk
      FROM c)
SELECT pair, cnt, rnk FROM r WHERE rnk <= 20
"""


def _q_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three rounds of ITERATIVE BPE training (operators/bpe.train_bpe):
    the oracle replays all three count→argmax→replace rounds in SQL,
    so the driver loop, the greedy literal-replace application, and the
    tie-break all have cross-engine witnesses."""
    from jochre3_ocr_spark.operators.bpe import train_bpe

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return train_bpe(docs, n_merges=3)


# Shared by corpus_bpe_train and corpus_bpe_encode: learn 3 merges
# (count -> argmax -> replace, three rounds) over the word multiset.
_BPE_TRAIN_CTE = """
WITH w0 AS (SELECT ' ' || array_to_string(string_split(w, ''), ' ') || ' ' AS s
            FROM (SELECT unnest(string_split(text, ' ')) AS w
                  FROM documents)),
t1 AS (SELECT string_split(trim(s), ' ') AS t FROM w0),
p1 AS (SELECT t[i] AS l, t[i+1] AS r, count(*) AS cnt
       FROM t1, unnest(generate_series(1, len(t) - 1)) AS g(i)
       GROUP BY 1, 2),
m1 AS (SELECT l, r, cnt FROM p1 ORDER BY cnt DESC, l, r LIMIT 1),
w1 AS (SELECT replace(s,
         ' ' || (SELECT l FROM m1) || ' ' || (SELECT r FROM m1) || ' ',
         ' ' || (SELECT l FROM m1) || (SELECT r FROM m1) || ' ') AS s
       FROM w0),
t2 AS (SELECT string_split(trim(s), ' ') AS t FROM w1),
p2 AS (SELECT t[i] AS l, t[i+1] AS r, count(*) AS cnt
       FROM t2, unnest(generate_series(1, len(t) - 1)) AS g(i)
       GROUP BY 1, 2),
m2 AS (SELECT l, r, cnt FROM p2 ORDER BY cnt DESC, l, r LIMIT 1),
w2 AS (SELECT replace(s,
         ' ' || (SELECT l FROM m2) || ' ' || (SELECT r FROM m2) || ' ',
         ' ' || (SELECT l FROM m2) || (SELECT r FROM m2) || ' ') AS s
       FROM w1),
t3 AS (SELECT string_split(trim(s), ' ') AS t FROM w2),
p3 AS (SELECT t[i] AS l, t[i+1] AS r, count(*) AS cnt
       FROM t3, unnest(generate_series(1, len(t) - 1)) AS g(i)
       GROUP BY 1, 2),
m3 AS (SELECT l, r, cnt FROM p3 ORDER BY cnt DESC, l, r LIMIT 1)
"""

_Q_BPE_TRAIN_DUCK = _BPE_TRAIN_CTE + """
SELECT CAST(1 AS INTEGER) AS rnk, l AS "left", r AS "right",
       l || r AS merged, cnt FROM m1
UNION ALL
SELECT CAST(2 AS INTEGER), l, r, l || r, cnt FROM m2
UNION ALL
SELECT CAST(3 AS INTEGER), l, r, l || r, cnt FROM m3
"""


def _q_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train 3 BPE merges then ENCODE the whole corpus with them
    (operators/bpe.apply_bpe) — the tokenizer's last mile: per-doc
    token count and the full encoded segment stream (serialized to one
    canonical string; nested arrays hash badly across engines).  The
    oracle re-learns the same 3 merges and replays the replace chain
    per (doc, word), reassembling word order with a keyed list().
    Collecting the 3-row merge table on the driver is bounded (like
    the CC convergence probes); application itself is one narrow
    projection, zero shuffle."""
    from jochre3_ocr_spark.operators.bpe import apply_bpe, train_bpe

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    merges = [
        (r.left, r.right)
        for r in train_bpe(docs, n_merges=3).orderBy("rnk").collect()
    ]
    return apply_bpe(docs, merges).select(
        F.col("doc_id").cast("string").alias("doc_id"),
        "n_bpe_tokens",
        F.array_join("bpe_tokens", " ").alias("tokens_str"),
    )


_Q_BPE_ENCODE_DUCK = _BPE_TRAIN_CTE + """
, d0 AS (SELECT CAST(doc_id AS VARCHAR) AS doc_id,
                string_split(text, ' ') AS ws
         FROM documents),
wd AS (SELECT doc_id, i AS wi,
              ' ' || array_to_string(string_split(ws[i], ''), ' ') || ' '
                AS s
       FROM d0, unnest(generate_series(1, len(ws))) AS g(i)),
wd1 AS (SELECT doc_id, wi, replace(s,
          ' ' || (SELECT l FROM m1) || ' ' || (SELECT r FROM m1) || ' ',
          ' ' || (SELECT l FROM m1) || (SELECT r FROM m1) || ' ') AS s
        FROM wd),
wd2 AS (SELECT doc_id, wi, replace(s,
          ' ' || (SELECT l FROM m2) || ' ' || (SELECT r FROM m2) || ' ',
          ' ' || (SELECT l FROM m2) || (SELECT r FROM m2) || ' ') AS s
        FROM wd1),
wd3 AS (SELECT doc_id, wi, replace(s,
          ' ' || (SELECT l FROM m3) || ' ' || (SELECT r FROM m3) || ' ',
          ' ' || (SELECT l FROM m3) || (SELECT r FROM m3) || ' ') AS s
        FROM wd2),
enc AS (SELECT doc_id,
               array_to_string(list(trim(s) ORDER BY wi), ' ')
                 AS tokens_str
        FROM wd3 GROUP BY doc_id)
SELECT doc_id,
       CAST(len(string_split(tokens_str, ' ')) AS INTEGER)
         AS n_bpe_tokens,
       tokens_str
FROM enc
"""


def _q_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k vocabulary coverage of token occurrences
    (text_metrics.vocab_coverage, k = 100 / 1000)."""
    from jochre3_ocr_spark.operators.text_metrics import vocab_coverage

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return vocab_coverage(docs, ks=(100, 1000))


_Q_VOCAB_COVERAGE_DUCK = """
WITH t AS (SELECT unnest(string_split(text, ' ')) AS term FROM documents),
c AS (SELECT term, count(*) AS cnt FROM t GROUP BY term),
r AS (SELECT cnt, row_number() OVER (ORDER BY cnt DESC, term ASC) AS rn
      FROM c)
SELECT CAST(sum(cnt) AS BIGINT) AS total_tokens,
       CAST(count(*) AS INTEGER) AS vocab_size,
       CAST(sum(CASE WHEN rn <= 100 THEN cnt ELSE 0 END) AS BIGINT)
           AS covered_100,
       CAST(sum(CASE WHEN rn <= 1000 THEN cnt ELSE 0 END) AS BIGINT)
           AS covered_1000,
       round(sum(CASE WHEN rn <= 100 THEN cnt ELSE 0 END)
             / CAST(sum(cnt) AS DOUBLE), 6) AS coverage_100,
       round(sum(CASE WHEN rn <= 1000 THEN cnt ELSE 0 END)
             / CAST(sum(cnt) AS DOUBLE), 6) AS coverage_1000
FROM r
"""


def _q_mixture_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source sampling plan realising a 0.5/0.3/0.2 target mixture
    with max retention (text_metrics.mixture_plan); feeds
    deterministic_sample(fractions=)."""
    from jochre3_ocr_spark.operators.text_metrics import mixture_plan

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return mixture_plan(docs, {"src0": 0.5, "src1": 0.3, "src2": 0.2})


_Q_MIXTURE_DUCK = """
WITH c AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY source),
w AS (SELECT * FROM (VALUES ('src0', 0.5), ('src1', 0.3), ('src2', 0.2))
      AS t(source, target_weight)),
j AS (SELECT c.source, c.n_docs,
             coalesce(w.target_weight, 0.0) AS target_weight
      FROM c LEFT JOIN w USING (source)),
s AS (SELECT min(n_docs / target_weight) AS c FROM j
      WHERE target_weight > 0),
f AS (SELECT j.source, j.n_docs, j.target_weight,
             CASE WHEN j.target_weight > 0
                  THEN round((SELECT c FROM s) * j.target_weight
                             / j.n_docs, 6)
                  ELSE 0.0 END AS fraction
      FROM j)
SELECT source, n_docs, target_weight, fraction,
       CAST(floor(n_docs * fraction) AS BIGINT) AS expected_docs
FROM f
"""


def _q_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional inverted index with an 8-doc posting cap
    (text_metrics.inverted_index); canonical-string postings make
    cross-engine equality exact."""
    from jochre3_ocr_spark.operators.text_metrics import inverted_index

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return inverted_index(docs, max_postings=8)


_Q_INVERTED_INDEX_DUCK = """
WITH pos AS (SELECT CAST(doc_id AS VARCHAR) AS doc, i - 1 AS pos,
                    t[i] AS term
             FROM (SELECT doc_id, string_split(text, ' ') AS t
                   FROM documents),
                  unnest(generate_series(1, len(t))) AS g(i)),
pd AS (SELECT term, doc,
              string_agg(CAST(pos AS VARCHAR), '|' ORDER BY pos) AS plist
       FROM pos GROUP BY term, doc),
agg AS (SELECT term, count(*) AS df_count,
               list(doc || ':' || plist ORDER BY doc) AS pl
        FROM pd GROUP BY term)
SELECT term, df_count, array_to_string(pl[1:8], ',') AS postings FROM agg
"""


def _q_correlated_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery through Spark SQL: parts priced above
    1.05x their type's average — the threshold is ROUNDED to 4 places
    so row membership never rides on a last-ulp avg difference between
    engines (Catalyst decorrelates to an agg+join; the oracle runs the
    same correlated form natively)."""
    spark.read.parquet(f"{sf_dir}/part.parquet").createOrReplaceTempView(
        "__part_corr"
    )
    return spark.sql(
        """
        SELECT p_partkey, p_type, p_retailprice
        FROM __part_corr p
        WHERE p_retailprice > round(1.05 * (
            SELECT avg(p2.p_retailprice) FROM __part_corr p2
            WHERE p2.p_type = p.p_type), 4)
        """
    )


_Q_CORRELATED_DUCK = """
SELECT p_partkey, p_type, p_retailprice
FROM part p
WHERE p_retailprice > round(1.05 * (
    SELECT avg(p2.p_retailprice) FROM part p2
    WHERE p2.p_type = p.p_type), 4)
"""


def _q_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-table random-hyperplane LSH top-3 (operators/similarity.py);
    the oracle rebuilds the md5-derived integer planes from scratch."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    from jochre3_ocr_spark.operators.similarity import lsh_topk

    return lsh_topk(emb, "vec_id < 5", k=3, n_tables=4, n_bits=8)


_Q_ANN_LSH_DUCK = """
WITH grid AS (SELECT j, pos
              FROM generate_series(0, 31) t(j), generate_series(0, 63) g(pos)),
planes AS (SELECT j, pos,
  CAST(((instr('0123456789abcdef', substr(md5('lsh:'||j||':'||pos), 1, 1)) - 1) * 16
      + (instr('0123456789abcdef', substr(md5('lsh:'||j||':'||pos), 2, 1)) - 1)) * 2
       - 255 AS DOUBLE) AS w
  FROM grid),
e AS (SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS pos,
             CAST(unnest(embedding) AS DOUBLE) AS v
      FROM embeddings),
dots AS (SELECT e.vec_id, p.j, sum(e.v * p.w) AS dot
         FROM e JOIN planes p ON e.pos = p.pos GROUP BY 1, 2),
sig AS (SELECT vec_id, j // 8 AS t,
               sum(CASE WHEN dot >= 0 THEN CAST(pow(2, j % 8) AS BIGINT)
                        ELSE 0 END) AS bucket
        FROM dots GROUP BY 1, 2),
cand AS (SELECT DISTINCT q.vec_id AS qid, c.vec_id AS cid
         FROM sig q JOIN sig c ON q.t = c.t AND q.bucket = c.bucket
         WHERE q.vec_id < 5 AND q.vec_id <> c.vec_id),
pair AS (SELECT cand.qid, cand.cid,
                sum(qe.v * ce.v)
                  / (sqrt(sum(qe.v * qe.v)) * sqrt(sum(ce.v * ce.v))) AS cos
         FROM cand
         JOIN e qe ON qe.vec_id = cand.qid
         JOIN e ce ON ce.vec_id = cand.cid AND ce.pos = qe.pos
         GROUP BY 1, 2)
SELECT qid, cid, rank FROM (
  SELECT qid, cid,
         row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rank
  FROM pair) t WHERE rank <= 3
"""


def _q_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min-sketch token frequencies (operators/sketches.py):
    exact top-20 tokens with their CMS point estimates alongside —
    the oracle rebuilds the same depth-4 × 256-bucket sketch from the
    same md5 hex-prefix hashes, so estimates (collisions included)
    match bit-for-bit."""
    from jochre3_ocr_spark.operators.sketches import cms_estimate, cms_sketch

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    sk = cms_sketch(docs, depth=4, width_hex=2)
    exact = (
        docs.select(
            F.explode(
                F.filter(F.split("text", " "), lambda x: x != "")
            ).alias("token")
        )
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("exact_cnt"))
        .orderBy(F.desc("exact_cnt"), "token")
        .limit(20)
    )
    est = cms_estimate(sk, exact.select("token"), depth=4, width_hex=2)
    return exact.join(est, "token").select(
        "token",
        F.col("exact_cnt").cast("bigint").alias("exact_cnt"),
        F.col("est_cnt").cast("bigint").alias("est_cnt"),
    )


_Q_CMS_DUCK = """
WITH tok AS (SELECT unnest(list_filter(string_split(text, ' '), x -> x <> ''))
                    AS token FROM documents),
cnt AS (SELECT token, count(*) AS exact_cnt FROM tok GROUP BY token),
seeds AS (SELECT unnest(range(0, 4)) AS seed),
cells AS (SELECT s.seed,
                 substr(md5(CAST(s.seed AS VARCHAR) || ':' || c.token), 1, 2)
                   AS bucket,
                 sum(c.exact_cnt) AS counter
          FROM cnt c, seeds s GROUP BY 1, 2),
top AS (SELECT token, exact_cnt FROM cnt
        ORDER BY exact_cnt DESC, token LIMIT 20),
probe AS (SELECT t.token, t.exact_cnt, s.seed,
                 substr(md5(CAST(s.seed AS VARCHAR) || ':' || t.token), 1, 2)
                   AS bucket
          FROM top t, seeds s)
SELECT p.token,
       CAST(max(p.exact_cnt) AS BIGINT) AS exact_cnt,
       CAST(min(coalesce(c.counter, 0)) AS BIGINT) AS est_cnt
FROM probe p LEFT JOIN cells c ON p.seed = c.seed AND p.bucket = c.bucket
GROUP BY p.token
"""


def _q_bloom_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter decontamination (operators/sketches.py): the
    doc_id % 97 == 0 docs are the eval suite; every other doc is probed
    against the fixed-size k=3 × 4096-slot bits table instead of the
    exploded-shingle join of ``corpus_decontaminate``.  The oracle
    replays the same bits, so deterministic false positives match."""
    from jochre3_ocr_spark.operators.sketches import (
        bloom_bits,
        bloom_decontaminate,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    bits = bloom_bits(docs.filter("doc_id % 97 = 0"), n=4, k=3, width_hex=3)
    return bloom_decontaminate(
        docs.filter("doc_id % 97 <> 0"), bits, n=4, k=3, width_hex=3
    )


_Q_BLOOM_DUCK = """
WITH t AS (SELECT CAST(doc_id AS VARCHAR) AS doc_id,
                  CAST(doc_id AS BIGINT) % 97 = 0 AS is_bench,
                  list_filter(string_split(text, ' '), x -> x <> '') AS tk
           FROM documents),
sh AS (SELECT doc_id, is_bench,
              unnest(list_distinct(list_transform(range(1, len(tk) - 2),
                i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' '
                     || tk[i+3]))) AS shingle
       FROM t WHERE len(tk) >= 4),
seeds AS (SELECT unnest(range(0, 3)) AS seed),
bits AS (SELECT DISTINCT s.seed,
                substr(md5(CAST(s.seed AS VARCHAR) || ':' || sh.shingle), 1, 3)
                  AS slot
         FROM sh, seeds s WHERE sh.is_bench),
probe AS (SELECT sh.doc_id, sh.shingle, s.seed,
                 substr(md5(CAST(s.seed AS VARCHAR) || ':' || sh.shingle),
                        1, 3) AS slot
          FROM sh, seeds s WHERE NOT sh.is_bench),
hits AS (SELECT doc_id, shingle FROM probe p JOIN bits b USING (seed, slot)
         GROUP BY doc_id, shingle HAVING count(*) = 3),
nh AS (SELECT doc_id, count(*) AS n_hits FROM hits GROUP BY doc_id),
ng AS (SELECT doc_id, count(*) AS n_grams FROM sh
       WHERE NOT is_bench GROUP BY doc_id)
SELECT t.doc_id,
       CAST(coalesce(ng.n_grams, 0) AS INT) AS n_grams,
       CAST(coalesce(nh.n_hits, 0) AS INT) AS n_hits,
       coalesce(nh.n_hits, 0) > 0 AS contaminated
FROM t LEFT JOIN ng ON t.doc_id = ng.doc_id
       LEFT JOIN nh ON t.doc_id = nh.doc_id
WHERE NOT t.is_bench
"""


def _q_bloom_packed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Packed-bitmap Bloom decontamination (operators/sketches.py:
    bloom_bitmap / bloom_decontaminate_packed): the SAME (n=4, k=3,
    width=3) construction as ``corpus_bloom_decontaminate``, but the
    filter ships as one fixed k·16^w-bit byte blob and each doc is
    probed inside a single mapInPandas pass — zero joins, zero shuffle
    on the corpus side.  The oracle is the SAME independent DuckDB
    shingle/bits replay as the row form: its green row IS the proof
    that the bitmap transport is bit-exact with the join form."""
    from jochre3_ocr_spark.operators.sketches import (
        bloom_bitmap,
        bloom_decontaminate_packed,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    bm = bloom_bitmap(docs.filter("doc_id % 97 = 0"), n=4, k=3, width_hex=3)
    return bloom_decontaminate_packed(
        docs.filter("doc_id % 97 <> 0"), bm, n=4, k=3, width_hex=3
    )


def _q_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights toward the English split
    (operators/importance.py), with the deterministic top-100
    selection rank; the oracle refits both hashed-256-bucket models
    and replays the weight sum in SQL."""
    from jochre3_ocr_spark.operators.importance import (
        dsir_log_weights,
        dsir_select,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    w = dsir_log_weights(docs, docs.filter("lang = 'en'"), width_hex=2)
    return dsir_select(w, keep=100)


_Q_DSIR_DUCK = """
WITH t AS (SELECT CAST(doc_id AS VARCHAR) AS doc_id, lang,
                  list_filter(string_split(text, ' '), x -> x <> '') AS tk
           FROM documents),
g AS (SELECT doc_id, lang, unnest(tk) AS gram FROM t
      UNION ALL
      SELECT doc_id, lang,
             unnest(list_transform(range(1, len(tk)),
                                   i -> tk[i] || ' ' || tk[i+1])) AS gram
      FROM t WHERE len(tk) >= 2),
b AS (SELECT doc_id, lang, substr(md5(gram), 1, 2) AS bucket, count(*) AS c
      FROM g GROUP BY 1, 2, 3),
tm AS (SELECT bucket, sum(c) AS cb FROM b WHERE lang = 'en' GROUP BY bucket),
tn AS (SELECT CAST(sum(cb) AS DOUBLE) AS n FROM tm),
rm AS (SELECT bucket, sum(c) AS cb FROM b GROUP BY bucket),
rn AS (SELECT CAST(sum(cb) AS DOUBLE) AS n FROM rm),
w AS (SELECT b.doc_id, CAST(sum(b.c) AS INT) AS n_grams,
             round(sum(b.c * (ln((coalesce(tm.cb, 0) + 1) / (tn.n + 256))
                            - ln((coalesce(rm.cb, 0) + 1) / (rn.n + 256)))),
                   6) AS log_weight
      FROM b LEFT JOIN tm ON b.bucket = tm.bucket
             LEFT JOIN rm ON b.bucket = rm.bucket, tn, rn
      GROUP BY b.doc_id),
full_w AS (SELECT t.doc_id,
                  coalesce(w.n_grams, 0) AS n_grams,
                  coalesce(w.log_weight, 0.0) AS log_weight
           FROM (SELECT DISTINCT doc_id FROM t) t LEFT JOIN w USING (doc_id))
SELECT doc_id, n_grams, log_weight,
       CAST(row_number() OVER (ORDER BY log_weight DESC, doc_id) AS INT)
         AS rnk,
       CAST(row_number() OVER (ORDER BY log_weight DESC, doc_id) AS INT) <= 100
         AS selected
FROM full_w
"""


def _q_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization (operators/urls.py) over deterministic
    synthetic crawl urls (page id = doc_id % 400 rendered through
    md5(doc_id)-driven surface variants); the oracle re-synthesizes
    the same urls and replays the RFC 3986 normalization chain."""
    from jochre3_ocr_spark.operators.urls import (
        canonicalize_urls,
        synthesize_urls,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return canonicalize_urls(synthesize_urls(docs, share_mod=400)).select(
        "doc_id", "url", "canonical_url", "host"
    )


# The synthesis + canonicalization chain shared by the web_url
# queries.  Note the 'g' flag on the slash-collapse regexp_replace —
# DuckDB replaces the first match by default, Spark replaces all.
# Kept as a bare CTE body (no WITH) so web_frontier can splice it
# after the PageRank CTEs; the uids name avoids the clash with
# _PAGERANK_CTE's ids.
_URL_CTE_BODY = """
uids AS (SELECT CAST(doc_id AS VARCHAR) AS doc_id,
                CAST(CAST(doc_id AS BIGINT) % 400 AS VARCHAR) AS pid
         FROM documents),
syn AS (SELECT doc_id,
  (CASE WHEN substr(md5('v:' || doc_id), 1, 1) < '8'
        THEN 'HTTPS://' ELSE 'https://' END)
  || (CASE WHEN substr(md5('v:' || doc_id), 2, 1) < '8'
           THEN upper('site-' || substr(md5(pid), 2, 2) || '.example.com')
           ELSE 'site-' || substr(md5(pid), 2, 2) || '.example.com' END)
  || (CASE WHEN substr(md5('v:' || doc_id), 3, 1) < '8'
           THEN ':443' ELSE '' END)
  || (CASE WHEN substr(md5('v:' || doc_id), 4, 1) < '8'
           THEN '/a//b/' ELSE '/a/b/' END)
  || pid
  || (CASE WHEN substr(md5('v:' || doc_id), 5, 1) < '8'
           THEN '/index.html' ELSE '/' END)
  || '?'
  || (CASE WHEN substr(md5('v:' || doc_id), 6, 1) < '8'
           THEN 'z=' || substr(md5(pid), 5, 1) || '&utm_source=feed&a=1'
           ELSE 'a=1&z=' || substr(md5(pid), 5, 1) END)
  || (CASE WHEN substr(md5('v:' || doc_id), 7, 1) < '8'
           THEN '#frag' ELSE '' END) AS url
  FROM uids),
parts AS (SELECT doc_id, url,
  lower(regexp_extract(url, '^([A-Za-z]+)://', 1)) AS scheme,
  lower(regexp_extract(url, '^[A-Za-z]+://([^/?#]*)', 1)) AS hostport,
  regexp_extract(url, '^[A-Za-z]+://[^/?#]*([^?#]*)', 1) AS raw_path,
  regexp_extract(url, '\\?([^#]*)', 1) AS raw_query
  FROM syn),
norm AS (SELECT doc_id, url, scheme,
  regexp_extract(hostport, '^([^:]*)', 1) AS host,
  CASE WHEN regexp_extract(hostport, ':(\\d+)$', 1) <> ''
        AND NOT ((scheme = 'https'
                  AND regexp_extract(hostport, ':(\\d+)$', 1) = '443')
              OR (scheme = 'http'
                  AND regexp_extract(hostport, ':(\\d+)$', 1) = '80'))
       THEN regexp_extract(hostport, '^([^:]*)', 1) || ':'
            || regexp_extract(hostport, ':(\\d+)$', 1)
       ELSE regexp_extract(hostport, '^([^:]*)', 1) END AS norm_host,
  regexp_replace(
    regexp_replace(CASE WHEN raw_path = '' THEN '/' ELSE raw_path END,
                   '/{2,}', '/', 'g'),
    '/index\\.html$', '/') AS path,
  array_to_string(list_sort(list_filter(string_split(raw_query, '&'),
    x -> x <> '' AND NOT starts_with(x, 'utm_'))), '&') AS query
  FROM parts),
canon AS (SELECT doc_id, url, host,
  scheme || '://' || norm_host || path
  || (CASE WHEN query = '' THEN '' ELSE '?' || query END) AS canonical_url
  FROM norm)
"""

_URL_CTE = "WITH " + _URL_CTE_BODY

# The robots rule synthesis + longest-match ranking, parameterized on
# the CTE holding (page_key, host, path) rows — shared by the verdict
# and frontier oracles.
_ROBOTS_RULES_BODY = """
rhosts AS (SELECT DISTINCT host FROM cpaths),
hd AS (SELECT host, md5('r:' || host) AS h,
       CASE WHEN substr(md5('r:' || host), 1, 1) < '6' THEN '1'
            WHEN substr(md5('r:' || host), 1, 1) < 'b' THEN '2'
            ELSE '3' END AS digit
       FROM rhosts),
rules AS (
  SELECT host, 'disallow' AS rule_type,
         '/a/b/' || digit AS path_prefix FROM hd
  UNION ALL
  SELECT host, 'allow', '/a/b/' || digit || substr(h, 3, 1) FROM hd
  WHERE substr(h, 2, 1) < '8'
  UNION ALL
  SELECT host, 'allow', '/a/b/' || digit FROM hd
  WHERE substr(h, 4, 1) < '4'),
hits AS (SELECT c.page_key, r.rule_type, r.path_prefix,
                row_number() OVER (
                  PARTITION BY c.page_key
                  ORDER BY length(r.path_prefix) DESC,
                           r.rule_type ASC, r.path_prefix ASC) AS rk
         FROM cpaths c JOIN rules r ON c.host = r.host
          AND left(c.path, length(r.path_prefix)) = r.path_prefix),
best AS (SELECT page_key, rule_type AS matched_type,
                path_prefix AS matched_prefix
         FROM hits WHERE rk = 1)
"""

_Q_URL_CANONICAL_DUCK = (
    _URL_CTE + "SELECT doc_id, url, canonical_url, host FROM canon"
)


def _q_host_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host crawl stats over the same synthetic urls
    (operators/urls.py:host_stats): docs, distinct canonical pages,
    and the duplicates URL canonicalization alone removes."""
    from jochre3_ocr_spark.operators.urls import host_stats, synthesize_urls

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return host_stats(synthesize_urls(docs, share_mod=400))


_Q_HOST_STATS_DUCK = _URL_CTE + """
SELECT host,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(DISTINCT canonical_url) AS BIGINT) AS n_canonical,
       CAST(count(*) - count(DISTINCT canonical_url) AS BIGINT)
         AS n_url_dupes
FROM canon GROUP BY host
"""


def _q_robots_verdicts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-policy filtering (operators/urls.py:robots_verdicts):
    per-host allow/disallow prefix rules applied to canonicalized urls
    with RFC 9309 §2.2.2 longest-match-wins semantics (allow wins an
    exact length tie).  The synthetic rules (md5(host)-steered) cover
    all three cases — plain disallow, deeper allow override, and the
    exact tie; the oracle re-synthesizes the rules and replays the
    match ranking in SQL."""
    from jochre3_ocr_spark.operators.urls import (
        robots_verdicts,
        synthesize_robots_rules,
        synthesize_urls,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    u = synthesize_urls(docs, share_mod=400)
    return robots_verdicts(u, synthesize_robots_rules(u))


_Q_ROBOTS_DUCK = _URL_CTE + """
, cpaths AS (SELECT doc_id AS page_key, host,
             regexp_extract(canonical_url,
                            '^[a-z]+://[^/?#]*([^?#]*)', 1) AS path
      FROM canon),
""" + _ROBOTS_RULES_BODY + """
SELECT c.page_key AS doc_id, c.host, c.path,
       b.matched_type, b.matched_prefix,
       (b.matched_type IS NULL OR b.matched_type = 'allow') AS allowed
FROM cpaths c LEFT JOIN best b USING (page_key)
"""




def _q_web_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer-arithmetic PageRank over the synthetic host link graph
    (operators/graphs.py) — the canonical iterative web-scale
    computation, 3 iterations.  Because every operation is integer
    (BIGINT units, DIV floors), the oracle replays all three
    iterations in SQL and the ranks are BIT-identical across engines
    and partitionings — a promise float PageRank cannot make."""
    from jochre3_ocr_spark.operators.graphs import (
        pagerank,
        synthesize_link_graph,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return pagerank(synthesize_link_graph(docs), iters=3)


# Shared by web_pagerank and web_domain_quality: synthesize the host
# edges and replay the three integer iterations.
_PAGERANK_CTE = """
WITH ids AS (SELECT CAST(doc_id AS VARCHAR) AS sid FROM documents),
e0 AS (
  SELECT 'h' || substr(md5('s:' || sid), 1, 2) AS src,
         'h' || least(substr(md5('d0:' || sid), 1, 1),
                      substr(md5('d0:' || sid), 2, 1))
             || substr(md5('d0:' || sid), 3, 1) AS dst FROM ids
  UNION ALL
  SELECT 'h' || substr(md5('s:' || sid), 1, 2),
         'h' || least(substr(md5('d1:' || sid), 1, 1),
                      substr(md5('d1:' || sid), 2, 1))
             || substr(md5('d1:' || sid), 3, 1) FROM ids
  UNION ALL
  SELECT 'h' || substr(md5('s:' || sid), 1, 2),
         'h' || least(substr(md5('d2:' || sid), 1, 1),
                      substr(md5('d2:' || sid), 2, 1))
             || substr(md5('d2:' || sid), 3, 1) FROM ids),
e AS (SELECT DISTINCT src, dst FROM e0 WHERE src <> dst),
deg AS (SELECT src, CAST(count(*) AS BIGINT) AS out_deg
        FROM e GROUP BY src),
indeg AS (SELECT dst AS node, CAST(count(*) AS BIGINT) AS in_deg
          FROM e GROUP BY dst),
nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
r0 AS (SELECT node, CAST(1000000000 AS BIGINT) AS rank FROM nodes),
i1 AS (SELECT e.dst AS node,
              CAST(sum(r.rank // deg.out_deg) AS BIGINT) AS inc
       FROM e JOIN r0 r ON e.src = r.node JOIN deg ON e.src = deg.src
       GROUP BY e.dst),
r1 AS (SELECT n.node,
              CAST(150000000 + (85 * coalesce(i.inc, 0)) // 100
                   AS BIGINT) AS rank
       FROM nodes n LEFT JOIN i1 i USING (node)),
i2 AS (SELECT e.dst AS node,
              CAST(sum(r.rank // deg.out_deg) AS BIGINT) AS inc
       FROM e JOIN r1 r ON e.src = r.node JOIN deg ON e.src = deg.src
       GROUP BY e.dst),
r2 AS (SELECT n.node,
              CAST(150000000 + (85 * coalesce(i.inc, 0)) // 100
                   AS BIGINT) AS rank
       FROM nodes n LEFT JOIN i2 i USING (node)),
i3 AS (SELECT e.dst AS node,
              CAST(sum(r.rank // deg.out_deg) AS BIGINT) AS inc
       FROM e JOIN r2 r ON e.src = r.node JOIN deg ON e.src = deg.src
       GROUP BY e.dst),
r3 AS (SELECT n.node,
              CAST(150000000 + (85 * coalesce(i.inc, 0)) // 100
                   AS BIGINT) AS rank
       FROM nodes n LEFT JOIN i3 i USING (node))
"""

_Q_PAGERANK_DUCK = _PAGERANK_CTE + """
SELECT r3.node, r3.rank,
       CAST(coalesce(deg.out_deg, 0) AS INT) AS out_deg,
       CAST(coalesce(indeg.in_deg, 0) AS INT) AS in_deg
FROM r3 LEFT JOIN deg ON r3.node = deg.src
        LEFT JOIN indeg ON r3.node = indeg.node
"""


def _q_web_domain_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Host authority × text quality → per-doc retention weight: the
    composition a corpus-selection pipeline actually runs (domain
    PageRank is a standard quality feature next to the text scorers).
    Every step is INTEGER (rank units × basis-point distinct ratio,
    DIV floors) so the oracle replays the whole composition — three
    PageRank iterations included — bit-exactly.  The ranks table is
    tiny (bounded host space) and explicitly broadcast: at 100 TB the
    docs side never shuffles for this join."""
    from jochre3_ocr_spark.operators.graphs import (
        pagerank,
        synthesize_link_graph,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    ranks = pagerank(synthesize_link_graph(docs), iters=3).select(
        F.col("node").alias("host"), F.col("rank").alias("host_rank")
    )
    feats = docs.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.concat(
            F.lit("h"),
            F.substring(
                F.md5(F.concat(F.lit("s:"), F.col("doc_id").cast("string"))),
                1,
                2,
            ),
        ).alias("host"),
        F.expr(
            "size(filter(split(text, ' '), x -> x <> ''))"
        ).alias("n_tokens"),
        F.expr(
            "CAST(10000 * size(array_distinct(filter(split(text, ' '),"
            " x -> x <> ''))) DIV size(filter(split(text, ' '),"
            " x -> x <> '')) AS INT)"
        ).alias("dr_bp"),
    )
    out = feats.join(F.broadcast(ranks), "host", "left").select(
        "doc_id",
        "host",
        F.coalesce("host_rank", F.lit(0)).alias("host_rank"),
        "n_tokens",
        "dr_bp",
        F.expr(
            "coalesce(host_rank, 0) * dr_bp DIV 10000"
        ).alias("weight"),
    )
    return out.withColumn("keep", F.col("weight") >= F.lit(500_000_000))


_Q_DOMAIN_QUALITY_DUCK = _PAGERANK_CTE + """
, feats AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id,
         'h' || substr(md5('s:' || CAST(doc_id AS VARCHAR)), 1, 2) AS host,
         CAST(len(list_filter(string_split(text, ' '), x -> x <> ''))
              AS INT) AS n_tokens,
         CAST((10000 * len(list_distinct(list_filter(
                  string_split(text, ' '), x -> x <> ''))))
              // len(list_filter(string_split(text, ' '), x -> x <> ''))
              AS INT) AS dr_bp
  FROM documents)
SELECT f.doc_id, f.host,
       coalesce(r3.rank, 0) AS host_rank,
       f.n_tokens, f.dr_bp,
       (coalesce(r3.rank, 0) * f.dr_bp) // 10000 AS weight,
       (coalesce(r3.rank, 0) * f.dr_bp) // 10000 >= 500000000 AS keep
FROM feats f LEFT JOIN r3 ON f.host = r3.node
"""


def _q_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-frontier priorities (operators/urls.py:
    frontier_priorities): the scheduler composition — canonical-page
    dedup pressure × robots policy × link-graph host authority, all
    integer.  Host authority comes from the 3-iteration integer
    PageRank over the synthetic host graph, bridged onto url hosts by
    the shared 2-hex host id; the oracle replays the ENTIRE
    composition (canonicalization, rule ranking, and all three
    PageRank iterations) in SQL."""
    from jochre3_ocr_spark.operators.graphs import (
        pagerank,
        synthesize_link_graph,
    )
    from jochre3_ocr_spark.operators.urls import (
        bridge_node_ranks,
        frontier_priorities,
        synthesize_robots_rules,
        synthesize_urls,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    u = synthesize_urls(docs, share_mod=400)
    ranks = bridge_node_ranks(pagerank(synthesize_link_graph(docs), iters=3))
    return frontier_priorities(u, synthesize_robots_rules(u), ranks)


_Q_FRONTIER_DUCK = (
    _PAGERANK_CTE
    + ", "
    + _URL_CTE_BODY
    + """,
pages AS (SELECT canonical_url, host,
                 CAST(count(*) AS BIGINT) AS n_variants,
                 regexp_extract(canonical_url,
                                '^[a-z]+://[^/?#]*([^?#]*)', 1) AS path
          FROM canon GROUP BY canonical_url, host),
cpaths AS (SELECT canonical_url AS page_key, host, path FROM pages),
"""
    + _ROBOTS_RULES_BODY
    + """
SELECT p.canonical_url, p.host, p.n_variants,
       CAST(coalesce(r3.rank, 0) AS BIGINT) AS host_rank,
       (b.matched_type IS NULL OR b.matched_type = 'allow') AS allowed,
       CAST(CASE WHEN (b.matched_type IS NULL OR b.matched_type = 'allow')
                 THEN coalesce(r3.rank, 0) // p.n_variants
                 ELSE 0 END AS BIGINT) AS priority
FROM pages p
LEFT JOIN best b ON p.canonical_url = b.page_key
LEFT JOIN r3
  ON p.host = 'site-' || substr(r3.node, 2, 2) || '.example.com'
"""
)


def _q_frontier_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host crawl budget (operators/urls.py:frontier_budget): the
    top-3 allowed canonical pages per host by (priority DESC, url ASC)
    — the polite scheduler's per-round enqueue.  The oracle replays
    the whole frontier composition and ranks with QUALIFY."""
    from jochre3_ocr_spark.operators.urls import frontier_budget

    return frontier_budget(_q_frontier(spark, sf_dir), per_host=3)


_Q_FRONTIER_BUDGET_DUCK = (
    "WITH f AS (" + _Q_FRONTIER_DUCK + """)
SELECT canonical_url, host, n_variants, host_rank, allowed, priority,
       CAST(host_rank_pos AS INT) AS host_rank_pos
FROM (
  SELECT *, row_number() OVER (
           PARTITION BY host
           ORDER BY priority DESC, canonical_url ASC) AS host_rank_pos
  FROM f WHERE allowed) t
WHERE host_rank_pos <= 3
"""
)


def _q_snapshot_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recrawl snapshot diffing (operators/urls.py:snapshot_delta):
    old = the documents table; new = a deterministic recrawl of it
    (doc_id%7==0 vanished, doc_id%5==0 changed text, doc_id%11==0
    spawned a fresh page under id+1000000).  The oracle re-synthesizes
    the recrawl and replays the full-outer fingerprint compare."""
    from jochre3_ocr_spark.operators.urls import snapshot_delta

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    survivors = docs.where("doc_id % 7 != 0").select(
        "doc_id",
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(F.col("text"), F.lit(" recrawled")),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    added = docs.where("doc_id % 11 = 0").select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat(F.lit("new page "), F.col("doc_id").cast("string")).alias(
            "text"
        ),
    )
    return snapshot_delta(docs, survivors.unionByName(added))


_Q_SNAPSHOT_DELTA_DUCK = """
WITH o AS (SELECT doc_id, md5(coalesce(text, '')) AS old_fp
           FROM documents),
n AS (
  SELECT doc_id,
         md5(coalesce(CASE WHEN doc_id % 5 = 0 THEN text || ' recrawled'
                           ELSE text END, '')) AS new_fp
  FROM documents WHERE doc_id % 7 <> 0
  UNION ALL
  SELECT doc_id + 1000000,
         md5('new page ' || CAST(doc_id AS VARCHAR))
  FROM documents WHERE doc_id % 11 = 0)
SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
       CASE WHEN o.doc_id IS NULL THEN 'added'
            WHEN n.doc_id IS NULL THEN 'removed'
            WHEN o.old_fp = n.new_fp THEN 'unchanged'
            ELSE 'changed' END AS verdict,
       o.old_fp, n.new_fp
FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id
"""


def _q_web_anchor_texts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host top-3 incoming anchor texts (operators/graphs.py:
    anchor_text_topk) over the synthetic anchored link graph — what
    the web SAYS a host is about.  One hot-key-absorbing count agg +
    a window over the aggregated table; the oracle re-synthesizes the
    same anchors and replays the ranking with QUALIFY."""
    from jochre3_ocr_spark.operators.graphs import (
        anchor_text_topk,
        synthesize_anchor_edges,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return anchor_text_topk(synthesize_anchor_edges(docs), k=3)


def _anchor_branch(k: int) -> str:
    h = f"md5('d{k}:' || sid)"
    return f"""
  SELECT 'h' || substr(md5('s:' || sid), 1, 2) AS src,
         'h' || least(substr({h}, 1, 1), substr({h}, 2, 1))
             || substr({h}, 3, 1) AS dst,
         t[1 + (ascii(substr({h}, 4, 1)) * 31
                + ascii(substr({h}, 5, 1))) % (len(t) - 1)]
         || ' ' ||
         t[2 + (ascii(substr({h}, 4, 1)) * 31
                + ascii(substr({h}, 5, 1))) % (len(t) - 1)] AS anchor
  FROM t0 WHERE len(t) >= 2"""


_Q_ANCHOR_TEXTS_DUCK = (
    """
WITH t0 AS (SELECT CAST(doc_id AS VARCHAR) AS sid,
                   list_filter(string_split(text, ' '), x -> x <> '') AS t
            FROM documents),
e0 AS ("""
    + " UNION ALL ".join(_anchor_branch(k) for k in range(3))
    + """),
c AS (SELECT dst AS host, anchor, CAST(count(*) AS BIGINT) AS n_links
      FROM e0 GROUP BY 1, 2)
SELECT host, anchor, n_links,
       CAST(row_number() OVER (PARTITION BY host
                               ORDER BY n_links DESC, anchor) AS INT)
         AS rnk
FROM c
QUALIFY rnk <= 3
"""
)


def _q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental shard dedup (operators/dedup.py:
    incremental_dedup_verdicts): docs with doc_id % 3 = 0 arrive as the
    NEW shard and are deduped against the OTHER two-thirds' persisted
    band table plus themselves — corpus text untouched, shard bands
    broadcast.  The oracle replays the whole construction UNCAPPED
    (bands for both splits, corpus-hit min, recursive-CTE components,
    canonical-wins verdicts); its green row re-proves the bucket cap's
    cluster invariance on this composition."""
    from jochre3_ocr_spark.operators.dedup import (
        incremental_dedup_verdicts,
        minhash_band_table,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    band_table = minhash_band_table(docs.filter("doc_id % 3 <> 0"))
    return incremental_dedup_verdicts(
        docs.filter("doc_id % 3 = 0"), band_table
    )


_Q_DEDUP_INCREMENTAL_DUCK = """
WITH RECURSIVE toks AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id,
         CAST(doc_id AS BIGINT) % 3 = 0 AS is_shard,
         list_filter(string_split(text, ' '), x -> x <> '') AS t
  FROM documents
),
sh AS (
  SELECT doc_id, is_shard,
         unnest(list_distinct(
           list_transform(range(1, len(t) - 1),
                          i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
         )) AS shingle
  FROM toks
  WHERE len(t) >= 3
),
mh AS (
  SELECT doc_id, is_shard, s,
         min(md5(CAST(s AS VARCHAR) || ':' || shingle)) AS mh
  FROM sh CROSS JOIN range(0, 8) r(s)
  GROUP BY doc_id, is_shard, s
),
bands AS (
  SELECT doc_id, is_shard, CAST(s // 2 AS INT) AS band,
         md5(string_agg(mh, ',' ORDER BY s)) AS band_hash
  FROM mh
  GROUP BY doc_id, is_shard, CAST(s // 2 AS INT)
),
sb AS (SELECT doc_id, band, band_hash FROM bands WHERE is_shard),
cb AS (SELECT doc_id, band, band_hash FROM bands WHERE NOT is_shard),
hits AS (
  SELECT s.doc_id, min(c.doc_id) AS corpus_dup
  FROM sb s JOIN cb c
    ON s.band = c.band AND s.band_hash = c.band_hash
  GROUP BY s.doc_id
),
pairs AS (
  SELECT DISTINCT a.doc_id AS doc1, b.doc_id AS doc2
  FROM sb a JOIN sb b
    ON a.band = b.band AND a.band_hash = b.band_hash
   AND a.doc_id < b.doc_id
),
edges AS (
  SELECT doc1 AS src, doc2 AS dst FROM pairs
  UNION
  SELECT doc2, doc1 FROM pairs
),
cc(node, label) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.src, cc.label FROM edges e JOIN cc ON cc.node = e.dst
),
comp AS (SELECT node, min(label) AS cid FROM cc GROUP BY node),
fulls AS (
  SELECT t.doc_id, coalesce(comp.cid, t.doc_id) AS cluster_id,
         hits.corpus_dup
  FROM (SELECT DISTINCT doc_id FROM toks WHERE is_shard) t
  LEFT JOIN comp ON t.doc_id = comp.node
  LEFT JOIN hits ON t.doc_id = hits.doc_id
),
ch AS (SELECT cluster_id, min(corpus_dup) AS ccd
       FROM fulls GROUP BY cluster_id)
SELECT f.doc_id, f.cluster_id,
       CASE WHEN ch.ccd IS NOT NULL THEN FALSE
            ELSE f.doc_id = f.cluster_id END AS keep,
       CASE WHEN ch.ccd IS NOT NULL THEN ch.ccd
            WHEN f.doc_id <> f.cluster_id THEN f.cluster_id
            ELSE NULL END AS duplicate_of
FROM fulls f JOIN ch USING (cluster_id)
"""


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the extraction engine over sf0.001 documents."""
    return _extract_processed_text(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from jochre3_ocr_spark.operators import dedup, similarity, text_metrics

    return {
        "extract_processed_text": _extract_processed_text,
        "extract_span_stats": _extract_span_stats,
        "extract_yiddish_corpus": _extract_yiddish_corpus,
        "extract_yiddish_beam": _extract_yiddish_beam,
        "q1_pricing_summary": _sql(_Q1),
        "q3_shipping_priority": _sql(_Q3_SPARK),
        "q5_local_supplier_volume": _sql(_Q5),
        "q_window_top_lineitems": _sql(_Q_WINDOW),
        "q_semi_anti_customers": _sql(_Q_SEMI_ANTI),
        "q6_forecast_revenue": _sql(_Q6),
        "q_setops_customers": _sql(_Q_SETOPS),
        "q_rollup_lineitem": _sql(_Q_ROLLUP),
        "q_grouping_sets": _sql(_Q_GROUPING_SETS),
        "q_percentiles": _sql(_Q_PERCENTILES_SPARK),
        "q_events_hourly": _sql(_Q_EVENTS_SPARK),
        "q_events_sessions": _sql(_Q_SESSIONS_SPARK),
        "dedup_exact": _on(
            "documents",
            lambda d: dedup.exact_dedup(d, prefix=40).withColumnRenamed(
                "text_hash", "prefix_hash"
            ),
        ),
        "dedup_ngram_jaccard": _on(
            "documents", partial(dedup.ngram_jaccard_pairs, max_df=50)
        ),
        "dedup_minhash_signature": _on("documents", dedup.minhash_signatures),
        "dedup_simhash": _on("documents", dedup.simhash),
        "ann_cosine_topk": _on(
            "embeddings",
            partial(similarity.cosine_topk, query_filter="vec_id < 5", k=5),
        ),
        "embedding_centroids": _sql(_Q_CENTROIDS_SPARK),
        "text_quality": _on("documents", text_metrics.quality_features),
        "doc_fingerprint": _on("documents", text_metrics.fingerprints),
        "token_stats_by_source": _on("documents", text_metrics.token_stats),
        "eval_text_metrics": _sql(_Q_EVAL_SPARK),
        "lang_id_heuristic": _on("documents", text_metrics.language_id),
        "ocr_layout_end_to_end": _ocr_layout_end_to_end,
        "media_image_features": _media_features,
        "skew_eval_stats": _skew_eval_stats,
        "ann_ivf_topk": _on(
            "embeddings",
            partial(similarity.ivf_topk, query_filter="vec_id < 5", k=3, n_cells=8),
        ),
        "dedup_embedding_neardup": _on(
            "embeddings", similarity.cosine_neardup_pairs
        ),
        "dehyphenate_corpus": _dehyphenate_corpus,
        "word_frequency_corpus": _word_frequency_corpus,
        "dedup_minhash_lsh": _on(
            "documents", partial(dedup.minhash_lsh_candidates, max_bucket=3)
        ),
        "dedup_duplicate_clusters": _dedup_clusters,
        "dedup_clusters_full": _dedup_clusters_full,
        "dedup_leakage_splits": _dedup_leakage_splits,
        "dedup_corpus_verdicts": _dedup_corpus_verdicts,
        "dedup_adversarial_density": _dedup_adversarial_density,
        "html_main_content": _html_main_content,
        "html_extraction_e2e": _html_extraction_e2e,
        "corpus_chunking": _corpus_chunking,
        "corpus_packing": _corpus_packing,
        "corpus_decontaminate": _corpus_decontaminate,
        "corpus_sample": _corpus_sample,
        "interleaved_chunks": _interleaved_chunks,
        "corpus_filter_verdicts": _corpus_filter_verdicts,
        "dedup_simhash_neardup": _on(
            "documents",
            partial(
                dedup.simhash_neardup_pairs,
                max_hamming=1, bits=64, n_bands=4, max_bucket=3,
            ),
        ),
        "pdf_page_scan": _pdf_page_scan,
        "token_counts_bpe": _token_counts_bpe,
        "ann_ivf_kmeans_topk": _ann_ivf_kmeans_topk,
        "ann_pq_topk": _ann_pq_topk,
        "dedup_semantic": _q_semantic_dedup,
        "ann_ivfpq_topk": _ann_ivfpq_topk,
        "media_av_features": _media_av_features,
        "corpus_word_crop_labels": _corpus_word_crop_labels,
        "layout_predict_boxes": _layout_predict_boxes,
        "q_events_asof_join": _q_events_asof,
        "q_events_range_join": _q_events_range_join,
        "dedup_substring_spans": _q_dedup_substring_spans,
        "dedup_substring_strip": _q_dedup_substring_strip,
        "corpus_contaminated_spans": _q_contaminated_spans,
        "corpus_decontaminate_spans": _q_decontaminate_spans,
        "corpus_contamination_stats": _q_contamination_stats,
        "corpus_repetition_features": _q_repetition_features,
        "corpus_lm_scores": _q_bigram_lm_scores,
        "corpus_nb_langid": _q_nb_langid,
        "corpus_tfidf_terms": _q_tfidf_top_terms,
        "corpus_decontaminate_jaccard": _q_decontaminate_jaccard,
        "q_pivot_orders": _q_pivot_orders,
        "corpus_redact_pii": _q_redact_pii,
        "corpus_bpe_merges": _q_bpe_merge_candidates,
        "corpus_bpe_train": _q_bpe_train,
        "corpus_bpe_encode": _q_bpe_encode,
        "corpus_vocab_coverage": _q_vocab_coverage,
        "corpus_mixture_plan": _q_mixture_plan,
        "corpus_inverted_index": _q_inverted_index,
        "q_correlated_parts": _q_correlated_parts,
        "ann_lsh_topk": _q_ann_lsh_topk,
        "corpus_cms_heavy_hitters": _q_cms_heavy_hitters,
        "corpus_bloom_decontaminate": _q_bloom_decontaminate,
        "corpus_bloom_packed": _q_bloom_packed,
        "corpus_dsir_weights": _q_dsir_weights,
        "web_url_canonical": _q_url_canonical,
        "web_host_stats": _q_host_stats,
        "web_robots_verdicts": _q_robots_verdicts,
        "web_frontier": _q_frontier,
        "web_snapshot_delta": _q_snapshot_delta,
        "web_frontier_budget": _q_frontier_budget,
        "web_pagerank": _q_web_pagerank,
        "web_domain_quality": _q_web_domain_quality,
        "dedup_incremental_shard": _q_dedup_incremental,
        "web_anchor_texts": _q_web_anchor_texts,
    }


def oracle_sql() -> dict[str, str]:
    return {
        "extract_processed_text": _ORACLE_PROCESSED_TEXT,
        "extract_span_stats": _ORACLE_SPAN_STATS,
        "extract_yiddish_corpus": _ORACLE_YIDDISH_CORPUS,
        "extract_yiddish_beam": _ORACLE_YIDDISH_BEAM,
        "ocr_layout_end_to_end": _ORACLE_OCR_E2E,
        "dehyphenate_corpus": _Q_DEHYPH_DUCK,
        "word_frequency_corpus": _Q_WORDFREQ_DUCK,
        "media_image_features": _Q_MEDIA_IMAGE_DUCK,
        "pdf_page_scan": _Q_PDF_DUCK,
        "media_av_features": _Q_MEDIA_AV_DUCK,
        "corpus_word_crop_labels": _Q_CORPUS_WORD_LABELS_DUCK,
        "q1_pricing_summary": _Q1,
        "q3_shipping_priority": _Q3_DUCK,
        "q5_local_supplier_volume": _Q5,
        "q_window_top_lineitems": _Q_WINDOW,
        "q_semi_anti_customers": _Q_SEMI_ANTI,
        "q6_forecast_revenue": _Q6,
        "q_setops_customers": _Q_SETOPS,
        "q_rollup_lineitem": _Q_ROLLUP,
        "q_grouping_sets": _Q_GROUPING_SETS,
        "q_percentiles": _Q_PERCENTILES_DUCK,
        "q_events_hourly": _Q_EVENTS_DUCK,
        "q_events_sessions": _Q_SESSIONS_DUCK,
        "dedup_exact": _Q_DEDUP_EXACT_DUCK,
        "dedup_ngram_jaccard": _Q_NGRAM_JACCARD_DUCK,
        "dedup_minhash_signature": _Q_MINHASH_DUCK,
        "dedup_simhash": _Q_SIMHASH_DUCK,
        "ann_cosine_topk": _Q_ANN_DUCK,
        "embedding_centroids": _Q_CENTROIDS_DUCK,
        "text_quality": _Q_QUALITY_DUCK,
        "doc_fingerprint": _Q_FINGERPRINT_DUCK,
        "token_stats_by_source": _Q_TOKEN_STATS,
        "eval_text_metrics": _Q_EVAL_DUCK,
        "lang_id_heuristic": _Q_LANGID_DUCK,
        "ann_ivf_topk": _Q_IVF_DUCK,
        "dedup_embedding_neardup": _Q_EMB_NEARDUP_DUCK,
        "dedup_minhash_lsh": _Q_LSH_DUCK,
        "dedup_duplicate_clusters": _Q_DEDUP_CLUSTERS_DUCK,
        "dedup_clusters_full": _Q_DEDUP_CLUSTERS_FULL_DUCK,
        "dedup_leakage_splits": _Q_LEAKAGE_SPLITS_DUCK,
        "dedup_corpus_verdicts": _Q_DEDUP_CORPUS_DUCK,
        "dedup_adversarial_density": _Q_DEDUP_ADVERSARIAL_DUCK,
        "html_main_content": _Q_HTML_MAIN_DUCK,
        "html_extraction_e2e": _Q_HTML_E2E_DUCK,
        "corpus_chunking": _Q_CHUNKING_DUCK,
        "corpus_packing": _Q_PACKING_DUCK,
        "corpus_decontaminate": _Q_DECONTAM_DUCK,
        "corpus_sample": _Q_SAMPLE_DUCK,
        "interleaved_chunks": _Q_INTERLEAVED_DUCK,
        "corpus_filter_verdicts": _Q_FILTER_VERDICTS_DUCK,
        "dedup_simhash_neardup": _Q_SIMHASH_ND_DUCK,
        "token_counts_bpe": _Q_BPE_DUCK,
        "ann_ivf_kmeans_topk": _Q_IVF_KMEANS_DUCK,
        "ann_pq_topk": _Q_IVF_KMEANS_DUCK,
        "dedup_semantic": _Q_SEMDEDUP_DUCK,
        "ann_ivfpq_topk": _Q_IVF_KMEANS_DUCK,
        "skew_eval_stats": _Q_SKEW_DUCK,
        "layout_predict_boxes": _Q_LAYOUT_BOXES_DUCK,
        "q_events_asof_join": _Q_ASOF_DUCK,
        "q_events_range_join": _Q_RANGE_JOIN_DUCK,
        "dedup_substring_spans": _Q_SUBSTR_SPANS_DUCK,
        "dedup_substring_strip": _Q_SUBSTR_STRIP_DUCK,
        "corpus_contaminated_spans": _Q_CONTAM_SPANS_DUCK,
        "corpus_decontaminate_spans": _Q_DECONTAM_SPANS_DUCK,
        "corpus_contamination_stats": _Q_CONTAM_STATS_DUCK,
        "corpus_repetition_features": _Q_REPETITION_DUCK,
        "corpus_lm_scores": _Q_BIGRAM_LM_DUCK,
        "corpus_nb_langid": _Q_NB_LANGID_DUCK,
        "corpus_tfidf_terms": _Q_TFIDF_DUCK,
        "corpus_decontaminate_jaccard": _Q_DECONTAM_JACCARD_DUCK,
        "q_pivot_orders": _Q_PIVOT_DUCK,
        "corpus_redact_pii": _Q_REDACT_DUCK,
        "corpus_bpe_merges": _Q_BPE_MERGE_DUCK,
        "corpus_bpe_train": _Q_BPE_TRAIN_DUCK,
        "corpus_bpe_encode": _Q_BPE_ENCODE_DUCK,
        "corpus_vocab_coverage": _Q_VOCAB_COVERAGE_DUCK,
        "corpus_mixture_plan": _Q_MIXTURE_DUCK,
        "corpus_inverted_index": _Q_INVERTED_INDEX_DUCK,
        "q_correlated_parts": _Q_CORRELATED_DUCK,
        "ann_lsh_topk": _Q_ANN_LSH_DUCK,
        "corpus_cms_heavy_hitters": _Q_CMS_DUCK,
        "corpus_bloom_decontaminate": _Q_BLOOM_DUCK,
        "corpus_bloom_packed": _Q_BLOOM_DUCK,
        "corpus_dsir_weights": _Q_DSIR_DUCK,
        "web_url_canonical": _Q_URL_CANONICAL_DUCK,
        "web_host_stats": _Q_HOST_STATS_DUCK,
        "web_robots_verdicts": _Q_ROBOTS_DUCK,
        "web_frontier": _Q_FRONTIER_DUCK,
        "web_snapshot_delta": _Q_SNAPSHOT_DELTA_DUCK,
        "web_frontier_budget": _Q_FRONTIER_BUDGET_DUCK,
        "web_pagerank": _Q_PAGERANK_DUCK,
        "web_domain_quality": _Q_DOMAIN_QUALITY_DUCK,
        "dedup_incremental_shard": _Q_DEDUP_INCREMENTAL_DUCK,
        "web_anchor_texts": _Q_ANCHOR_TEXTS_DUCK,
        # every queries() entry is oracle-checked.
    }
