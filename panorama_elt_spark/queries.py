"""Query registry: every SURVEY.md §2 operator expressed twice —
as a Spark-first DataFrame pipeline and as an ANSI/DuckDB oracle SQL
string. The driver cross-checks them (row count + schema + value hash),
so column names and types are aligned pair-wise.

Naming maps to the SURVEY operator inventory: j* joins, a* aggregates,
p* predicates, w* window/LWW, k* sink/view semantics, f* scalar
functions, d* dedup suite, s* similarity search, t* text analysis,
m* multimodal, cdc_* the engine itself.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

from .functions.normalize import escape_control_chars
from .functions.typed_view import raw_string_columns, typed_view_columns
from .operators import multimodal, nested, similarity, text, textdedup
from .operators.relational import (
    anti_join,
    argminmax_summary,
    changed_keys,
    conditional_count_pivot,
    fill_parents,
    left_join_chain,
    lww_latest_window,
    semi_join,
)
from .sources.testdata import load_table

QueryFn = Callable[[SparkSession, str], DataFrame]

# ---------------------------------------------------------------------------
# shared SQL fragments (DuckDB dialect) mirroring the Spark expressions
# ---------------------------------------------------------------------------

_SQL_TOKENS = r"string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')"
_SQL_SHINGLES = (
    "CASE WHEN len(w) >= 3 THEN [array_to_string(w[i:i+2], ' ') for i in range(1, len(w)-1)] "
    "ELSE CAST([] AS VARCHAR[]) END"
)


def _sql_h56(expr: str) -> str:
    return f"CAST('0x' || substr(md5({expr}), 1, 14) AS BIGINT)"


def _sql_lang_score(lang_words: list[str]) -> str:
    lits = ", ".join(f"'{w}'" for w in lang_words)
    return f"len(list_filter(w, t -> list_contains([{lits}], t)))"


# ---------------------------------------------------------------------------
# J1 — multi-way LEFT join chain with scalar functions F4-F7
# (openedx_view_enrollments.sql:40-49)
# ---------------------------------------------------------------------------

def j1_left_join_chain(spark: SparkSession, sf: str) -> DataFrame:
    li = load_table(spark, sf, "lineitem")
    # broadcast only bounded dims (nation=25, region=5, supplier, part);
    # orders/customer grow with the fact table — broadcasting them OOMs
    # at scale, so they are left unhinted for AQE to plan (shuffled join
    # at 100 TB, runtime broadcast at toy SF).
    joined = left_join_chain(
        li,
        [
            (load_table(spark, sf, "orders"), F.col("l_orderkey") == F.col("o_orderkey")),
            (load_table(spark, sf, "customer"), F.col("o_custkey") == F.col("c_custkey")),
            (load_table(spark, sf, "nation"), F.col("c_nationkey") == F.col("n_nationkey"), True),
            (load_table(spark, sf, "region"), F.col("n_regionkey") == F.col("r_regionkey"), True),
            (load_table(spark, sf, "part"), F.col("l_partkey") == F.col("p_partkey"), True),
            (load_table(spark, sf, "supplier"), F.col("l_suppkey") == F.col("s_suppkey"), True),
        ],
    )
    return joined.select(
        "l_orderkey",
        "l_linenumber",
        "c_name",
        "n_name",
        "r_name",
        "p_brand",
        "s_name",
        F.datediff(F.to_date(F.lit("1998-12-01")), F.col("o_orderdate")).alias("order_age_days"),
        F.col("o_orderpriority").like("1%").alias("is_urgent"),
        F.round(F.col("l_discount") * 100, 1).alias("discount_pct"),
        (F.col("o_orderstatus") == "F").alias("status_f"),
    )


_J1_SQL = """
SELECT l.l_orderkey, l.l_linenumber, c.c_name, n.n_name, r.r_name, p.p_brand, s.s_name,
       CAST(date_diff('day', o.o_orderdate, DATE '1998-12-01') AS INTEGER) AS order_age_days,
       o.o_orderpriority LIKE '1%' AS is_urgent,
       round(l.l_discount * 100, 1) AS discount_pct,
       (o.o_orderstatus = 'F') AS status_f
FROM lineitem l
LEFT JOIN orders o   ON l.l_orderkey = o.o_orderkey
LEFT JOIN customer c ON o.o_custkey = c.c_custkey
LEFT JOIN nation n   ON c.c_nationkey = n.n_nationkey
LEFT JOIN region r   ON n.n_regionkey = r.r_regionkey
LEFT JOIN part p     ON l.l_partkey = p.p_partkey
LEFT JOIN supplier s ON l.l_suppkey = s.s_suppkey
"""

# ---------------------------------------------------------------------------
# A1 — count_if pivot (openedx_view_student_courseaccessrole.sql:1-12)
# ---------------------------------------------------------------------------

def a1_conditional_count_pivot(spark: SparkSession, sf: str) -> DataFrame:
    orders = load_table(spark, sf, "orders")
    return conditional_count_pivot(
        orders,
        ["o_custkey"],
        {
            "n_open": F.col("o_orderstatus") == "O",
            "n_finished": F.col("o_orderstatus") == "F",
            "n_pending": F.col("o_orderstatus") == "P",
            "n_urgent": F.col("o_orderpriority").like("1%"),
        },
        extra_aggs={
            "n_orders": F.count("*"),
            "max_price": F.max("o_totalprice"),
        },
    )


_A1_SQL = """
SELECT o_custkey,
       CAST(count_if(o_orderstatus = 'O') AS BIGINT) AS n_open,
       CAST(count_if(o_orderstatus = 'F') AS BIGINT) AS n_finished,
       CAST(count_if(o_orderstatus = 'P') AS BIGINT) AS n_pending,
       CAST(count_if(o_orderpriority LIKE '1%') AS BIGINT) AS n_urgent,
       count(*) AS n_orders,
       max(o_totalprice) AS max_price
FROM orders GROUP BY o_custkey
"""

# ---------------------------------------------------------------------------
# A2+A3 — argmin/argmax + ordered list-agg→CSV
# (openedx_view_student_manualenrollment.sql:1-16)
# ---------------------------------------------------------------------------

def a2_argminmax_csv_agg(spark: SparkSession, sf: str) -> DataFrame:
    events = load_table(spark, sf, "events")
    return argminmax_summary(
        events,
        ["user_id"],
        order_col="event_id",
        firsts={"first_type": "event_type"},
        lasts={"last_type": "event_type"},
        csv_cols={"types_csv": "event_type"},
        extra_aggs={
            "n_events": F.count("*"),
            "first_ts": F.min("ts"),
            "last_ts": F.max("ts"),
            # decimal internally (exact, order-independent sum), DOUBLE on
            # the wire — DECIMAL output hashes differently in the driver
            "total_value": F.sum(F.col("value").cast("decimal(18,2)")).cast("double"),
        },
    )


_A2_SQL = """
SELECT user_id,
       arg_min(event_type, event_id) AS first_type,
       arg_max(event_type, event_id) AS last_type,
       string_agg(event_type, ',' ORDER BY event_id) AS types_csv,
       count(*) AS n_events,
       min(ts) AS first_ts,
       max(ts) AS last_ts,
       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events GROUP BY user_id
"""

# ---------------------------------------------------------------------------
# P4+P6 — incremental change discovery: distinct keys in lookback window
# (mysql_datasource.py:258-272)
# ---------------------------------------------------------------------------

def p4_changed_keys(spark: SparkSession, sf: str) -> DataFrame:
    events = load_table(spark, sf, "events")
    return changed_keys(events, ["user_id", "event_type"], "ts", "INTERVAL 2 HOURS")


_P4_SQL = """
SELECT DISTINCT user_id, event_type
FROM events
WHERE ts >= (SELECT max(ts) - INTERVAL 2 HOUR FROM events)
"""

# ---------------------------------------------------------------------------
# W1/W2 — last-writer-wins (the CDC dedup core, two physical strategies)
# ---------------------------------------------------------------------------

def w1_lww_latest_window(spark: SparkSession, sf: str) -> DataFrame:
    events = load_table(spark, sf, "events")
    return lww_latest_window(
        events.select("user_id", "event_type", "event_id", "ts", "value"),
        ["user_id", "event_type"],
        ["ts", "event_id"],
    )


_W1_SQL = """
SELECT user_id, event_type, event_id, ts, value FROM (
  SELECT user_id, event_type, event_id, ts, value,
         row_number() OVER (PARTITION BY user_id, event_type ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
) WHERE rn = 1
"""


def w2_lww_latest_agg(spark: SparkSession, sf: str) -> DataFrame:
    events = load_table(spark, sf, "events")
    packed = F.max_by(
        F.struct(F.col("event_id"), F.col("ts"), F.col("value")),
        F.struct(F.col("ts"), F.col("event_id")),
    ).alias("w")
    return (
        events.groupBy("user_id", "event_type")
        .agg(packed)
        .select(
            "user_id",
            "event_type",
            F.col("w.event_id").alias("last_event_id"),
            F.col("w.ts").alias("last_ts"),
            F.col("w.value").alias("last_value"),
        )
    )


_W2_SQL = """
SELECT user_id, event_type, event_id AS last_event_id, ts AS last_ts, value AS last_value FROM (
  SELECT user_id, event_type, event_id, ts, value,
         row_number() OVER (PARTITION BY user_id, event_type ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
) WHERE rn = 1
"""

# ---------------------------------------------------------------------------
# K5 — typed view: raw all-string layer → TRY_CAST typed view
# (panorama_datalake.py:372-415) + F9 microsecond formatting round-trip
# ---------------------------------------------------------------------------

def k5_typed_view_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    li = load_table(spark, sf, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_returnflag", "l_shipdate"
    )
    raw = li.select(raw_string_columns(li))
    return raw.select(
        typed_view_columns(
            {
                "l_orderkey": "BIGINT",
                "l_linenumber": "INT",
                "l_quantity": "DOUBLE",
                "l_returnflag": "VARCHAR",
                "l_shipdate": "DATETIME",
            }
        )
    )


_K5_SQL = """
SELECT TRY_CAST(CAST(l_orderkey AS VARCHAR) AS BIGINT) AS l_orderkey,
       TRY_CAST(CAST(l_linenumber AS VARCHAR) AS BIGINT) AS l_linenumber,
       TRY_CAST(CAST(l_quantity AS VARCHAR) AS DOUBLE) AS l_quantity,
       NULLIF(CAST(l_returnflag AS VARCHAR), 'NULL') AS l_returnflag,
       try_strptime(strftime(l_shipdate, '%Y-%m-%d %H:%M:%S.%f'), '%Y-%m-%d %H:%M:%S.%f') AS l_shipdate
FROM lineitem
"""

# ---------------------------------------------------------------------------
# J3 — semi / anti joins (the Mongo $in semi-join niche)
# ---------------------------------------------------------------------------

def j3_semi_join(spark: SparkSession, sf: str) -> DataFrame:
    customer = load_table(spark, sf, "customer")
    orders = load_table(spark, sf, "orders").withColumnRenamed("o_custkey", "c_custkey")
    return semi_join(customer, orders, ["c_custkey"]).select("c_custkey", "c_name")


_J3_SQL = """
SELECT c_custkey, c_name FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
"""


def j3b_anti_join(spark: SparkSession, sf: str) -> DataFrame:
    customer = load_table(spark, sf, "customer")
    orders = load_table(spark, sf, "orders").withColumnRenamed("o_custkey", "c_custkey")
    return anti_join(customer, orders, ["c_custkey"]).select("c_custkey", "c_name")


_J3B_SQL = """
SELECT c_custkey, c_name FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
"""

# ---------------------------------------------------------------------------
# J4 — bounded parent-child tree fill (course_structures fill_parents)
# ---------------------------------------------------------------------------

def j4_tree_fill(spark: SparkSession, sf: str) -> DataFrame:
    region = load_table(spark, sf, "region")
    nation = load_table(spark, sf, "nation").join(
        F.broadcast(region), on=F.col("n_regionkey") == F.col("r_regionkey"), how="left"
    )
    customer = load_table(spark, sf, "customer").join(
        F.broadcast(load_table(spark, sf, "nation")),
        on=F.col("c_nationkey") == F.col("n_nationkey"),
        how="left",
    )
    return fill_parents(
        [
            (region, "r_name", None),
            (nation, "n_name", "r_name"),
            (customer, "c_name", "n_name"),
        ]
    )


_J4_SQL = """
SELECT r_name AS node, CAST(NULL AS VARCHAR) AS parent, CAST(0 AS INTEGER) AS level FROM region
UNION ALL
SELECT n.n_name, r.r_name, 1 FROM nation n LEFT JOIN region r ON n.n_regionkey = r.r_regionkey
UNION ALL
SELECT c.c_name, n.n_name, 2 FROM customer c LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
"""

# ---------------------------------------------------------------------------
# S5 + J4b — nested-document source: existence filter on a nested field,
# struct-array flatten, and the true fill_parents attribute copy-down.
# The deterministic nested fixture is materialized to a fixed parquet
# path (same pattern as the CDC log) so DuckDB can verify with UNNEST +
# a recursive CTE.
# ---------------------------------------------------------------------------

_NESTED_WRITTEN = False


def _scratch_root(name: str) -> str:
    """Fixed per-process scratch root (RAM-backed when available) for
    fixtures a query persists so its DuckDB oracle can read the same
    bytes. The PID suffix keeps concurrent runs (bench.py next to
    tools/check_oracle.py) from rmtree-ing each other's fixtures
    mid-read; within one process — the driver runs the Spark query and
    its oracle in the same process — the path is deterministic, because
    ``oracle_sql()`` is evaluated by that same process."""
    import tempfile

    base = "/dev/shm" if os.path.isdir("/dev/shm") else tempfile.gettempdir()
    return os.path.join(base, f"panorama_{name}_{os.getpid()}")


def _nested_root() -> str:
    return _scratch_root("nested_docs")


def _nested_docs(spark: SparkSession) -> DataFrame:
    global _NESTED_WRITTEN
    import atexit
    import shutil

    path = os.path.join(_nested_root(), "course_docs")
    if not _NESTED_WRITTEN:
        shutil.rmtree(_nested_root(), ignore_errors=True)
        atexit.register(shutil.rmtree, _nested_root(), ignore_errors=True)
        nested.generate_course_docs(spark).write.mode("overwrite").parquet(path)
        _NESTED_WRITTEN = True
    return spark.read.parquet(path)


def s5_nested_flatten(spark: SparkSession, sf: str) -> DataFrame:
    docs = _nested_docs(spark)
    flat = nested.flatten_blocks(nested.filter_published(docs))
    return flat.select(
        "course_id",
        "block_id",
        "block_type",
        "display_name",
        F.size("children").cast("bigint").alias("n_children"),
    )


def _s5_sql() -> str:
    return f"""
WITH docs AS (SELECT * FROM read_parquet('{_nested_root()}/course_docs/*.parquet')),
blk AS (SELECT course_id, unnest(blocks) AS b FROM docs WHERE versions.published_branch IS NOT NULL)
SELECT course_id, b.block_id AS block_id, b.block_type AS block_type,
       b.display_name AS display_name, CAST(len(b.children) AS BIGINT) AS n_children
FROM blk
"""


def j4b_fill_parent_attrs(spark: SparkSession, sf: str) -> DataFrame:
    docs = _nested_docs(spark)
    flat = nested.flatten_blocks(nested.filter_published(docs))
    return nested.fill_parent_attrs(flat, max_depth=4)


def _j4b_sql() -> str:
    return f"""
WITH RECURSIVE docs AS (SELECT * FROM read_parquet('{_nested_root()}/course_docs/*.parquet')),
blk AS (SELECT course_id, unnest(blocks) AS b FROM docs WHERE versions.published_branch IS NOT NULL),
flat AS (SELECT course_id, b.block_id AS block_id, b.block_type AS block_type,
                b.display_name AS display_name, b.children AS children FROM blk),
edges AS (SELECT course_id, block_id AS parent_id, unnest(children) AS child_id FROM flat),
walk AS (
  SELECT course_id, block_id, block_type, display_name,
         [display_name] AS anc, 0 AS level
  FROM flat WHERE block_type = 'course'
  UNION ALL
  SELECT f.course_id, f.block_id, f.block_type, f.display_name,
         list_append(w.anc, f.display_name), w.level + 1
  FROM walk w
  JOIN edges e ON e.course_id = w.course_id AND e.parent_id = w.block_id
  JOIN flat f ON f.course_id = e.course_id AND f.block_id = e.child_id
  WHERE w.level < 4
)
SELECT course_id, block_id, block_type, display_name, CAST(level AS INTEGER) AS level,
       anc[1] AS course_name, anc[2] AS chapter_name,
       anc[3] AS sequential_name, anc[4] AS vertical_name
FROM walk
"""

# ---------------------------------------------------------------------------
# F8 — control-char escaping + sha256 digest (mysql_datasource.py:38-51)
# ---------------------------------------------------------------------------

def f8_normalize_digest(spark: SparkSession, sf: str) -> DataFrame:
    docs = load_table(spark, sf, "documents")
    norm = escape_control_chars(F.col("text"))
    return docs.select(
        "doc_id",
        F.sha2(norm, 256).alias("digest"),
        F.length(norm).cast("bigint").alias("n_norm_chars"),
    )


_F8_SQL = """
SELECT doc_id,
       sha256(replace(replace(replace(text, chr(92), chr(92)||chr(92)), chr(13), chr(92)||'r'), chr(10), chr(92)||'n')) AS digest,
       CAST(length(replace(replace(replace(text, chr(92), chr(92)||chr(92)), chr(13), chr(92)||'r'), chr(10), chr(92)||'n')) AS BIGINT) AS n_norm_chars
FROM documents
"""

# ---------------------------------------------------------------------------
# D1 — exact dedup by content digest
# ---------------------------------------------------------------------------

def d1_exact_dedupe(spark: SparkSession, sf: str) -> DataFrame:
    return textdedup.exact_dedupe(load_table(spark, sf, "documents"), "doc_id", "text")


_D1_SQL = """
SELECT sha256(text) AS digest, min(doc_id) AS canonical_id, count(*) AS n_dups
FROM documents GROUP BY sha256(text)
"""

# ---------------------------------------------------------------------------
# D2/D3 — MinHash signatures + LSH candidate pairs with exact Jaccard
# ---------------------------------------------------------------------------

_N_HASHES, _N_BANDS = 8, 4


def d2_minhash_signatures(spark: SparkSession, sf: str) -> DataFrame:
    docs = load_table(spark, sf, "documents")
    return textdedup.minhash_signatures_df(docs, "doc_id", "text", n_hashes=_N_HASHES)


_SQL_BASE32 = "CAST('0x' || substr(md5(sg), 1, 8) AS BIGINT)"


def _sql_minhash_cols() -> str:
    return ",\n       ".join(
        f"list_min([({a} * {_SQL_BASE32} + {b}) % 2147483647 for sg in sh]) AS h{i}"
        for i, (a, b) in enumerate(textdedup.minhash_coeffs(_N_HASHES))
    )


def _d2_sql() -> str:
    return f"""
WITH t AS (SELECT doc_id, {_SQL_TOKENS} AS w FROM documents),
s AS (SELECT doc_id, list_distinct({_SQL_SHINGLES}) AS sh FROM t)
SELECT doc_id,
       {_sql_minhash_cols()}
FROM s
"""


_LSH_BUCKET_CAP = 512


def d3_minhash_lsh_pairs(spark: SparkSession, sf: str) -> DataFrame:
    docs = load_table(spark, sf, "documents")
    return textdedup.minhash_lsh_pairs(
        docs,
        "doc_id",
        "text",
        n_hashes=_N_HASHES,
        n_bands=_N_BANDS,
        jaccard_threshold=0.0,
        max_bucket_size=_LSH_BUCKET_CAP,
    )


def _sql_band_union(src: str, id_col: str = "doc_id") -> str:
    rows_per_band = _N_HASHES // _N_BANDS
    return "\nUNION ALL\n".join(
        "SELECT {id}, {b} AS band, md5(concat_ws(',', {cols})) AS bucket FROM {src}".format(
            id=id_col,
            b=b,
            cols=", ".join(f"h{b * rows_per_band + r}" for r in range(rows_per_band)),
            src=src,
        )
        for b in range(_N_BANDS)
    )


def _d3_sql() -> str:
    return f"""
WITH t AS (SELECT doc_id, {_SQL_TOKENS} AS w FROM documents),
sd AS (SELECT doc_id, list_distinct({_SQL_SHINGLES}) AS sh FROM t),
sigs AS (SELECT doc_id, sh, {_sql_minhash_cols()} FROM sd),
bands_raw AS ({_sql_band_union("sigs")}),
bands AS (
  SELECT doc_id, band, bucket FROM bands_raw
  QUALIFY count(*) OVER (PARTITION BY band, bucket) <= {_LSH_BUCKET_CAP}
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b,
       round(CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE) / len(list_distinct(list_concat(sa.sh, sb.sh))), 6) AS jaccard
FROM cand
JOIN sigs sa ON sa.doc_id = cand.doc_a
JOIN sigs sb ON sb.doc_id = cand.doc_b
"""

# ---------------------------------------------------------------------------
# D6 — exact n-gram Jaccard near-dup pairs, blocked by the corpus's own
# MinHash-LSH band buckets (block cardinality grows with the corpus —
# an attribute key like (source, lang) has fixed domain, so its blocks
# grow linearly and verification is quadratic inside them)
# ---------------------------------------------------------------------------

_D6_THRESHOLD = 0.1


def d6_ngram_jaccard(spark: SparkSession, sf: str) -> DataFrame:
    docs = load_table(spark, sf, "documents")
    return textdedup.ngram_jaccard_pairs_lsh(
        docs,
        "doc_id",
        "text",
        n_hashes=_N_HASHES,
        n_bands=_N_BANDS,
        threshold=_D6_THRESHOLD,
        max_bucket_size=_LSH_BUCKET_CAP,
    )


def _d6_sql() -> str:
    return f"""
WITH t AS (SELECT doc_id, {_SQL_TOKENS} AS w FROM documents),
sd AS (SELECT doc_id, list_distinct({_SQL_SHINGLES}) AS sh FROM t),
sigs AS (
  SELECT doc_id,
         list_distinct([{_sql_h56("sg")} for sg in sh]) AS shh,
         {_sql_minhash_cols()}
  FROM sd WHERE len(sh) > 0
),
bands_raw AS ({_sql_band_union("sigs")}),
bands AS (
  SELECT doc_id, band, bucket FROM bands_raw
  QUALIFY count(*) OVER (PARTITION BY band, bucket) <= {_LSH_BUCKET_CAP}
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, jaccard FROM (
  SELECT doc_a, doc_b,
         round(CAST(len(list_intersect(sa.shh, sb.shh)) AS DOUBLE)
               / (len(sa.shh) + len(sb.shh) - len(list_intersect(sa.shh, sb.shh))), 6) AS jaccard
  FROM cand
  JOIN sigs sa ON sa.doc_id = cand.doc_a
  JOIN sigs sb ON sb.doc_id = cand.doc_b
) WHERE jaccard >= {_D6_THRESHOLD}
"""

# ---------------------------------------------------------------------------
# D4 — SimHash (16-bit)
# ---------------------------------------------------------------------------

def d4_simhash(spark: SparkSession, sf: str) -> DataFrame:
    docs = load_table(spark, sf, "documents")
    return textdedup.simhash_df(docs, "doc_id", "text")


def _d4_sql() -> str:
    bits = " + ".join(
        f"CASE WHEN list_sum([CASE WHEN ((h>>{b})&1)=1 THEN 1 ELSE -1 END for h in th]) > 0 THEN {1 << b} ELSE 0 END"
        for b in range(16)
    )
    return f"""
WITH t AS (SELECT doc_id, {_SQL_TOKENS} AS w FROM documents),
h AS (SELECT doc_id, [CAST('0x'||substr(md5(tk),1,4) AS INTEGER) for tk in w] AS th FROM t)
SELECT doc_id, CAST({bits} AS INTEGER) AS simhash FROM h
"""

# ---------------------------------------------------------------------------
# D7 — SimHash near-dup pairs, chunk-blocked (candidate-complete for
# hamming <= n_chunks-1 by pigeonhole)
# ---------------------------------------------------------------------------

# 16-bit toy fingerprint → 2 chunks of 8 bits, hamming <= 1 (complete by
# pigeonhole). Production shape is 64-bit simhash, 4 chunks of 16 bits,
# hamming <= 3 — same operator, wider chunks.
_D7_MAX_HAMMING, _D7_CHUNKS = 1, 2


def d7_simhash_neardup(spark: SparkSession, sf: str) -> DataFrame:
    docs = load_table(spark, sf, "documents")
    return textdedup.simhash_near_dupes(
        docs, "doc_id", "text", n_chunks=_D7_CHUNKS, max_hamming=_D7_MAX_HAMMING
    )


def _d7_sql() -> str:
    bits = " + ".join(
        f"CASE WHEN list_sum([CASE WHEN ((h>>{b})&1)=1 THEN 1 ELSE -1 END for h in th]) > 0 THEN {1 << b} ELSE 0 END"
        for b in range(16)
    )
    chunk_bits = 16 // _D7_CHUNKS
    mask = (1 << chunk_bits) - 1
    chunks = "\nUNION ALL\n".join(
        f"SELECT doc_id, {c} AS chunk, (simhash >> {c * chunk_bits}) & {mask} AS val FROM sh"
        for c in range(_D7_CHUNKS)
    )
    return f"""
WITH t AS (SELECT doc_id, {_SQL_TOKENS} AS w FROM documents),
h AS (SELECT doc_id, [CAST('0x'||substr(md5(tk),1,4) AS INTEGER) for tk in w] AS th FROM t),
sh AS (SELECT doc_id, CAST({bits} AS INTEGER) AS simhash FROM h),
chunks AS ({chunks}),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM chunks a JOIN chunks b
    ON a.chunk = b.chunk AND a.val = b.val AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, hamming FROM (
  SELECT doc_a, doc_b, CAST(bit_count(xor(sa.simhash, sb.simhash)) AS INTEGER) AS hamming
  FROM cand JOIN sh sa ON sa.doc_id = cand.doc_a JOIN sh sb ON sb.doc_id = cand.doc_b
) WHERE hamming <= {_D7_MAX_HAMMING}
"""

# ---------------------------------------------------------------------------
# D7b — SimHash near-dup pairs at production width: 64-bit fingerprint,
# 4 chunks of 16 bits, hamming <= 3 (Manku-style, candidate-complete by
# pigeonhole). Same operator as d7, real-shape parameters.
# ---------------------------------------------------------------------------

_D7B_MAX_HAMMING, _D7B_CHUNKS, _D7B_BITS = 3, 4, 64


def d7b_simhash64_neardup(spark: SparkSession, sf: str) -> DataFrame:
    docs = load_table(spark, sf, "documents")
    return textdedup.simhash_near_dupes(
        docs, "doc_id", "text",
        n_bits=_D7B_BITS, n_chunks=_D7B_CHUNKS, max_hamming=_D7B_MAX_HAMMING,
    )


def _d7b_sql() -> str:
    # 64-bit token hash from two md5 slices (each 32 bits — BIGINT-safe
    # in any engine); bit 63's weight is the signed long minimum, so the
    # fingerprint spans the full 64-bit space like the Spark side.
    lo_bits = " + ".join(
        f"CASE WHEN list_sum([CASE WHEN ((h>>{b})&1)=1 THEN 1 ELSE -1 END for h in tlo]) > 0 THEN {1 << b} ELSE 0 END"
        for b in range(32)
    )
    hi_bits = " + ".join(
        f"CASE WHEN list_sum([CASE WHEN ((h>>{b - 32})&1)=1 THEN 1 ELSE -1 END for h in thi]) > 0 THEN "
        + ("CAST(-9223372036854775807 - 1 AS BIGINT)" if b == 63 else str(1 << b))
        + " ELSE 0 END"
        for b in range(32, 64)
    )
    chunk_bits = _D7B_BITS // _D7B_CHUNKS
    mask = (1 << chunk_bits) - 1
    chunks = "\nUNION ALL\n".join(
        f"SELECT doc_id, {c} AS chunk, (simhash >> {c * chunk_bits}) & {mask} AS val FROM sh"
        for c in range(_D7B_CHUNKS)
    )
    return f"""
WITH t AS (SELECT doc_id, {_SQL_TOKENS} AS w FROM documents),
h AS (SELECT doc_id,
             [CAST('0x'||substr(md5(tk),1,8) AS BIGINT) for tk in w] AS tlo,
             [CAST('0x'||substr(md5(tk),9,8) AS BIGINT) for tk in w] AS thi
      FROM t),
sh AS (SELECT doc_id, CAST({lo_bits} + {hi_bits} AS BIGINT) AS simhash FROM h),
chunks AS ({chunks}),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM chunks a JOIN chunks b
    ON a.chunk = b.chunk AND a.val = b.val AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, hamming FROM (
  SELECT doc_a, doc_b, CAST(bit_count(xor(sa.simhash, sb.simhash)) AS INTEGER) AS hamming
  FROM cand JOIN sh sa ON sa.doc_id = cand.doc_a JOIN sh sb ON sb.doc_id = cand.doc_b
) WHERE hamming <= {_D7B_MAX_HAMMING}
"""

_A6_PATTERN = "(scan|merge|join|filter|window)"

# ---------------------------------------------------------------------------
# S6 — point lookup → broadcast dim join, enrich-only-rows-missing-X:
# the reference fetches a definition document only for problem blocks
# lacking a weight (course_structures_datasource.py:324-325); here rows
# whose regex-derived weight is 0 (the a6 measure) are enriched from a
# small (source, lang) definitions dim — broadcast once, never a
# per-row lookup.
# ---------------------------------------------------------------------------

def s6_enrich_missing_weight(spark: SparkSession, sf: str) -> DataFrame:
    docs = load_table(spark, sf, "documents")
    cnt = (
        F.size(F.regexp_extract_all(F.col("text"), F.lit(_A6_PATTERN), F.lit(0)))
        .cast("bigint")
        .alias("cnt")
    )
    base = docs.select("doc_id", "source", "lang", F.length("text").alias("len"), cnt)
    # the definitions dim: one default weight per (source, lang) — a
    # bounded domain, deterministic over the corpus (pure integer /
    # exactly-rounded double math so the oracle is exact)
    dim = (
        base.groupBy("source", "lang")
        .agg((F.floor(F.sum("len") / (F.count("*") * 100)) + 1).alias("default_weight"))
    )
    present = base.filter(F.col("cnt") > 0).select(
        "doc_id", F.col("cnt").alias("weight"), F.lit(False).alias("from_default")
    )
    # ONLY the missing rows take the join — the enrich-only-missing shape
    missing = (
        base.filter(F.col("cnt") <= 0)
        .join(F.broadcast(dim), on=["source", "lang"], how="left")
        .select(
            "doc_id",
            F.coalesce(F.col("default_weight"), F.lit(0)).cast("bigint").alias("weight"),
            F.lit(True).alias("from_default"),
        )
    )
    return present.unionByName(missing)


_S6_SQL = f"""
WITH w AS (
  SELECT doc_id, source, lang, length(text) AS len,
         CAST(len(regexp_extract_all(text, '{_A6_PATTERN}')) AS BIGINT) AS cnt
  FROM documents
),
dim AS (
  SELECT source, lang,
         CAST(floor(CAST(sum(len) AS DOUBLE) / (count(*) * 100)) + 1 AS BIGINT) AS default_weight
  FROM w GROUP BY source, lang
)
SELECT doc_id,
       CASE WHEN cnt > 0 THEN cnt ELSE coalesce(default_weight, 0) END AS weight,
       cnt <= 0 AS from_default
FROM w LEFT JOIN dim USING (source, lang)
"""

# ---------------------------------------------------------------------------
# S1/S2 — similarity search: exact brute-force top-k and LSH-bucketed
# ---------------------------------------------------------------------------

_ANN_K, _ANN_NQ, _DIM, _N_PLANES = 10, 10, 64, 8


def s1_ann_cosine_topk(spark: SparkSession, sf: str) -> DataFrame:
    emb = load_table(spark, sf, "embeddings")
    return similarity.cosine_topk(
        emb, emb.filter(F.col("vec_id") < _ANN_NQ), k=_ANN_K
    ).select("query_id", "neighbor_id", "cos_sim", F.col("rank").cast("int").alias("rank"))


_S1_SQL = f"""
WITH e AS (SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS v FROM embeddings),
q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < {_ANN_NQ}),
s AS (
  SELECT qid AS query_id, e.vec_id AS neighbor_id,
         round(list_dot_product(qv, v) / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(v, v))), 6) AS cos_sim
  FROM q JOIN e ON e.vec_id <> qid
)
SELECT query_id, neighbor_id, cos_sim, CAST(rank AS INTEGER) AS rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rank FROM s
) WHERE rank <= {_ANN_K}
"""


def s2_ann_cosine_lsh(spark: SparkSession, sf: str) -> DataFrame:
    emb = load_table(spark, sf, "embeddings")
    return similarity.cosine_topk_lsh(
        emb, emb.filter(F.col("vec_id") < _ANN_NQ), k=_ANN_K, dim=_DIM, n_planes=_N_PLANES
    ).select("query_id", "neighbor_id", "cos_sim", F.col("rank").cast("int").alias("rank"))


def _s2_sql() -> str:
    signs = similarity.plane_signs(_DIM, _N_PLANES)
    bucket_terms = " + ".join(
        f"CASE WHEN list_dot_product(v, [{', '.join(str(x) for x in signs[p])}]) > 0 THEN {1 << p} ELSE 0 END"
        for p in range(_N_PLANES)
    )
    return f"""
WITH e AS (
  SELECT vec_id, v, {bucket_terms} AS bucket
  FROM (SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS v FROM embeddings)
),
q AS (SELECT vec_id AS qid, v AS qv, bucket FROM e WHERE vec_id < {_ANN_NQ}),
s AS (
  SELECT qid AS query_id, e.vec_id AS neighbor_id,
         round(list_dot_product(qv, v) / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(v, v))), 6) AS cos_sim
  FROM q JOIN e USING (bucket) WHERE e.vec_id <> qid
)
SELECT query_id, neighbor_id, cos_sim, CAST(rank AS INTEGER) AS rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rank FROM s
) WHERE rank <= {_ANN_K}
"""

_IVF_K = 8


def s3_ann_cosine_ivf(spark: SparkSession, sf: str) -> DataFrame:
    emb = load_table(spark, sf, "embeddings")
    return similarity.cosine_topk_ivf(
        emb, emb.filter(F.col("vec_id") < _ANN_NQ), k=_ANN_K, n_centroids=_IVF_K,
        broadcast_queries=True,  # |q| = 10: skip the auto-decide count job
    ).select("query_id", "neighbor_id", "cos_sim", F.col("rank").cast("int").alias("rank"))


_S3_SQL = f"""
WITH e AS (SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS v FROM embeddings),
c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < {_IVF_K}),
scored AS (
  SELECT e.vec_id AS vid, e.v, cid,
         round(list_dot_product(v, cv) / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(cv, cv))), 6) AS ccos
  FROM e CROSS JOIN c
),
cells AS (
  SELECT vid, v, cid FROM (
    SELECT *, row_number() OVER (PARTITION BY vid ORDER BY ccos DESC, cid) AS rn FROM scored
  ) WHERE rn = 1
),
q AS (SELECT vid AS qid, v AS qv, cid FROM cells WHERE vid < {_ANN_NQ}),
s AS (
  SELECT qid AS query_id, cells.vid AS neighbor_id,
         round(list_dot_product(qv, v) / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(v, v))), 6) AS cos_sim
  FROM q JOIN cells USING (cid) WHERE cells.vid <> qid
)
SELECT query_id, neighbor_id, cos_sim, CAST(rank AS INTEGER) AS rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rank FROM s
) WHERE rank <= {_ANN_K}
"""

def s3b_ann_cosine_ivf_nprobe(spark: SparkSession, sf: str) -> DataFrame:
    """IVF top-k with nprobe=2: each query probes its two nearest cells
    and reranks their union — the standard recall knob that lifts the
    nprobe=1 boundary blind spot (work per query is 2×|cell|, still not
    |corpus|)."""
    emb = load_table(spark, sf, "embeddings")
    return similarity.cosine_topk_ivf(
        emb, emb.filter(F.col("vec_id") < _ANN_NQ), k=_ANN_K,
        n_centroids=_IVF_K, nprobe=2, broadcast_queries=True,
    ).select("query_id", "neighbor_id", "cos_sim", F.col("rank").cast("int").alias("rank"))


_S3B_SQL = f"""
WITH e AS (SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS v FROM embeddings),
c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < {_IVF_K}),
scored AS (
  SELECT e.vec_id AS vid, e.v, cid,
         round(list_dot_product(v, cv) / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(cv, cv))), 6) AS ccos
  FROM e CROSS JOIN c
),
cells AS (
  SELECT vid, v, cid FROM (
    SELECT *, row_number() OVER (PARTITION BY vid ORDER BY ccos DESC, cid) AS rn FROM scored
  ) WHERE rn = 1
),
q AS (
  SELECT vid AS qid, v AS qv, cid FROM (
    SELECT *, row_number() OVER (PARTITION BY vid ORDER BY ccos DESC, cid) AS rn FROM scored
  ) WHERE rn <= 2 AND vid < {_ANN_NQ}
),
s AS (
  SELECT qid AS query_id, cells.vid AS neighbor_id,
         round(list_dot_product(qv, v) / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(v, v))), 6) AS cos_sim
  FROM q JOIN cells USING (cid) WHERE cells.vid <> qid
)
SELECT query_id, neighbor_id, cos_sim, CAST(rank AS INTEGER) AS rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rank FROM s
) WHERE rank <= {_ANN_K}
"""


def s4_ann_cosine_ivf_kmeans(spark: SparkSession, sf: str) -> DataFrame:
    """IVF top-k with *fitted* centroids: distributed Lloyd k-means
    (hash-seeded, broadcast-centroid assignment, posexplode mean update)
    replaces s3's deterministic first-N stand-in. The fit is
    deterministic (hash-seeded init, fixed iterations), so the fitted
    centroids are persisted to a fixed parquet path — the same pattern
    as the CDC log fixtures — and the oracle replays the *assignment +
    rerank* in plain SQL over them; the iterative fit itself is
    additionally pytest-verified (determinism, non-increasing inertia,
    literal/join assignment parity)."""
    import atexit
    import shutil

    emb = load_table(spark, sf, "embeddings")
    cents, _ = similarity.kmeans_centroids(emb, k=_IVF_K, iters=2)
    root = _scratch_root("s4_centroids")
    shutil.rmtree(root, ignore_errors=True)
    atexit.register(shutil.rmtree, root, ignore_errors=True)
    spark.createDataFrame(
        [(i, [float(x) for x in cv]) for i, cv in enumerate(cents)],
        "cid int, cv array<double>",
    ).write.mode("overwrite").parquet(os.path.join(root, "cents"))
    return similarity.cosine_topk_ivf(
        emb, emb.filter(F.col("vec_id") < _ANN_NQ), k=_ANN_K, centroids=cents,
        broadcast_queries=True,
    ).select("query_id", "neighbor_id", "cos_sim", F.col("rank").cast("int").alias("rank"))


def _s4_sql() -> str:
    return f"""
WITH e AS (SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS v FROM embeddings),
c AS (SELECT cid, cv FROM read_parquet('{_scratch_root("s4_centroids")}/cents/*.parquet')),
scored AS (
  SELECT e.vec_id AS vid, e.v, cid,
         round(list_dot_product(v, cv) / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(cv, cv))), 6) AS ccos
  FROM e CROSS JOIN c
),
cells AS (
  SELECT vid, v, cid FROM (
    SELECT *, row_number() OVER (PARTITION BY vid ORDER BY ccos DESC, cid) AS rn FROM scored
  ) WHERE rn = 1
),
q AS (SELECT vid AS qid, v AS qv, cid FROM cells WHERE vid < {_ANN_NQ}),
s AS (
  SELECT qid AS query_id, cells.vid AS neighbor_id,
         round(list_dot_product(qv, v) / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(v, v))), 6) AS cos_sim
  FROM q JOIN cells USING (cid) WHERE cells.vid <> qid
)
SELECT query_id, neighbor_id, cos_sim, CAST(rank AS INTEGER) AS rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rank FROM s
) WHERE rank <= {_ANN_K}
"""


# ---------------------------------------------------------------------------
# T1 — text profile: language-ID, token counts, quality, fingerprint
# ---------------------------------------------------------------------------

def t1_text_profile(spark: SparkSession, sf: str) -> DataFrame:
    docs = load_table(spark, sf, "documents")
    prof = text.text_profile(docs, "doc_id", "text", "n_chars")
    return prof.select(
        "doc_id",
        "lang_pred",
        F.col("n_tokens_ws").cast("bigint").alias("n_tokens_ws"),
        F.col("n_tokens_bpe").cast("bigint").alias("n_tokens_bpe"),
        "quality",
        "fingerprint",
    )


def _t1_cte() -> str:
    scores = {
        lang: _sql_lang_score(words) for lang, words in text.LANG_STOPWORDS.items()
    }
    score_cols = ", ".join(f"{expr} AS s_{lang}" for lang, expr in scores.items())
    best = "greatest(s_en, s_de, s_fr, s_es, s_zh)"
    lang_case = (
        f"CASE WHEN {best} <= 0 THEN 'und' "
        + " ".join(
            f"WHEN s_{lang} = {best} THEN '{lang}'" for lang in ["en", "de", "fr", "es", "zh"]
        )
        + " ELSE 'und' END"
    )
    stop_hits = "(s_en + s_de + s_fr + s_es + s_zh)"
    return f"""
WITH t AS (
  SELECT doc_id, text, n_chars, {_SQL_TOKENS} AS w FROM documents
),
sc AS (
  SELECT doc_id, text, n_chars, w, {score_cols} FROM t
),
p AS (
  SELECT doc_id, text, n_chars, w,
         {lang_case} AS lang_pred,
         CAST(len(w) AS BIGINT) AS n_tokens_ws,
         CAST(len(regexp_extract_all(text, '{text.BPE_ISH_TOKEN_RE}')) AS BIGINT) AS n_tokens_bpe,
         round(0.4 * least(1.0, CAST(len(w) AS DOUBLE) / 100.0)
             + 0.3 * (1.0 - least(1.0, CAST(len(regexp_extract_all(text, '{text.PUNCT_RE}')) AS DOUBLE) / greatest(CAST(n_chars AS DOUBLE), 1.0)))
             + 0.3 * least(1.0, CAST({stop_hits} AS DOUBLE) / greatest(CAST(len(w) AS DOUBLE), 1.0) * 5.0), 6) AS quality,
         CASE WHEN len(w) >= 3
              THEN list_min([{_sql_h56("sg")} for sg in [array_to_string(w[i:i+2], ' ') for i in range(1, len(w)-1)]])
              ELSE {_sql_h56("text")} END AS fingerprint
  FROM sc
)
"""


def _t1_sql() -> str:
    return (
        _t1_cte()
        + "SELECT doc_id, lang_pred, n_tokens_ws, n_tokens_bpe, quality, fingerprint FROM p"
    )


# ---------------------------------------------------------------------------
# T2 — composed pipeline: quality gate → exact dedup (the standard
# pre-training corpus-hygiene composition; operators chain as plain
# DataFrame functions and Catalyst plans the whole pipeline as one job)
# ---------------------------------------------------------------------------

_T2_QUALITY_MIN = 0.5


def t2_quality_gate_dedupe(spark: SparkSession, sf: str) -> DataFrame:
    docs = load_table(spark, sf, "documents")
    prof = text.text_profile(docs, "doc_id", "text", "n_chars")
    keep = prof.filter(F.col("quality") >= _T2_QUALITY_MIN).select("doc_id")
    survivors = docs.join(keep, on="doc_id", how="left_semi")
    return textdedup.exact_dedupe(survivors, "doc_id", "text")


def _t2_sql() -> str:
    return (
        _t1_cte()
        + f"""SELECT sha256(text) AS digest, min(doc_id) AS canonical_id, count(*) AS n_dups
FROM documents
WHERE doc_id IN (SELECT doc_id FROM p WHERE quality >= {_T2_QUALITY_MIN})
GROUP BY sha256(text)"""
    )

# ---------------------------------------------------------------------------
# A6 — regex-match-count derived measure (the problem-weight heuristic,
# course_structures_datasource.py:320-356: weight = #matches of a tag
# alternation regex; _A6_PATTERN is defined above s6, which reuses it)
# ---------------------------------------------------------------------------


def a6_regex_tag_count(spark: SparkSession, sf: str) -> DataFrame:
    docs = load_table(spark, sf, "documents")
    return docs.select(
        "doc_id",
        F.size(F.regexp_extract_all(F.col("text"), F.lit(_A6_PATTERN), F.lit(0)))
        .cast("bigint")
        .alias("weight"),
    )


_A6_SQL = f"""
SELECT doc_id, CAST(len(regexp_extract_all(text, '{_A6_PATTERN}')) AS BIGINT) AS weight
FROM documents
"""

# ---------------------------------------------------------------------------
# F11/F12 — structured-id construction and parsing
# (block-v1:{{org}}+{{course}}+… construction course_structures_datasource.py:310-312;
#  course_id[10:].split('+') parsing :255-257)
# ---------------------------------------------------------------------------

def f11_id_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    docs = load_table(spark, sf, "documents")
    block_id = F.format_string("doc-v1:%s+%s+%d", F.col("source"), F.col("lang"), F.col("doc_id"))
    parts = F.split(F.substring(block_id, 8, 10_000), r"\+")
    return docs.select(
        "doc_id",
        block_id.alias("block_id"),
        F.element_at(parts, 1).alias("parsed_source"),
        F.element_at(parts, 2).alias("parsed_lang"),
        F.element_at(parts, 3).cast("bigint").alias("parsed_id"),
    )


_F11_SQL = r"""
SELECT doc_id,
       printf('doc-v1:%s+%s+%d', source, lang, doc_id) AS block_id,
       string_split(substring(printf('doc-v1:%s+%s+%d', source, lang, doc_id), 8), '+')[1] AS parsed_source,
       string_split(substring(printf('doc-v1:%s+%s+%d', source, lang, doc_id), 8), '+')[2] AS parsed_lang,
       CAST(string_split(substring(printf('doc-v1:%s+%s+%d', source, lang, doc_id), 8), '+')[3] AS BIGINT) AS parsed_id
FROM documents
"""

# ---------------------------------------------------------------------------
# F13 — url-encoded partition path values (panorama_datalake.py:185,190,
# 244,248 url-encodes every partition value before building the S3 path)
# + J5 — zip-join of parallel lists (mysql_datasource.py:281 zips column
# names with row values)
# ---------------------------------------------------------------------------

def f13_url_encoded_partition(spark: SparkSession, sf: str) -> DataFrame:
    docs = load_table(spark, sf, "documents")
    # a partition value with a space and a slash — the two characters
    # that corrupt a path-addressed layout when written raw
    raw = F.format_string("%s %s/%d", F.col("source"), F.col("lang"), F.col("doc_id"))
    enc = F.url_encode(raw)
    return docs.select(
        "doc_id",
        raw.alias("part_value"),
        enc.alias("part_encoded"),
        F.url_decode(enc).alias("part_roundtrip"),
    )


# DuckDB (this build) has no url_encode; the fixture values are
# [A-Za-z0-9], space and '/' only, so form-encoding reduces to two
# replaces (space→'+', '/'→'%2F') — exact over this domain.
_F13_SQL = """
SELECT doc_id,
       printf('%s %s/%d', source, lang, doc_id) AS part_value,
       replace(replace(printf('%s %s/%d', source, lang, doc_id), '/', '%2F'), ' ', '+') AS part_encoded,
       printf('%s %s/%d', source, lang, doc_id) AS part_roundtrip
FROM documents
"""


def j5_zip_lists(spark: SparkSession, sf: str) -> DataFrame:
    """J5: zip two parallel arrays positionally and explode the pairs —
    the reference's dict(zip(column_names, row)) row-assembly idiom."""
    docs = load_table(spark, sf, "documents")
    tokens = textdedup.word_tokens(F.col("text"))
    lens = F.transform(tokens, lambda t: F.length(t).cast("bigint"))
    z = docs.select("doc_id", F.explode(F.arrays_zip(tokens.alias("tok"), lens.alias("tok_len"))).alias("p"))
    return z.select(
        "doc_id", F.col("p.tok").alias("tok"), F.col("p.tok_len").alias("tok_len")
    ).filter(F.col("tok_len") >= 8)


_J5_SQL = f"""
WITH t AS (SELECT doc_id, {_SQL_TOKENS} AS w FROM documents),
z AS (SELECT doc_id, unnest(list_zip(w, [CAST(length(tk) AS BIGINT) for tk in w])) AS p FROM t)
SELECT doc_id, p[1] AS tok, p[2] AS tok_len FROM z WHERE p[2] >= 8
"""

# ---------------------------------------------------------------------------
# D5 — embedding-cosine near-duplicate pairs via banded hyperplane LSH
# (block cardinality = n_bands × 2^planes_per_band, tunable with the
# corpus — unlike the 10-value `label` attribute, whose blocks grow
# linearly and make the verify quadratic at 100×)
# ---------------------------------------------------------------------------

_D5_THRESHOLD = 0.35
_D5_BANDS, _D5_PLANES_PER_BAND = 4, 8


def d5_embedding_neardup(spark: SparkSession, sf: str) -> DataFrame:
    emb = load_table(spark, sf, "embeddings")
    return similarity.embedding_neardup_pairs(
        emb,
        dim=_DIM,
        threshold=_D5_THRESHOLD,
        n_bands=_D5_BANDS,
        planes_per_band=_D5_PLANES_PER_BAND,
    )


def _d5_sql() -> str:
    signs = similarity.plane_signs(_DIM, _D5_BANDS * _D5_PLANES_PER_BAND)

    def band_bucket(b: int) -> str:
        return " + ".join(
            "CASE WHEN list_dot_product(v, [{pl}]) > 0 THEN {bit} ELSE 0 END".format(
                pl=", ".join(str(x) for x in signs[b * _D5_PLANES_PER_BAND + p]),
                bit=1 << p,
            )
            for p in range(_D5_PLANES_PER_BAND)
        )

    bands = "\nUNION ALL\n".join(
        f"SELECT vec_id, {b} AS band, {band_bucket(b)} AS bucket FROM e"
        for b in range(_D5_BANDS)
    )
    return f"""
WITH e AS (SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS v FROM embeddings),
bands AS ({bands}),
cand AS (
  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id
)
SELECT vec_a, vec_b, cos_sim FROM (
  SELECT vec_a, vec_b,
         round(list_dot_product(ea.v, eb.v)
               / (sqrt(list_dot_product(ea.v, ea.v)) * sqrt(list_dot_product(eb.v, eb.v))), 6) AS cos_sim
  FROM cand JOIN e ea ON ea.vec_id = cand.vec_a JOIN e eb ON eb.vec_id = cand.vec_b
) WHERE cos_sim >= {_D5_THRESHOLD}
"""

# ---------------------------------------------------------------------------
# M1 — multimodal binary plumbing (mapInPandas feature extraction)
# ---------------------------------------------------------------------------

def m1_multimodal_features(spark: SparkSession, sf: str) -> DataFrame:
    docs = load_table(spark, sf, "documents")
    media = multimodal.documents_as_media(docs)
    # built-in kernel (zero Python in the physical plan); the
    # mapInPandas codec path is the tested extension point for real
    # decoders — see tests/test_sources_cli.py multimodal parity test
    return multimodal.extract_features_builtin(media)


_M1_SQL = """
SELECT doc_id AS media_id,
       CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
       sha256(text) AS digest,
       CAST('0x' || substr(sha256(text), 1, 8) AS BIGINT) / 4294967296.0 AS fake_dim0
FROM documents
"""

# ---------------------------------------------------------------------------
# CDC — the engine itself, run end-to-end on a generated log. The
# deterministic log is persisted to a fixed parquet path as part of the
# query, so the DuckDB oracle can replay it independently (LWW by max
# LSN per key, deletes dropped, sha256(content) — the BASELINE.json
# per-row invariant) and the driver verifies the engine's final table
# state with the full rows+schema+hash gate.
# ---------------------------------------------------------------------------

def _cdc_replay_root() -> str:
    """Per-process scratch root, wiped and rewritten on every call — so
    repeated bench/test/oracle runs never accumulate leaked copies."""
    return _scratch_root("cdc_replay")


def cdc_replay_state(spark: SparkSession, sf: str) -> DataFrame:
    import atexit
    import shutil

    from .cdc import CdcEngine, ChangeLogSpec, generate_change_log
    from .lakehouse import Field, LakeTable, TableSchema

    schema = TableSchema(
        [
            Field(1, "repo", "string", False),
            Field(2, "path", "string", False),
            Field(3, "commit", "string"),
            Field(4, "lang", "string"),
            Field(5, "content", "string"),
        ],
        schema_version=1,
    )
    spec = ChangeLogSpec(n_events=20_000, n_keys=1_500)
    log = generate_change_log(spark, spec)
    root = _cdc_replay_root()
    shutil.rmtree(root, ignore_errors=True)
    atexit.register(shutil.rmtree, root, ignore_errors=True)
    # coalesce(4): the 20k-row fixture log otherwise lands as ~64 tiny
    # files (one per generator task) — fewer files cut the write wall
    # and the oracle's glob scan; content is identical (guide §6)
    log.coalesce(4).write.mode("overwrite").parquet(os.path.join(root, "log"))
    # replay from the written parquet: 4 file-tasks + lsn min/max
    # pushdown per batch scan, vs ~64 range tasks re-deriving the
    # generator expressions on every stats/merge job (guide §6)
    log = spark.read.parquet(os.path.join(root, "log"))
    table = LakeTable.create(spark, os.path.join(root, "repos"), schema, ["repo", "path"], n_buckets=16)
    CdcEngine(table).replay(log, batch_size=10_000)
    return table.read().select(
        "repo", "path", "commit", "lang", F.sha2("content", 256).alias("content_digest")
    )


def _lww_oracle_sql(log_glob: str, max_lsn: int | None = None) -> str:
    # independent-engine replay of a persisted log: collapse duplicate
    # deliveries (DISTINCT), LWW per (repo, path) by max lsn, drop deletes;
    # ``max_lsn`` truncates the replay — the oracle for a time-travel read
    # of the snapshot whose checkpoint was that LSN
    lsn_gate = f"WHERE lsn <= {max_lsn}" if max_lsn is not None else ""
    return f"""
SELECT repo, path, commit, lang, sha256(content) AS content_digest FROM (
  SELECT *, row_number() OVER (PARTITION BY repo, path ORDER BY lsn DESC) AS rn
  FROM (SELECT DISTINCT lsn, op, repo, path, commit, lang, content
        FROM read_parquet('{log_glob}') {lsn_gate})
) WHERE rn = 1 AND op <> 'D'
"""


def _cdc_sql() -> str:
    return _lww_oracle_sql(f"{_cdc_replay_root()}/log/*.parquet")


# ---------------------------------------------------------------------------
# CDC streaming — the Structured Streaming tail (readStream →
# foreachBatch(merge)) driven through the log-growth contract: half the
# log arrives, an availableNow drain applies it, the log grows, a second
# drain applies only the new files. Same LWW oracle over the full log.
# ---------------------------------------------------------------------------

def _cdc_stream_root() -> str:
    return _scratch_root("cdc_stream")


def cdc_stream_state(spark: SparkSession, sf: str) -> DataFrame:
    import atexit
    import shutil

    from .cdc import ChangeLogSpec, generate_change_log
    from .lakehouse import Field, LakeTable, TableSchema
    from .streaming import stream_changelog_to_table

    schema = TableSchema(
        [
            Field(1, "repo", "string", False),
            Field(2, "path", "string", False),
            Field(3, "commit", "string"),
            Field(4, "lang", "string"),
            Field(5, "content", "string"),
        ],
        schema_version=1,
    )
    spec = ChangeLogSpec(n_events=20_000, n_keys=1_500)
    log = generate_change_log(spark, spec)
    root = _cdc_stream_root()
    shutil.rmtree(root, ignore_errors=True)
    atexit.register(shutil.rmtree, root, ignore_errors=True)
    log_dir = os.path.join(root, "log")
    ckpt = os.path.join(root, "ckpt")
    table = LakeTable.create(
        spark, os.path.join(root, "repos"), schema, ["repo", "path"], n_buckets=16
    )
    # epoch 1: the first half of the tail exists
    log.filter(F.col("lsn") < 10_000).coalesce(4).write.parquet(log_dir)
    stream_changelog_to_table(spark, log_dir, table, ckpt).awaitTermination()
    # the log grows; a later drain picks up only the new files
    log.filter(F.col("lsn") >= 10_000).coalesce(4).write.mode("append").parquet(log_dir)
    stream_changelog_to_table(spark, log_dir, table, ckpt).awaitTermination()
    return table.read().select(
        "repo", "path", "commit", "lang", F.sha2("content", 256).alias("content_digest")
    )


def _cdc_stream_sql() -> str:
    return _lww_oracle_sql(f"{_cdc_stream_root()}/log/*.parquet")


# ---------------------------------------------------------------------------
# CDC change feed — the engine as a CDC *source*: the row-level diff
# between two snapshots (LakeTable.changes, the Iceberg changelog-scan
# analogue). Oracle: two independent LWW replays (first batch / full
# log) full-outer-joined in DuckDB.
# ---------------------------------------------------------------------------

def _cdc_changes_root() -> str:
    return _scratch_root("cdc_changes")


def cdc_changes_feed(spark: SparkSession, sf: str) -> DataFrame:
    import atexit
    import shutil

    from .cdc import CdcEngine, ChangeLogSpec, generate_change_log
    from .lakehouse import Field, LakeTable, TableSchema

    schema = TableSchema(
        [
            Field(1, "repo", "string", False),
            Field(2, "path", "string", False),
            Field(3, "commit", "string"),
            Field(4, "lang", "string"),
            Field(5, "content", "string"),
        ],
        schema_version=1,
    )
    spec = ChangeLogSpec(n_events=20_000, n_keys=1_500)
    log = generate_change_log(spark, spec)
    root = _cdc_changes_root()
    shutil.rmtree(root, ignore_errors=True)
    atexit.register(shutil.rmtree, root, ignore_errors=True)
    # coalesce(4): the 20k-row fixture log otherwise lands as ~64 tiny
    # files (one per generator task) — fewer files cut the write wall
    # and the oracle's glob scan; content is identical (guide §6)
    log.coalesce(4).write.mode("overwrite").parquet(os.path.join(root, "log"))
    # replay from the written parquet: 4 file-tasks + lsn min/max
    # pushdown per batch scan, vs ~64 range tasks re-deriving the
    # generator expressions on every stats/merge job (guide §6)
    log = spark.read.parquet(os.path.join(root, "log"))
    table = LakeTable.create(
        spark, os.path.join(root, "repos"), schema, ["repo", "path"], n_buckets=16
    )
    engine = CdcEngine(table)
    engine.replay(log, batch_size=10_000, max_lsn=9_999)
    v_first = table.snapshot.version
    engine.replay(log, batch_size=10_000)
    return table.changes(v_first).select(
        "repo",
        "path",
        "change_op",
        "commit",
        "lang",
        F.sha2("content", 256).alias("content_digest"),
    )


def _cdc_changes_sql(root: str | None = None) -> str:
    state = """
  SELECT repo, path, commit, lang, content FROM (
    SELECT *, row_number() OVER (PARTITION BY repo, path ORDER BY lsn DESC) AS rn
    FROM ev {where}
  ) WHERE rn = 1 AND op <> 'D'
"""
    return f"""
WITH ev AS (SELECT DISTINCT lsn, op, repo, path, commit, lang, content
            FROM read_parquet('{root or _cdc_changes_root()}/log/*.parquet')),
sa AS ({state.format(where="WHERE lsn < 10000")}),
sb AS ({state.format(where="")}),
j AS (
  SELECT coalesce(sa.repo, sb.repo) AS repo, coalesce(sa.path, sb.path) AS path,
         CASE WHEN sa.repo IS NULL THEN 'I'
              WHEN sb.repo IS NULL THEN 'D'
              WHEN sa.commit IS DISTINCT FROM sb.commit
                OR sa.lang IS DISTINCT FROM sb.lang
                OR sa.content IS DISTINCT FROM sb.content THEN 'U' END AS change_op,
         sb.commit AS commit, sb.lang AS lang, sb.content AS content
  FROM sa FULL JOIN sb ON sa.repo = sb.repo AND sa.path = sb.path
)
SELECT repo, path, change_op, commit, lang, sha256(content) AS content_digest
FROM j WHERE change_op IS NOT NULL
"""


# ---------------------------------------------------------------------------
# CDC change feed over a MERGE-ON-READ range — same I/U/D semantics,
# different physical plan: the second replay appends delta files
# (strategy="append_delta"), so the whole version range is pure delta
# adds and changes() takes the fast path (range winners LEFT JOIN the
# old state; the new state is never reconstructed — LakeTable.changes,
# classified by lakehouse/feed.py). The oracle is the SAME snapshot-diff SQL as
# cdc_changes_feed on this query's own persisted log: the fast path
# must be byte-equivalent to the diff semantics.
# ---------------------------------------------------------------------------

def _cdc_changes_mor_root() -> str:
    return _scratch_root("cdc_changes_mor")


def cdc_changes_mor(spark: SparkSession, sf: str) -> DataFrame:
    import atexit
    import shutil

    from .cdc import CdcEngine, ChangeLogSpec, generate_change_log
    from .lakehouse import Field, LakeTable, TableSchema

    schema = TableSchema(
        [
            Field(1, "repo", "string", False),
            Field(2, "path", "string", False),
            Field(3, "commit", "string"),
            Field(4, "lang", "string"),
            Field(5, "content", "string"),
        ],
        schema_version=1,
    )
    spec = ChangeLogSpec(n_events=20_000, n_keys=1_500)
    log = generate_change_log(spark, spec)
    root = _cdc_changes_mor_root()
    shutil.rmtree(root, ignore_errors=True)
    atexit.register(shutil.rmtree, root, ignore_errors=True)
    # coalesce(4): the 20k-row fixture log otherwise lands as ~64 tiny
    # files (one per generator task) — fewer files cut the write wall
    # and the oracle's glob scan; content is identical (guide §6)
    log.coalesce(4).write.mode("overwrite").parquet(os.path.join(root, "log"))
    # replay from the written parquet: 4 file-tasks + lsn min/max
    # pushdown per batch scan, vs ~64 range tasks re-deriving the
    # generator expressions on every stats/merge job (guide §6)
    log = spark.read.parquet(os.path.join(root, "log"))
    table = LakeTable.create(
        spark, os.path.join(root, "repos"), schema, ["repo", "path"], n_buckets=16
    )
    CdcEngine(table).replay(log, batch_size=10_000, max_lsn=9_999)
    v_first = table.snapshot.version
    CdcEngine(table, strategy="append_delta").replay(log, batch_size=10_000)
    return table.changes(v_first).select(
        "repo",
        "path",
        "change_op",
        "commit",
        "lang",
        F.sha2("content", 256).alias("content_digest"),
    )


# ---------------------------------------------------------------------------
# Time travel under concurrent maintenance — snapshot isolation as a
# query: epoch 1 lands copy-on-write (version pinned), epoch 2 replays
# merge-on-read with ASYNC compaction (folds race the ingest batches and
# reconcile via the optimistic commit rebase, table.py _rebase), then a
# final clustering compaction rewrites every bucket. The time-travel
# read of the pinned version — through the registered data source's
# ``.option("version", N)`` — must still see exactly the epoch-1 state
# from the original (still-referenced, not-yet-expired) files. Oracle:
# the independent DuckDB LWW replay truncated at the pinned snapshot's
# checkpoint LSN. Ref: the reference keeps no history (wholesale
# re-upload, panorama_datalake.py:215-258); this is the lakehouse
# capability that replaces it.
# ---------------------------------------------------------------------------

_TIMETRAVEL_PIN_LSN = 9_999


def _cdc_timetravel_root() -> str:
    return _scratch_root("cdc_timetravel")


def cdc_timetravel(spark: SparkSession, sf: str) -> DataFrame:
    import atexit
    import shutil

    from .cdc import CdcEngine, ChangeLogSpec, generate_change_log
    from .lakehouse import Field, LakeTable, TableSchema

    schema = TableSchema(
        [
            Field(1, "repo", "string", False),
            Field(2, "path", "string", False),
            Field(3, "commit", "string"),
            Field(4, "lang", "string"),
            Field(5, "content", "string"),
        ],
        schema_version=1,
    )
    spec = ChangeLogSpec(n_events=20_000, n_keys=1_500)
    log = generate_change_log(spark, spec)
    root = _cdc_timetravel_root()
    shutil.rmtree(root, ignore_errors=True)
    atexit.register(shutil.rmtree, root, ignore_errors=True)
    # coalesce(4): the 20k-row fixture log otherwise lands as ~64 tiny
    # files (one per generator task) — fewer files cut the write wall
    # and the oracle's glob scan; content is identical (guide §6)
    log.coalesce(4).write.mode("overwrite").parquet(os.path.join(root, "log"))
    # replay from the written parquet: 4 file-tasks + lsn min/max
    # pushdown per batch scan, vs ~64 range tasks re-deriving the
    # generator expressions on every stats/merge job (guide §6)
    log = spark.read.parquet(os.path.join(root, "log"))
    table = LakeTable.create(
        spark, os.path.join(root, "repos"), schema, ["repo", "path"], n_buckets=16
    )
    CdcEngine(table).replay(log, batch_size=10_000, max_lsn=_TIMETRAVEL_PIN_LSN)
    v_pin = table.snapshot.version
    # epoch 2: merge-on-read ingest with the fold racing it on a
    # background thread (commit streams reconcile via the rebase)
    CdcEngine(
        table, strategy="append_delta", compact_every=1, compact_async=True
    ).replay(log, batch_size=5_000)
    # every bucket rewritten since the pin; old files remain referenced
    # by snapshot v_pin until expire_snapshots
    table.compact()
    from .catalog import register_data_source

    register_data_source(spark)
    return (
        spark.read.format("panorama")
        .option("version", v_pin)
        .load(table.root)
        .select(
            "repo",
            "path",
            "commit",
            "lang",
            F.sha2("content", 256).alias("content_digest"),
        )
    )


# ---------------------------------------------------------------------------
# Bucket-count evolution as a query — the table outgrew its creation
# count: replay lands a CoW epoch then an uncompacted merge-on-read
# epoch into 8 buckets, ``rebucket(32)`` rewrites the folded state
# under the new pmod(hash, 32) layout in one atomic commit, and the
# state read back (through the new layout, with point-lookup pruning
# now resolving against 32) must equal the independent DuckDB LWW
# replay. Ref: the reference has a fixed single-prefix layout
# (panorama_datalake.py:215-258); bucket evolution is the lakehouse
# capability that lets the same table span 100 TB.
# ---------------------------------------------------------------------------


def _cdc_rebucket_root() -> str:
    return _scratch_root("cdc_rebucket")


def cdc_rebucket(spark: SparkSession, sf: str) -> DataFrame:
    import atexit
    import shutil

    from .cdc import CdcEngine, ChangeLogSpec, generate_change_log
    from .lakehouse import Field, LakeTable, TableSchema

    schema = TableSchema(
        [
            Field(1, "repo", "string", False),
            Field(2, "path", "string", False),
            Field(3, "commit", "string"),
            Field(4, "lang", "string"),
            Field(5, "content", "string"),
        ],
        schema_version=1,
    )
    spec = ChangeLogSpec(n_events=20_000, n_keys=1_500)
    log = generate_change_log(spark, spec)
    root = _cdc_rebucket_root()
    shutil.rmtree(root, ignore_errors=True)
    atexit.register(shutil.rmtree, root, ignore_errors=True)
    # coalesce(4): the 20k-row fixture log otherwise lands as ~64 tiny
    # files (one per generator task) — fewer files cut the write wall
    # and the oracle's glob scan; content is identical (guide §6)
    log.coalesce(4).write.mode("overwrite").parquet(os.path.join(root, "log"))
    # replay from the written parquet: 4 file-tasks + lsn min/max
    # pushdown per batch scan, vs ~64 range tasks re-deriving the
    # generator expressions on every stats/merge job (guide §6)
    log = spark.read.parquet(os.path.join(root, "log"))
    table = LakeTable.create(
        spark, os.path.join(root, "repos"), schema, ["repo", "path"], n_buckets=8
    )
    CdcEngine(table).replay(log, batch_size=10_000, max_lsn=9_999)
    # second epoch stays uncompacted merge-on-read: the rebucket must
    # fold the deltas while re-splitting the keyspace
    CdcEngine(table, strategy="append_delta").replay(log, batch_size=10_000)
    assert table.snapshot.delta_buckets()
    snap = table.rebucket(32)
    assert snap.n_buckets == 32 and not snap.delta_buckets()
    return table.read().select(
        "repo",
        "path",
        "commit",
        "lang",
        F.sha2("content", 256).alias("content_digest"),
    )


# ---------------------------------------------------------------------------
# Persisted-catalog read path — the Glue/Athena persistence analogue
# (ref ``panorama_datalake.py:169-213``, ``panorama_elt.py:283-343``):
# replay a log into a lake (CoW epoch, then an uncompacted merge-on-read
# epoch), write the lake's catalog document, attach the SQL surface in
# one call routed through the `panorama` data source, and read the state
# back through the registered view. Exercises read-time snapshot
# resolution, the per-bucket Arrow LWW delta fold (zero shuffle), and
# the catalog round-trip under the oracle gate. Oracle: the independent
# DuckDB LWW replay of the same persisted log.
# ---------------------------------------------------------------------------

def _cdc_catalog_root() -> str:
    return _scratch_root("cdc_catalog")


def cdc_catalog_attach(spark: SparkSession, sf: str) -> DataFrame:
    import atexit
    import shutil

    from .catalog import attach_catalog, persist_catalog
    from .cdc import CdcEngine, ChangeLogSpec, generate_change_log
    from .lakehouse import Field, LakeTable, TableSchema

    schema = TableSchema(
        [
            Field(1, "repo", "string", False),
            Field(2, "path", "string", False),
            Field(3, "commit", "string"),
            Field(4, "lang", "string"),
            Field(5, "content", "string"),
        ],
        schema_version=1,
    )
    spec = ChangeLogSpec(n_events=20_000, n_keys=1_500)
    log = generate_change_log(spark, spec)
    root = _cdc_catalog_root()
    shutil.rmtree(root, ignore_errors=True)
    atexit.register(shutil.rmtree, root, ignore_errors=True)
    # coalesce(4): the 20k-row fixture log otherwise lands as ~64 tiny
    # files (one per generator task) — fewer files cut the write wall
    # and the oracle's glob scan; content is identical (guide §6)
    log.coalesce(4).write.mode("overwrite").parquet(os.path.join(root, "log"))
    # replay from the written parquet: 4 file-tasks + lsn min/max
    # pushdown per batch scan, vs ~64 range tasks re-deriving the
    # generator expressions on every stats/merge job (guide §6)
    log = spark.read.parquet(os.path.join(root, "log"))
    base = os.path.join(root, "lake")
    table = LakeTable.create(
        spark, os.path.join(base, "repos"), schema, ["repo", "path"], n_buckets=16
    )
    CdcEngine(table).replay(log, batch_size=10_000, max_lsn=9_999)
    # second epoch appends deltas and stays uncompacted: the attach-time
    # read must fold them bucket-locally
    CdcEngine(table, strategy="append_delta").replay(log, batch_size=10_000)
    assert table.snapshot.delta_buckets()
    persist_catalog(base)
    attach_catalog(spark, base, use_datasource=True)
    return spark.table("repos_raw").select(
        "repo",
        "path",
        "commit",
        "lang",
        F.sha2("content", 256).alias("content_digest"),
    )


# ---------------------------------------------------------------------------
# CDC change feed across a schema epoch — the feed survives an ALTER
# mid-stream (ref analogue: the settings YAML changes between runs,
# ``panorama_elt.py:409-470``): batch 1 lands at schema v1, the v2
# events (add `stars`) trigger the catalog-diff ALTER, batch 2 lands,
# and changes() diffs both snapshots projected to the *newer* schema by
# field id (v1-state rows backfill stars with its declared default).
# Oracle: the same two LWW replays in DuckDB with the projection rule
# written out (stars = event stars for v2 winners, default 0 for v1).
# ---------------------------------------------------------------------------

def _cdc_changes_evo_root() -> str:
    return _scratch_root("cdc_changes_evo")


def cdc_changes_schema_evo(spark: SparkSession, sf: str) -> DataFrame:
    import atexit
    import shutil

    from .cdc import CdcEngine, ChangeLogSpec, generate_change_log
    from .lakehouse import Field, LakeTable, TableSchema

    v1 = TableSchema(
        [
            Field(1, "repo", "string", False),
            Field(2, "path", "string", False),
            Field(3, "commit", "string"),
            Field(4, "lang", "string"),
            Field(5, "content", "string"),
        ],
        schema_version=1,
    )
    v2 = TableSchema(v1.fields + [Field(6, "stars", "int", default=0)], schema_version=2)
    spec = ChangeLogSpec(n_events=20_000, n_keys=1_500, schema_v2_from_lsn=10_000)
    log = generate_change_log(spark, spec)
    root = _cdc_changes_evo_root()
    shutil.rmtree(root, ignore_errors=True)
    atexit.register(shutil.rmtree, root, ignore_errors=True)
    # coalesce(4): the 20k-row fixture log otherwise lands as ~64 tiny
    # files (one per generator task) — fewer files cut the write wall
    # and the oracle's glob scan; content is identical (guide §6)
    log.coalesce(4).write.mode("overwrite").parquet(os.path.join(root, "log"))
    # replay from the written parquet: 4 file-tasks + lsn min/max
    # pushdown per batch scan, vs ~64 range tasks re-deriving the
    # generator expressions on every stats/merge job (guide §6)
    log = spark.read.parquet(os.path.join(root, "log"))
    table = LakeTable.create(
        spark, os.path.join(root, "repos"), v1, ["repo", "path"], n_buckets=16
    )
    engine = CdcEngine(table, schema_registry={1: v1, 2: v2})
    engine.replay(log, batch_size=10_000, max_lsn=9_999)  # pure-v1 epoch
    v_first = table.snapshot.version
    engine.replay(log, batch_size=10_000)  # v2 events → ALTER + apply
    assert table.snapshot.schema.schema_version == 2
    return table.changes(v_first).select(
        "repo",
        "path",
        "change_op",
        "commit",
        "lang",
        F.sha2("content", 256).alias("content_digest"),
        "stars",
    )


def _cdc_changes_evo_sql() -> str:
    state = """
  SELECT repo, path, commit, lang, content,
         CASE WHEN schema_version = 2 THEN stars ELSE 0 END AS stars
  FROM (
    SELECT *, row_number() OVER (PARTITION BY repo, path ORDER BY lsn DESC) AS rn
    FROM ev {where}
  ) WHERE rn = 1 AND op <> 'D'
"""
    return f"""
WITH ev AS (SELECT DISTINCT lsn, op, repo, path, commit, lang, content,
                   schema_version, stars
            FROM read_parquet('{_cdc_changes_evo_root()}/log/*.parquet')),
sa AS ({state.format(where="WHERE lsn < 10000")}),
sb AS ({state.format(where="")}),
j AS (
  SELECT coalesce(sa.repo, sb.repo) AS repo, coalesce(sa.path, sb.path) AS path,
         CASE WHEN sa.repo IS NULL THEN 'I'
              WHEN sb.repo IS NULL THEN 'D'
              WHEN sa.commit IS DISTINCT FROM sb.commit
                OR sa.lang IS DISTINCT FROM sb.lang
                OR sa.content IS DISTINCT FROM sb.content
                OR sa.stars IS DISTINCT FROM sb.stars THEN 'U' END AS change_op,
         sb.commit AS commit, sb.lang AS lang, sb.content AS content,
         sb.stars AS stars
  FROM sa FULL JOIN sb ON sa.repo = sb.repo AND sa.path = sb.path
)
SELECT repo, path, change_op, commit, lang, sha256(content) AS content_digest,
       stars
FROM j WHERE change_op IS NOT NULL
"""


# ---------------------------------------------------------------------------
# Zone-map pruned read — the lake's data-skipping layer end-to-end: load
# the events table into a lake table, cluster-compact sorted by ts into
# bounded files (disjoint [min,max] windows), then answer a time-range
# aggregate through read_where, which plans only the files whose stats
# windows intersect the range (lakehouse/filestats.py). The oracle is
# the same aggregate straight off the parquet source — pruning must be
# invisible in the result. Scale story: CDC commits correlate file
# windows with ingestion time, so at 100 TB a time-range query plans a
# sliver of the table instead of one task per live file.
# ---------------------------------------------------------------------------


def zm1_pruned_time_range(spark: SparkSession, sf: str) -> DataFrame:
    import atexit
    import datetime
    import shutil

    from .lakehouse import Field, LakeTable, TableSchema

    schema = TableSchema(
        [
            Field(1, "event_id", "bigint", False),
            Field(2, "ts", "timestamp"),
            Field(3, "user_id", "bigint"),
            Field(4, "event_type", "string"),
            Field(5, "value", "double"),
        ],
        schema_version=1,
    )
    events = spark.read.parquet(os.path.join(sf, "events.parquet")).select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    root = _scratch_root("zm1")
    shutil.rmtree(root, ignore_errors=True)
    atexit.register(shutil.rmtree, root, ignore_errors=True)
    table = LakeTable.create(
        spark, os.path.join(root, "events"), schema, ["event_id"], n_buckets=8
    )
    table.append(events)
    table.compact(sort_by=["ts"], max_rows_per_file=1000)
    lo = datetime.datetime(2024, 1, 10)
    hi = datetime.datetime(2024, 1, 15)
    pruned = table.read_where([("ts", "ge", lo), ("ts", "lt", hi)])
    # order-independent aggregates only (min/max/count) so the oracle
    # compare is exact regardless of partial-agg combine order
    return pruned.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.min("event_id").alias("min_event_id"),
        F.max("event_id").alias("max_event_id"),
        F.round(F.min("value"), 6).alias("min_value"),
        F.round(F.max("value"), 6).alias("max_value"),
    )


_ZM1_SQL = """
SELECT event_type,
       count(*) AS n_events,
       min(event_id) AS min_event_id,
       max(event_id) AS max_event_id,
       round(min(value), 6) AS min_value,
       round(max(value), 6) AS max_value
FROM events
WHERE ts >= TIMESTAMP '2024-01-10 00:00:00' AND ts < TIMESTAMP '2024-01-15 00:00:00'
GROUP BY event_type
"""


# ---------------------------------------------------------------------------
# Z-order clustering — zm1's layout serves only its leading sort column;
# this query rewrites the same events with layout="zorder" on (ts,
# value) (lakehouse/zorder.py: Morton interleave of manifest-bounded
# affine cells, the Delta OPTIMIZE ZORDER BY shape) and runs a
# conjunction window on BOTH columns through read_where — zone maps
# skip files on each dimension at plan time. The oracle is the plain
# two-predicate aggregate: layout and pruning are plan-time properties
# that must never change results.
# ---------------------------------------------------------------------------


def zm2_zorder_two_dim(spark: SparkSession, sf: str) -> DataFrame:
    import atexit
    import datetime
    import shutil

    from .lakehouse import Field, LakeTable, TableSchema

    schema = TableSchema(
        [
            Field(1, "event_id", "bigint", False),
            Field(2, "ts", "timestamp"),
            Field(3, "user_id", "bigint"),
            Field(4, "event_type", "string"),
            Field(5, "value", "double"),
        ],
        schema_version=1,
    )
    events = spark.read.parquet(os.path.join(sf, "events.parquet")).select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    root = _scratch_root("zm2")
    shutil.rmtree(root, ignore_errors=True)
    atexit.register(shutil.rmtree, root, ignore_errors=True)
    table = LakeTable.create(
        spark, os.path.join(root, "events"), schema, ["event_id"], n_buckets=8
    )
    table.append(events)
    table.compact(sort_by=["ts", "value"], layout="zorder", max_rows_per_file=1000)
    lo = datetime.datetime(2024, 1, 8)
    hi = datetime.datetime(2024, 1, 20)
    pruned = table.read_where(
        [("ts", "ge", lo), ("ts", "lt", hi), ("value", "ge", 50.0), ("value", "lt", 150.0)]
    )
    return pruned.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.min("event_id").alias("min_event_id"),
        F.max("event_id").alias("max_event_id"),
        F.round(F.min("value"), 6).alias("min_value"),
        F.round(F.max("value"), 6).alias("max_value"),
    )


_ZM2_SQL = """
SELECT event_type,
       count(*) AS n_events,
       min(event_id) AS min_event_id,
       max(event_id) AS max_event_id,
       round(min(value), 6) AS min_value,
       round(max(value), 6) AS max_value
FROM events
WHERE ts >= TIMESTAMP '2024-01-08 00:00:00' AND ts < TIMESTAMP '2024-01-20 00:00:00'
  AND value >= 50.0 AND value < 150.0
GROUP BY event_type
"""


# ---------------------------------------------------------------------------
# Bloom point lookup — the third metadata level as a query: the events
# land bucketed on event_id and are clustered into many bounded files;
# a 12-key IN lookup through read_where then prunes bucket-first
# (driver-side Murmur3), zone-maps second, and finally probes each
# candidate file's bloom sidecar (lakehouse/bloom.py) — planning ~one
# file per key instead of every file in the key's bucket. Pruning is
# conservative (no false negatives), so the oracle is the plain IN
# aggregate over the same parquet input.
# ---------------------------------------------------------------------------

_ZM3_IDS = [37, 411, 999, 1531, 2222, 3141, 4096, 5555, 6001, 7777, 8880, 9900]


def zm3_bloom_point_lookup(spark: SparkSession, sf: str) -> DataFrame:
    import atexit
    import shutil

    from .lakehouse import Field, LakeTable, TableSchema

    schema = TableSchema(
        [
            Field(1, "event_id", "bigint", False),
            Field(2, "ts", "timestamp"),
            Field(3, "user_id", "bigint"),
            Field(4, "event_type", "string"),
            Field(5, "value", "double"),
        ],
        schema_version=1,
    )
    events = spark.read.parquet(os.path.join(sf, "events.parquet")).select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    root = _scratch_root("zm3")
    shutil.rmtree(root, ignore_errors=True)
    atexit.register(shutil.rmtree, root, ignore_errors=True)
    table = LakeTable.create(
        spark, os.path.join(root, "events"), schema, ["event_id"], n_buckets=8
    )
    table.append(events)
    table.compact(sort_by=["ts"], max_rows_per_file=500)
    hits = table.read_where([("event_id", "in", _ZM3_IDS)])
    return hits.select(
        "event_id",
        "event_type",
        F.round(F.col("value"), 6).alias("value_r"),
    )


def _zm3_sql() -> str:
    ids = ", ".join(str(i) for i in _ZM3_IDS)
    return f"""
SELECT event_id, event_type, round(value, 6) AS value_r
FROM events WHERE event_id IN ({ids})
"""



def queries() -> dict[str, QueryFn]:
    return {
        "j1_left_join_chain": j1_left_join_chain,
        "a1_conditional_count_pivot": a1_conditional_count_pivot,
        "a2_argminmax_csv_agg": a2_argminmax_csv_agg,
        "p4_changed_keys": p4_changed_keys,
        "w1_lww_latest_window": w1_lww_latest_window,
        "w2_lww_latest_agg": w2_lww_latest_agg,
        "k5_typed_view_roundtrip": k5_typed_view_roundtrip,
        "j3_semi_join": j3_semi_join,
        "j3b_anti_join": j3b_anti_join,
        "j4_tree_fill": j4_tree_fill,
        "s5_nested_flatten": s5_nested_flatten,
        "j4b_fill_parent_attrs": j4b_fill_parent_attrs,
        "f8_normalize_digest": f8_normalize_digest,
        "d1_exact_dedupe": d1_exact_dedupe,
        "d2_minhash_signatures": d2_minhash_signatures,
        "d3_minhash_lsh_pairs": d3_minhash_lsh_pairs,
        "d4_simhash": d4_simhash,
        "d5_embedding_neardup": d5_embedding_neardup,
        "d6_ngram_jaccard": d6_ngram_jaccard,
        "d7_simhash_neardup": d7_simhash_neardup,
        "d7b_simhash64_neardup": d7b_simhash64_neardup,
        "a6_regex_tag_count": a6_regex_tag_count,
        "s6_enrich_missing_weight": s6_enrich_missing_weight,
        "f11_id_roundtrip": f11_id_roundtrip,
        "f13_url_encoded_partition": f13_url_encoded_partition,
        "j5_zip_lists": j5_zip_lists,
        "s1_ann_cosine_topk": s1_ann_cosine_topk,
        "s2_ann_cosine_lsh": s2_ann_cosine_lsh,
        "s3_ann_cosine_ivf": s3_ann_cosine_ivf,
        "s3b_ann_cosine_ivf_nprobe": s3b_ann_cosine_ivf_nprobe,
        "s4_ann_cosine_ivf_kmeans": s4_ann_cosine_ivf_kmeans,
        "t1_text_profile": t1_text_profile,
        "t2_quality_gate_dedupe": t2_quality_gate_dedupe,
        "m1_multimodal_features": m1_multimodal_features,
        "cdc_replay_state": cdc_replay_state,
        "cdc_stream_state": cdc_stream_state,
        "cdc_changes_feed": cdc_changes_feed,
        "cdc_changes_mor": cdc_changes_mor,
        "cdc_changes_schema_evo": cdc_changes_schema_evo,
        "cdc_catalog_attach": cdc_catalog_attach,
        "cdc_timetravel": cdc_timetravel,
        "cdc_rebucket": cdc_rebucket,
        "zm1_pruned_time_range": zm1_pruned_time_range,
        "zm2_zorder_two_dim": zm2_zorder_two_dim,
        "zm3_bloom_point_lookup": zm3_bloom_point_lookup,
    }


def oracle_sql() -> dict[str, str]:
    return {
        "j1_left_join_chain": _J1_SQL,
        "a1_conditional_count_pivot": _A1_SQL,
        "a2_argminmax_csv_agg": _A2_SQL,
        "p4_changed_keys": _P4_SQL,
        "w1_lww_latest_window": _W1_SQL,
        "w2_lww_latest_agg": _W2_SQL,
        "k5_typed_view_roundtrip": _K5_SQL,
        "j3_semi_join": _J3_SQL,
        "j3b_anti_join": _J3B_SQL,
        "j4_tree_fill": _J4_SQL,
        "s5_nested_flatten": _s5_sql(),
        "j4b_fill_parent_attrs": _j4b_sql(),
        "f8_normalize_digest": _F8_SQL,
        "d1_exact_dedupe": _D1_SQL,
        "d2_minhash_signatures": _d2_sql(),
        "d3_minhash_lsh_pairs": _d3_sql(),
        "d4_simhash": _d4_sql(),
        "d5_embedding_neardup": _d5_sql(),
        "d6_ngram_jaccard": _d6_sql(),
        "d7_simhash_neardup": _d7_sql(),
        "d7b_simhash64_neardup": _d7b_sql(),
        "a6_regex_tag_count": _A6_SQL,
        "s6_enrich_missing_weight": _S6_SQL,
        "f11_id_roundtrip": _F11_SQL,
        "f13_url_encoded_partition": _F13_SQL,
        "j5_zip_lists": _J5_SQL,
        "s1_ann_cosine_topk": _S1_SQL,
        "s2_ann_cosine_lsh": _s2_sql(),
        "s3_ann_cosine_ivf": _S3_SQL,
        "s3b_ann_cosine_ivf_nprobe": _S3B_SQL,
        # the kmeans fit is deterministic; the query persists the fitted
        # centroids and the oracle replays assignment + rerank over them
        "s4_ann_cosine_ivf_kmeans": _s4_sql(),
        "t1_text_profile": _t1_sql(),
        "t2_quality_gate_dedupe": _t2_sql(),
        "m1_multimodal_features": _M1_SQL,
        # the replay query persists its generated log to a fixed parquet
        # path; the oracle re-derives the final state from that log
        "cdc_replay_state": _cdc_sql(),
        "cdc_stream_state": _cdc_stream_sql(),
        "cdc_changes_feed": _cdc_changes_sql(),
        "cdc_changes_mor": _cdc_changes_sql(_cdc_changes_mor_root()),
        "cdc_catalog_attach": _lww_oracle_sql(f"{_cdc_catalog_root()}/log/*.parquet"),
        "cdc_timetravel": _lww_oracle_sql(
            f"{_cdc_timetravel_root()}/log/*.parquet", max_lsn=_TIMETRAVEL_PIN_LSN
        ),
        "cdc_rebucket": _lww_oracle_sql(f"{_cdc_rebucket_root()}/log/*.parquet"),
        "cdc_changes_schema_evo": _cdc_changes_evo_sql(),
        "zm1_pruned_time_range": _ZM1_SQL,
        "zm2_zorder_two_dim": _ZM2_SQL,
        "zm3_bloom_point_lookup": _zm3_sql(),
    }
