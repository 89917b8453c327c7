"""Query catalog: (PySpark plan, ANSI-SQL oracle) pairs for every operator.

Each entry maps one operator family from SURVEY §2 (or a training-data
pipeline op) onto the driver's TPC-H-ish tables plus ``documents`` /
``embeddings``.  The Spark side is the idiomatic Catalyst plan; the SQL
side is the DuckDB-runnable oracle the driver compares against at sf0.01
(row-count + schema + order-insensitive value hash — so every computed
column is aliased identically on both sides, floats are rounded, and every
LIMIT sits on a unique total order).

Crawl-native operators are exercised over a *derived frontier*: the
``documents`` table re-interpreted as URLs (host = source) so the oracle
stays pure ANSI SQL on the shared parquet.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from spiders_for_all_spark.functions import text as TX
from spiders_for_all_spark.functions.urls import canonicalize_url
from spiders_for_all_spark.functions import vectors as V
from spiders_for_all_spark.operators import curation as CU
from spiders_for_all_spark.operators import similarity as SIM
from spiders_for_all_spark.operators import textdedup as TD

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}


def _register(name: str, oracle: str | None = None):
    def deco(fn: QueryFn) -> QueryFn:
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ===========================================================================
# Derived frontier (shared by crawl-operator queries).
# host = source; priority = n_chars % 5; discovery = doc_id % 7.

_FRONTIER_SQL = """
    SELECT CAST(doc_id AS VARCHAR) AS doc_id,
           source AS host,
           'https://' || source || '.example.com/doc?id=' || doc_id ||
               '&lang=' || lang AS url,
           CAST(n_chars % 5 AS INT) AS priority,
           CAST(doc_id % 7 AS INT) AS discovery
    FROM documents
"""


def _frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return d.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.col("source").alias("host"),
        F.concat(
            F.lit("https://"),
            F.col("source"),
            F.lit(".example.com/doc?id="),
            F.col("doc_id"),
            F.lit("&lang="),
            F.col("lang"),
        ).alias("url"),
        (F.col("n_chars") % 5).cast("int").alias("priority"),
        (F.col("doc_id") % 7).cast("int").alias("discovery"),
    )


# ---------------------------------------------------------------------------
# O1 — priority-queue Window rank per host


@_register(
    "o1_priority_queue_rank",
    f"""
    WITH frontier AS ({_FRONTIER_SQL})
    SELECT host, url, priority,
           ROW_NUMBER() OVER (PARTITION BY host
                              ORDER BY priority, discovery, url) AS sched_rank
    FROM frontier
    """,
)
def o1_priority_queue_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    fr = _frontier(spark, sf_dir)
    w = Window.partitionBy("host").orderBy("priority", "discovery", "url")
    return fr.select(
        "host", "url", "priority", F.row_number().over(w).alias("sched_rank")
    )


# O2 — per-host budget top-k (the politeness gate)


@_register(
    "o2_host_budget_topk",
    f"""
    WITH frontier AS ({_FRONTIER_SQL}),
    ranked AS (
      SELECT host, url, priority,
             ROW_NUMBER() OVER (PARTITION BY host
                                ORDER BY priority, discovery, url) AS sched_rank
      FROM frontier)
    SELECT host, url, priority, sched_rank FROM ranked WHERE sched_rank <= 3
    """,
)
def o2_host_budget_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return o1_priority_queue_rank(spark, sf_dir).filter(F.col("sched_rank") <= 3)


# J1 — frontier ⋉ seen anti-join


@_register(
    "j1_seen_antijoin",
    f"""
    WITH frontier AS ({_FRONTIER_SQL}),
    seen AS (SELECT doc_id FROM frontier WHERE CAST(doc_id AS BIGINT) % 3 = 0)
    SELECT f.doc_id, f.url FROM frontier f
    WHERE NOT EXISTS (SELECT 1 FROM seen s WHERE s.doc_id = f.doc_id)
    """,
)
def j1_seen_antijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    fr = _frontier(spark, sf_dir)
    seen = fr.filter(F.col("doc_id").cast("bigint") % 3 == 0).select("doc_id")
    return fr.join(seen, on="doc_id", how="left_anti").select("doc_id", "url")


# F6/F9 — URL canonicalization


@_register(
    "f6_canonicalize_url",
    """
    WITH messy AS (
      SELECT CAST(doc_id AS VARCHAR) AS doc_id,
             'HTTPS://' || upper(source) || '.Example.COM:443/doc?lang=' ||
                 lang || '&id=' || doc_id || '#frag' AS url
      FROM documents)
    SELECT doc_id,
           lower(regexp_extract(url, '^([a-zA-Z][a-zA-Z0-9+.-]*)://', 1)) || '://' ||
           regexp_replace(
             lower(regexp_extract(regexp_replace(url, '#.*$', ''),
                                  '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)', 1)),
             ':(80|443)$', '') ||
           regexp_extract(regexp_replace(url, '#.*$', ''),
                          '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*)', 1) ||
           '?' || array_to_string(
             list_sort(string_split(
               regexp_extract(regexp_replace(url, '#.*$', ''), '\\?([^#]*)', 1),
               '&')), '&') AS canonical_url
    FROM messy
    """,
)
def f6_canonicalize_url(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    messy = d.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.concat(
            F.lit("HTTPS://"),
            F.upper(F.col("source")),
            F.lit(".Example.COM:443/doc?lang="),
            F.col("lang"),
            F.lit("&id="),
            F.col("doc_id"),
            F.lit("#frag"),
        ).alias("url"),
    )
    return messy.select(
        "doc_id", canonicalize_url(F.col("url")).alias("canonical_url")
    )


# S8 — id-list source: split/explode/distinct/sort


@_register(
    "s8_idlist_words",
    """
    SELECT word FROM (
      SELECT DISTINCT unnest(string_split_regex(text, '[\\s,\\t\\n]+')) AS word
      FROM documents) t
    WHERE word <> '' ORDER BY word
    """,
)
def s8_idlist_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return (
        d.select(F.explode(F.split(F.col("text"), r"[\s,\t\n]+")).alias("word"))
        .filter(F.col("word") != "")
        .distinct()
        .orderBy("word")
    )


# P1/F4 — JSON envelope filter


@_register(
    "p1_envelope_filter",
    """
    SELECT event_type, count(*) AS n, round(sum(value), 4) AS total_value
    FROM events
    WHERE CAST(json_extract_string(props, '$.k') AS BIGINT) > 50
    GROUP BY event_type
    """,
)
def p1_envelope_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    return (
        e.filter(F.get_json_object("props", "$.k").cast("bigint") > 50)
        .groupBy("event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("total_value"))
    )


# O4 — best-quality pick (top-1 per group)


@_register(
    "o4_top1_per_group",
    """
    SELECT user_id, event_id, value FROM (
      SELECT user_id, event_id, value,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY value DESC, event_id) AS rn
      FROM events) t
    WHERE rn = 1
    """,
)
def o4_top1_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("value"), F.col("event_id"))
    return (
        e.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_id", "value")
    )


# A3 — top-N


@_register(
    "a3_topn_orders",
    """
    SELECT o_orderkey, o_totalprice FROM orders
    ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
    """,
)
def a3_topn_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    return (
        o.select("o_orderkey", "o_totalprice")
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(10)
    )


# A2 — running total with cap


@_register(
    "a2_running_cap",
    """
    SELECT o_custkey, o_orderkey, running FROM (
      SELECT o_custkey, o_orderkey,
             round(SUM(o_totalprice) OVER (PARTITION BY o_custkey
                   ORDER BY o_orderdate, o_orderkey
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS running
      FROM orders) t
    WHERE running <= 300000
    """,
)
def a2_running_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        o.withColumn("running", F.round(F.sum("o_totalprice").over(w), 4))
        .filter(F.col("running") <= 300000)
        .select("o_custkey", "o_orderkey", "running")
    )


# U3 — union + distinct


@_register(
    "u3_union_distinct",
    """
    SELECT DISTINCT n_nationkey AS nationkey FROM (
      SELECT c_nationkey AS n_nationkey FROM customer
      UNION ALL SELECT s_nationkey FROM supplier) t
    """,
)
def u3_union_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = _t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.unionByName(s).distinct()


# K2 — MERGE/upsert emulation


@_register(
    "k2_merge_upsert",
    """
    WITH target AS (
      SELECT o_orderkey, o_totalprice AS price FROM orders WHERE o_orderkey % 2 = 0),
    source AS (
      SELECT o_orderkey, round(o_totalprice * 1.1, 4) AS price
      FROM orders WHERE o_orderkey % 3 = 0)
    SELECT o_orderkey, price FROM target
    WHERE o_orderkey NOT IN (SELECT o_orderkey FROM source)
    UNION ALL SELECT o_orderkey, price FROM source
    """,
)
def k2_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    target = o.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", F.col("o_totalprice").alias("price")
    )
    source = o.filter(F.col("o_orderkey") % 3 == 0).select(
        "o_orderkey", F.round(F.col("o_totalprice") * 1.1, 4).alias("price")
    )
    return target.join(source, on="o_orderkey", how="left_anti").unionByName(source)


# F5 — md5 signing expression


@_register(
    "f5_md5_sign",
    """
    SELECT c_custkey, md5(concat_ws('&', c_name, c_mktsegment)) AS sig
    FROM customer
    """,
)
def f5_md5_sign(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    return c.select(
        "c_custkey", F.md5(F.concat_ws("&", "c_name", "c_mktsegment")).alias("sig")
    )


# F1 — regexp extract


@_register(
    "f1_regexp_extract",
    """
    SELECT o_orderpriority,
           regexp_extract(o_orderpriority, '^([0-9]+)-', 1) AS prio_num,
           count(*) AS n
    FROM orders GROUP BY o_orderpriority
    """,
)
def f1_regexp_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(F.count("*").alias("n")).select(
        "o_orderpriority",
        F.regexp_extract("o_orderpriority", r"^([0-9]+)-", 1).alias("prio_num"),
        "n",
    )


# TPC-H Q1 — the canonical agg


@_register(
    "tpch_q1",
    """
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 4) AS sum_qty,
           round(sum(l_extendedprice), 4) AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 4) AS sum_disc_price,
           round(avg(l_quantity), 6) AS avg_qty,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 4).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.count("*").alias("count_order"),
        )
    )


# TPC-H Q3-ish — 3-way join + top-N revenue


@_register(
    "tpch_q3ish",
    """
    SELECT o.o_orderkey, round(sum(l.l_extendedprice * (1 - l.l_discount)), 4) AS revenue
    FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
    GROUP BY o.o_orderkey
    ORDER BY revenue DESC, o_orderkey LIMIT 10
    """,
)
def tpch_q3ish(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderkey")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), "o_orderkey")
        .limit(10)
    )


# streaming-shaped: hourly windowed event counts


@_register(
    "windowed_event_counts",
    """
    SELECT date_trunc('hour', ts) AS win_start, event_type,
           count(*) AS n, round(sum(value), 4) AS total_value
    FROM events GROUP BY 1, 2
    """,
)
def windowed_event_counts_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    return e.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("win_start"), F.col("event_type")
    ).agg(F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("total_value"))


# sessionization (gap > 30 min; session_window merges touching windows,
# so the boundary event extends the session — twin-verified by test)


@_register(
    "sessionize_events",
    """
    SELECT user_id, count(DISTINCT session_no) AS n_sessions, count(*) AS n_events
    FROM (
      SELECT user_id,
             SUM(CASE WHEN gap IS NULL OR gap > 1800 THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_no
      FROM (
        SELECT user_id, ts, event_id,
               epoch(ts) - LAG(epoch(ts)) OVER (PARTITION BY user_id
                                                ORDER BY ts, event_id) AS gap
        FROM events) g) s
    GROUP BY user_id
    """,
)
def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    epoch = F.col("ts").cast("timestamp").cast("long")  # NTZ -> epoch (UTC session)
    gap = epoch - F.lag(epoch).over(w)
    sess = F.sum(
        F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
    ).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return (
        e.withColumn("session_no", sess)
        .groupBy("user_id")
        .agg(
            F.countDistinct("session_no").alias("n_sessions"),
            F.count("*").alias("n_events"),
        )
    )


@_register(
    "crawl_recrawl_schedule",
    """
    WITH f AS (SELECT user_id AS url_id, ts, event_id, md5(props) AS fp
               FROM events),
    lagged AS (SELECT url_id, ts, event_id,
                      CASE WHEN lag(fp) OVER w IS NULL
                                OR fp <> lag(fp) OVER w
                           THEN 1 ELSE 0 END AS chg,
                      row_number() OVER w AS rn
               FROM f
               WINDOW w AS (PARTITION BY url_id ORDER BY ts, event_id)),
    agg AS (SELECT url_id,
                   CAST(count(*) AS BIGINT) AS n_fetches,
                   CAST(sum(chg) AS BIGINT) AS n_changes,
                   CAST(count(*) - max(CASE WHEN chg = 1 THEN rn END)
                        AS BIGINT) AS unchanged_streak,
                   epoch_us(max(ts)) AS last_us
            FROM lagged GROUP BY url_id)
    SELECT url_id, n_fetches, n_changes, unchanged_streak,
           CAST(3600 * (1 << least(unchanged_streak, 6)) AS BIGINT)
               AS interval_s,
           CAST(last_us
                + 3600 * (1 << least(unchanged_streak, 6)) * 1000000
                AS BIGINT) AS next_fetch_us
    FROM agg
    """,
)
def crawl_recrawl_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adaptive recrawl scheduling (Cho & Garcia-Molina-style exponential
    backoff on unchanged content) over a derived fetch history: events
    re-interpreted as fetches (url = user_id, content fingerprint =
    md5(props)).  One shuffle on the URL key; the per-URL aggregate reuses
    the window's partitioning — no second exchange.  The reference
    re-fetches everything on every run (core/spider.py:196-236); this is
    the operator that makes a 10^10-URL frontier affordable to keep fresh.
    """
    from spiders_for_all_spark.functions.partitioning import ensure_width
    from spiders_for_all_spark.operators.recrawl import recrawl_schedule

    # width guard keyed on the URL key the downstream window partitions
    # by: the md5 fingerprints then compute post-exchange on every core,
    # and the window reuses this exact partitioning — still ONE exchange
    f = ensure_width(_t(spark, sf_dir, "events"), "user_id").select(
        F.col("user_id").alias("url_id"),
        "ts",
        F.col("event_id").alias("fetch_id"),
        F.md5("props").alias("fingerprint"),
    )
    return recrawl_schedule(f, base_s=3600, max_doublings=6)


# Integer PageRank oracle: one unrolled CTE per iteration (the update is
# all integer multiply/floor-divide, so summation order cannot perturb it
# — see operators/linkrank.py).
def _pr_iter_sql(t: int) -> str:
    return f"""
    r{t} AS (SELECT nodes.node AS node,
                    CAST(150000 + coalesce(
                        sum((c.r * 850000) // (1000000 * c.outdeg)), 0)
                         AS BIGINT) AS r
             FROM nodes LEFT JOIN (
                  SELECT e.dst AS node, p.r AS r, deg.outdeg AS outdeg
                  FROM e JOIN r{t - 1} p ON p.node = e.src
                         JOIN deg ON deg.src = e.src) c
               ON c.node = nodes.node
             GROUP BY nodes.node)"""


_PR_ITERS = 3


@_register(
    "crawl_pagerank_priority",
    """
    WITH docs AS (SELECT doc_id FROM documents),
    n AS (SELECT count(*) AS n FROM docs),
    e AS (SELECT CAST(doc_id AS VARCHAR) AS src,
                 CAST((doc_id * 7 + 1) % n.n AS VARCHAR) AS dst
          FROM docs, n
          UNION ALL
          SELECT CAST(doc_id AS VARCHAR),
                 CAST((doc_id * 13 + 2) % n.n AS VARCHAR) FROM docs, n
          UNION ALL
          SELECT CAST(doc_id AS VARCHAR),
                 CAST((doc_id * 31 + 3) % n.n AS VARCHAR) FROM docs, n),
    deg AS (SELECT src, count(*) AS outdeg FROM e GROUP BY src),
    nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
    r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS r FROM nodes),
    """
    + ",".join(_pr_iter_sql(t) for t in range(1, _PR_ITERS + 1))
    + f"""
    SELECT node, r AS rank_ppm FROM r{_PR_ITERS}
    """,
)
def crawl_pagerank_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link-based frontier prioritization: deterministic integer PageRank
    (Page et al. 1999 / OPIC) over a derived doc link graph (each doc
    links to 3 hash-derived others).  Ranks are ppm integers and every
    update floors before summing, so an iterative graph algorithm sits
    behind an exact DuckDB oracle (operators/linkrank.py).  The reference
    walks fixed API pagination with no link analysis."""
    from spiders_for_all_spark.operators.linkrank import pagerank

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    n = docs.count()
    legs = [
        docs.select(
            F.col("doc_id").cast("string").alias("src"),
            ((F.col("doc_id") * a + b) % n).cast("string").alias("dst"),
        )
        for a, b in ((7, 1), (13, 2), (31, 3))
    ]
    e = legs[0].unionByName(legs[1]).unionByName(legs[2])
    return pagerank(e, n_iter=_PR_ITERS)


# ===========================================================================
# Training-data pipeline queries (dedup / similarity / text / multimodal).
# Shared SQL fragments keep the oracle byte-equivalent to the Catalyst plans.

_NORM_SQL = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"
_DOCS_SQL = f"""
  SELECT CAST(doc_id AS VARCHAR) AS doc_id, {_NORM_SQL} AS norm, text
  FROM documents
"""
_SHINGLES_SQL = f"""
  docs AS ({_DOCS_SQL}),
  w AS (SELECT doc_id, string_split(norm, ' ') AS w FROM docs),
  sh AS (SELECT doc_id,
                unnest([array_to_string(w[i+1:i+3], ' ')
                        for i in range(greatest(len(w)-2, 0))]) AS sh
         FROM w)
"""
_MINHASH_SQL = f"""
  WITH {_SHINGLES_SQL},
  presig AS (SELECT doc_id, md5(sh) AS h1, md5('x:' || sh) AS h2 FROM sh),
  sig AS (SELECT doc_id,
      {', '.join(f"min(substring({'h1' if i < 4 else 'h2'}, {(i % 4) * 8 + 1}, 8)) AS mh{i}" for i in range(8))}
    FROM presig GROUP BY doc_id),
  bands AS (
    {' UNION ALL '.join(f"SELECT doc_id, {b} AS band, md5(mh{2*b} || '|' || mh{2*b+1}) AS bucket FROM sig" for b in range(4))}
  ),
  mins AS (SELECT band, bucket, min(doc_id) AS a
           FROM bands GROUP BY band, bucket),
  pairs AS (
    SELECT DISTINCT m.a, b.doc_id AS b
    FROM bands b JOIN mins m ON b.band = m.band AND b.bucket = m.bucket
    WHERE b.doc_id > m.a)
"""


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("doc_id"), "text"
    )


@_register(
    "dedup_exact",
    f"""
    SELECT md5(norm) AS fp, min(doc_id) AS doc_id, count(*) AS n_copies
    FROM ({_DOCS_SQL}) GROUP BY 1
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TD.exact_dedup(_docs(spark, sf_dir))


@_register("dedup_minhash_lsh", _MINHASH_SQL + "SELECT a, b FROM pairs")
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TD.minhash_candidate_pairs(_docs(spark, sf_dir))


@_register(
    "dedup_minhash_incremental",
    _MINHASH_SQL
    + """,
    even_b AS (SELECT * FROM bands WHERE CAST(doc_id AS BIGINT) % 2 = 0),
    odd_b  AS (SELECT * FROM bands WHERE CAST(doc_id AS BIGINT) % 2 = 1),
    m1 AS (SELECT band, bucket, min(doc_id) AS m
           FROM even_b GROUP BY band, bucket),
    p1 AS (SELECT m1.m AS a, e.doc_id AS b
           FROM even_b e
           JOIN m1 ON e.band = m1.band AND e.bucket = m1.bucket
           WHERE e.doc_id <> m1.m),
    mem2 AS (SELECT e.* FROM even_b e
             JOIN (SELECT DISTINCT band, bucket FROM odd_b) k
               ON e.band = k.band AND e.bucket = k.bucket
             UNION ALL SELECT * FROM odd_b),
    m2 AS (SELECT band, bucket, min(doc_id) AS m_all,
                  min(CASE WHEN CAST(doc_id AS BIGINT) % 2 = 0
                           THEN doc_id END) AS m_old
           FROM mem2 GROUP BY band, bucket),
    p2 AS (SELECT m2.m_all AS a, o.doc_id AS b
           FROM odd_b o
           JOIN m2 ON o.band = m2.band AND o.bucket = m2.bucket
           WHERE o.doc_id <> m2.m_all
           UNION ALL
           SELECT m_all AS a, m_old AS b FROM m2
           WHERE m_old IS NOT NULL AND m_old <> m_all)
    SELECT DISTINCT a, b
    FROM (SELECT * FROM p1 UNION ALL SELECT * FROM p2) u
    """,
)
def dedup_minhash_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental LSH-index dedup: the corpus arrives in two batches;
    batch 1 probes an empty index (star pairs within batch 1), batch 2
    probes the index holding batch 1's band rows (corpus side
    broadcast-pruned — never shuffled).  Pair emission is star-reduced —
    each batch member links to the bucket's running min, plus a repair
    edge (new_min, old_min) when the batch lowers the bucket minimum — so
    each increment costs O(batch) edges per bucket and the union of
    increments is connected-component-equal to the one-shot LSH.  The
    oracle simulates the same two-phase construction in SQL; component
    equality with the one-shot star is property-tested in
    tests/test_dedup_similarity.py."""
    docs = _docs(spark, sf_dir)
    even = F.col("doc_id").cast("bigint") % 2 == 0
    bands1 = TD.minhash_index_rows(docs.filter(even))
    bands2 = TD.minhash_index_rows(docs.filter(~even))
    p1 = TD.minhash_index_probe(bands1)
    p2 = TD.minhash_index_probe(bands2, index=bands1)
    return p1.unionByName(p2)


@_register(
    "curation_decontaminate",
    f"""
    WITH docs AS (
      SELECT CAST(doc_id AS VARCHAR) AS doc_id,
             CAST(doc_id AS BIGINT) % 20 = 0 AS is_eval,
             {_NORM_SQL} AS norm
      FROM documents),
    w AS (SELECT doc_id, is_eval, string_split(norm, ' ') AS w FROM docs),
    sh AS (SELECT doc_id, is_eval,
                  unnest([array_to_string(w[i+1:i+3], ' ')
                          for i in range(greatest(len(w)-2, 0))]) AS sh
           FROM w),
    ev AS (SELECT DISTINCT sh FROM sh WHERE is_eval),
    cs AS (SELECT DISTINCT doc_id, sh FROM sh WHERE NOT is_eval),
    hits AS (SELECT doc_id, count(*) AS n_hits FROM cs JOIN ev USING (sh)
             GROUP BY doc_id)
    SELECT d.doc_id, coalesce(h.n_hits, 0) AS n_hits,
           coalesce(h.n_hits, 0) > 0 AS contaminated
    FROM docs d LEFT JOIN hits h USING (doc_id)
    WHERE NOT d.is_eval
    """,
)
def curation_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-set decontamination (GPT-3 recipe, n-gram collision): every
    20th document plays the eval benchmark; each remaining corpus doc is
    scored by how many distinct shingles it shares with the eval set.
    The eval shingle set is broadcast — the corpus is never shuffled
    (operators/curation.py:decontaminate)."""
    docs = _docs(spark, sf_dir)
    is_eval = F.col("doc_id").cast("bigint") % 20 == 0
    return CU.decontaminate(
        docs.filter(~is_eval), docs.filter(is_eval), shingle_n=3
    )


_MIX_TARGET = {"en": 0.4, "de": 0.15, "es": 0.15, "fr": 0.15, "zh": 0.15}


@_register(
    "curation_mixture_weights",
    f"""
    WITH t AS (SELECT lang,
                      CAST(sum(len(string_split({_NORM_SQL}, ' '))) AS BIGINT) AS tokens,
                      count(*) AS n_docs
               FROM documents GROUP BY lang)
    SELECT lang, tokens, n_docs,
           CAST(round(tokens / CAST(sum(tokens) OVER () AS DOUBLE) * 1000000)
                AS BIGINT) AS token_share_ppm,
           CAST(round((CASE {' '.join(f"WHEN lang = '{k}' THEN {v}" for k, v in sorted(_MIX_TARGET.items()))}
                       ELSE 0.0 END)
                      / (tokens / CAST(sum(tokens) OVER () AS DOUBLE))
                      * 1000000) AS BIGINT) AS weight_ppm
    FROM t
    """,
)
def curation_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pretraining mixture weighting: per-language token share and the
    resampling weight that reshapes the corpus to a target mixture
    (weight = target_share / actual_share).  Shares are emitted as integer
    parts-per-million — the a1 lesson: integers hash identically across
    engines (operators/curation.py:mixture_weights)."""
    out = CU.mixture_weights(_t(spark, sf_dir, "documents"), _MIX_TARGET)
    return out.select(
        "lang",
        "tokens",
        "n_docs",
        F.round(F.col("token_share") * 1_000_000)
        .cast("bigint")
        .alias("token_share_ppm"),
        F.round(F.col("weight") * 1_000_000)
        .cast("bigint")
        .alias("weight_ppm"),
    )


@_register(
    "curation_stratified_sample",
    """
    WITH ranked AS (
      SELECT lang, CAST(doc_id AS VARCHAR) AS doc_id,
             row_number() OVER (PARTITION BY lang
                 ORDER BY md5('s0' || CAST(doc_id AS VARCHAR)),
                          CAST(doc_id AS VARCHAR)) AS rn
      FROM documents)
    SELECT lang, rn, doc_id FROM ranked WHERE rn <= 5
    """,
)
def curation_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded exact-k-per-stratum sample (k=5 per language): rank by
    md5(seed || doc_id) — a uniform draw any engine reproduces
    bit-for-bit, unlike DataFrame.sample whose seed is stable only for a
    fixed partition layout (operators/curation.py:stratified_sample)."""
    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("doc_id"), "lang"
    )
    return CU.stratified_sample(docs, 5).select(
        "lang", F.col("rn").cast("bigint").alias("rn"), "doc_id"
    )


@_register(
    "dedup_ngram_jaccard",
    _MINHASH_SQL
    + """,
    shd AS (SELECT DISTINCT doc_id, sh FROM sh),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM shd GROUP BY doc_id),
    inter AS (SELECT p.a, p.b, count(*) AS n_inter
              FROM pairs p
              JOIN shd sa ON sa.doc_id = p.a
              JOIN shd sb ON sb.doc_id = p.b AND sb.sh = sa.sh
              GROUP BY p.a, p.b)
    SELECT p.a, p.b,
           round(CAST(coalesce(i.n_inter, 0) AS DOUBLE)
                 / (za.n_sh + zb.n_sh - coalesce(i.n_inter, 0)), 6) AS jaccard
    FROM pairs p
    LEFT JOIN inter i ON i.a = p.a AND i.b = p.b
    JOIN sizes za ON za.doc_id = p.a
    JOIN sizes zb ON zb.doc_id = p.b
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    pairs = TD.minhash_candidate_pairs(docs)
    return TD.ngram_jaccard_pairs(docs, pairs)


@_register(
    "dedup_minhash_clusters",
    _MINHASH_SQL.replace("WITH", "WITH RECURSIVE", 1)
    + """,
    nodes AS (SELECT a AS n FROM pairs UNION SELECT b FROM pairs),
    edges AS (SELECT a AS x, b AS y FROM pairs
              UNION SELECT b, a FROM pairs
              UNION SELECT n, n FROM nodes),
    reach AS (SELECT x, y FROM edges
              UNION
              SELECT r.x, e.y FROM reach r JOIN edges e ON r.y = e.x)
    SELECT x AS doc_id, min(y) AS component FROM reach GROUP BY x
    """,
)
def dedup_minhash_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERS: banded-MinHash pairs -> connected components via
    iterative min-label propagation (one equi-join + partial-agg min per
    round, no driver graph state).  The oracle computes the same components
    by transitive closure (DuckDB recursive CTE) — exact match required."""
    return TD.minhash_dup_clusters(_docs(spark, sf_dir))


@_register(
    "dedup_minhash_clusters_star",
    _MINHASH_SQL.replace("WITH", "WITH RECURSIVE", 1)
    + """,
    nodes AS (SELECT a AS n FROM pairs UNION SELECT b FROM pairs),
    edges AS (SELECT a AS x, b AS y FROM pairs
              UNION SELECT b, a FROM pairs
              UNION SELECT n, n FROM nodes),
    reach AS (SELECT x, y FROM edges
              UNION
              SELECT r.x, e.y FROM reach r JOIN edges e ON r.y = e.x)
    SELECT x AS doc_id, min(y) AS component FROM reach GROUP BY x
    """,
)
def dedup_minhash_clusters_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same clusters via alternating large-star/small-star (Kiveris et al.
    SoCC'14) — O(log diameter) rounds instead of one hop per round, the
    variant for pathological LSH chain graphs.  Same recursive-CTE oracle
    as the min-label entry: both must produce identical components."""
    return TD.connected_components_star(
        TD.minhash_candidate_pairs(_docs(spark, sf_dir))
    )


@_register(
    "dedup_simhash",
    f"""
    WITH {_SHINGLES_SQL},
    hashed AS (SELECT doc_id,
                      ('0x' || substring(md5(sh), 1, 8))::BIGINT AS b1,
                      ('0x' || substring(md5(sh), 9, 8))::BIGINT AS b2
               FROM sh),
    votes AS (SELECT doc_id,
        {', '.join(f"sum((({'b1' if j < 8 else 'b2'} >> {4 * (7 - (j % 8)) + 3}) & 1) * 2 - 1) AS v{j}" for j in range(16))}
      FROM hashed GROUP BY doc_id),
    simhashed AS (SELECT doc_id,
        {" || ".join(f"(CASE WHEN v{j} > 0 THEN '1' ELSE '0' END)" for j in range(16))} AS simhash
      FROM votes)
    SELECT simhash, count(*) AS n_docs, min(doc_id) AS representative
    FROM simhashed GROUP BY simhash
    """,
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TD.simhash_dup_groups(_docs(spark, sf_dir))


# ---------------------------------------------------------------------------
# embedding similarity — hyperplane coefficients are md5-derived constants,
# generated identically here (python) and in functions/vectors.py (Catalyst)


def _plane_coeffs(n_planes: int, dim: int) -> list[list[float]]:
    return [V.plane_coefficients(p, dim) for p in range(n_planes)]


def _bucket_sql(n_planes: int, dim: int, vec: str = "embedding") -> str:
    coeffs = _plane_coeffs(n_planes, dim)
    bits = []
    for p in range(n_planes):
        arr = "[" + ", ".join(f"{c:.1f}" for c in coeffs[p]) + "]"
        bits.append(
            f"(CASE WHEN round(list_dot_product({vec}::DOUBLE[], {arr}), 9) >= 0 "
            f"THEN '1' ELSE '0' END)"
        )
    return " || ".join(bits)


_COS_SQL = (
    "round(list_dot_product({a}::DOUBLE[], {b}::DOUBLE[]) / "
    "(sqrt(list_dot_product({a}::DOUBLE[], {a}::DOUBLE[])) * "
    "sqrt(list_dot_product({b}::DOUBLE[], {b}::DOUBLE[]))), 6)"
)


@_register(
    "dedup_embedding_cosine",
    f"""
    WITH b AS (SELECT vec_id, embedding,
                      {_bucket_sql(8, 64)} AS bucket
               FROM embeddings)
    SELECT l.vec_id AS a, r.vec_id AS b,
           {_COS_SQL.format(a='l.embedding', b='r.embedding')} AS cos
    FROM b l JOIN b r ON l.bucket = r.bucket AND l.vec_id < r.vec_id
    WHERE {_COS_SQL.format(a='l.embedding', b='r.embedding')} >= 0.4
    """,
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    return TD.embedding_near_dups(emb, threshold=0.4, n_planes=8, dim=64)


def _query_vec(spark: SparkSession, sf_dir: str, vec_id: int = 1) -> list[float]:
    row = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") == vec_id).collect()[0]
    return [float(x) for x in row["embedding"]]


@_register(
    "ann_brute_force_topk",
    f"""
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 1)
    SELECT vec_id, {_COS_SQL.format(a='embedding', b='qv')} AS cos
    FROM embeddings, q
    ORDER BY cos DESC, vec_id LIMIT 10
    """,
)
def ann_brute_force_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return SIM.brute_force_topk(
        _t(spark, sf_dir, "embeddings"), _query_vec(spark, sf_dir), k=10
    )


@_register(
    "ann_brute_force_topk_batch",
    f"""
    WITH q AS (SELECT vec_id AS q_id, embedding AS q_vec
               FROM embeddings WHERE vec_id IN (1, 2, 3)),
    scored AS (
      SELECT q.q_id, e.vec_id,
             {_COS_SQL.format(a='e.embedding', b='q.q_vec')} AS cos
      FROM embeddings e, q),
    ranked AS (
      SELECT q_id, vec_id, cos,
             row_number() OVER (PARTITION BY q_id
                                ORDER BY cos DESC, vec_id) AS rank
      FROM scored)
    SELECT q_id, vec_id, cos, rank FROM ranked WHERE rank <= 5
    """,
)
def ann_brute_force_topk_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch-ANN (the production access pattern): broadcast a small query
    set against the embedding table, exact cosine, window top-k PER query
    — one scan of the big side serves every query (similarity.py:37)."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id").isin(1, 2, 3)).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    return SIM.brute_force_topk_per_query(emb, queries, k=5)


def _ann_lsh_oracle() -> str:
    # query bucket + 1-bit multiprobe neighborhoods computed SQL-side from
    # the same md5 coefficient constants
    return f"""
    WITH q AS (SELECT embedding AS qv, {_bucket_sql(6, 64)} AS qb
               FROM embeddings WHERE vec_id = 1),
    b AS (SELECT vec_id, embedding, {_bucket_sql(6, 64)} AS bucket
          FROM embeddings),
    probes AS (
      SELECT qb AS pb FROM q
      UNION SELECT substring(qb, 1, i) ||
                   (CASE WHEN substring(qb, i+1, 1) = '1' THEN '0' ELSE '1' END) ||
                   substring(qb, i+2) AS pb
            FROM q, range(6) t(i))
    SELECT b.vec_id, {_COS_SQL.format(a='b.embedding', b='q.qv')} AS cos
    FROM b JOIN probes ON b.bucket = probes.pb, q
    ORDER BY cos DESC, vec_id LIMIT 10
    """


@_register("ann_lsh_topk", _ann_lsh_oracle())
def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return SIM.lsh_ann_topk(
        _t(spark, sf_dir, "embeddings"),
        _query_vec(spark, sf_dir),
        k=10,
        n_planes=6,
        dim=64,
    )


@_register(
    "ann_ivf_topk",
    f"""
    WITH c AS (SELECT vec_id AS cid, embedding AS cvec
               FROM embeddings WHERE vec_id < 4),
    q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 1),
    scored AS (SELECT e.vec_id, e.embedding, c.cid,
                      {_COS_SQL.format(a='e.embedding', b='c.cvec')} AS ccos
               FROM embeddings e, c),
    assign AS (SELECT vec_id, embedding, cid,
                      row_number() OVER (PARTITION BY vec_id
                                         ORDER BY ccos DESC, cid) AS rn
               FROM scored),
    probes AS (SELECT c.cid FROM c, q
               ORDER BY {_COS_SQL.format(a='c.cvec', b='q.qv')} DESC, c.cid
               LIMIT 2)
    SELECT a.vec_id, {_COS_SQL.format(a='a.embedding', b='q.qv')} AS cos
    FROM assign a JOIN probes p ON a.cid = p.cid, q
    WHERE a.rn = 1
    ORDER BY cos DESC, a.vec_id LIMIT 10
    """,
)
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN: coarse-quantizer assignment (nearest of 4 fixed centroids
    — deterministic: the 4 lowest-id vectors), probe the query's 2
    nearest inverted lists, exact cosine top-k inside
    (similarity.py ivf_assign/ivf_ann_topk; kmeans_fit trains centroids
    with Lloyd's DataFrame iterations for the non-fixed path)."""
    emb = _t(spark, sf_dir, "embeddings")
    cents = [
        [float(x) for x in r["embedding"]]
        for r in emb.filter(F.col("vec_id") < 4).orderBy("vec_id").collect()
    ]
    return SIM.ivf_ann_topk(
        emb, _query_vec(spark, sf_dir), cents, k=10, nprobe=2
    )


# ---------------------------------------------------------------------------
# text analysis

_WORDS_SQL = f"string_split({_NORM_SQL}, ' ')"


@_register(
    "text_quality",
    f"""
    WITH base AS (
      SELECT CAST(doc_id AS VARCHAR) AS doc_id, text,
             len({_WORDS_SQL}) AS n_tok,
             len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS n_bpe,
             round((length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')))
                   / greatest(length(text), 1), 6) AS punct,
             round(len(list_filter({_WORDS_SQL},
                       x -> x IN ('the','and','of','to','a')))
                   / greatest(len({_WORDS_SQL}), 1), 6) AS stopword,
             len(list_distinct({_WORDS_SQL})) AS n_distinct
      FROM documents)
    SELECT doc_id, n_tok, n_bpe, punct, stopword,
           round((least(n_tok / 50.0, 1.0) + (1 - punct)
                  + n_distinct / greatest(n_tok, 1)) / 3.0, 6) AS quality
    FROM base
    """,
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spiders_for_all_spark.functions.partitioning import ensure_width

    # width guard: 5 per-row HOF/regex metrics off a single-file scan
    d = ensure_width(_docs(spark, sf_dir), "doc_id")
    t = F.col("text")
    return d.select(
        "doc_id",
        TX.token_count(t).alias("n_tok"),
        TX.bpe_token_count(t).alias("n_bpe"),
        TX.punct_ratio(t).alias("punct"),
        TX.stopword_ratio(t).alias("stopword"),
        TX.quality_score(t).alias("quality"),
    )


def _langid_sql() -> str:
    from spiders_for_all_spark.functions.text import LANG_PROFILES

    score = {
        lang: f"len(list_filter({_WORDS_SQL}, x -> x IN "
        f"({', '.join(repr(w) for w in prof)})))"
        for lang, prof in LANG_PROFILES.items()
    }
    langs_desc = sorted(LANG_PROFILES, reverse=True)
    ladder = " ".join(
        f"WHEN s_{lang} >= {' AND s_' + lang + ' >= '.join(f's_{o}' for o in langs_desc if o != lang)} THEN '{lang}'"
        if len(langs_desc) > 1
        else f"WHEN TRUE THEN '{lang}'"
        for lang in langs_desc
    )
    # fix the generated WHEN clause syntax: s_x >= s_y AND s_x >= s_z ...
    ladder = " ".join(
        "WHEN "
        + " AND ".join(f"s_{lang} >= s_{o}" for o in langs_desc if o != lang)
        + f" THEN '{lang}'"
        for lang in langs_desc
    )
    scores_sql = ", ".join(f"{expr} AS s_{lang}" for lang, expr in score.items())
    return f"""
    WITH scored AS (SELECT lang, {scores_sql} FROM documents)
    SELECT lang, (CASE {ladder} END) AS lang_guess, count(*) AS n
    FROM scored GROUP BY 1, 2
    """


@_register("text_langid", _langid_sql())
def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "lang", TX.lang_id(F.col("text")).alias("lang_guess")
    ).groupBy("lang", "lang_guess").agg(F.count("*").alias("n"))


@_register(
    "text_fingerprint",
    f"""
    SELECT CAST(doc_id AS VARCHAR) AS doc_id, md5({_NORM_SQL}) AS fp, n_chars
    FROM documents
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return d.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        TX.fingerprint(F.col("text")).alias("fp"),
        "n_chars",
    )


# ---------------------------------------------------------------------------
# multimodal metadata plumbing (binary payload -> typed metadata), checked
# against a relational oracle


@_register(
    "multimodal_meta",
    """
    SELECT CAST(doc_id AS VARCHAR) AS media_ref,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           'bin' AS format, 'unknown' AS kind
    FROM documents
    """,
)
def multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spiders_for_all_spark.operators.multimodal import sniff_media_meta

    d = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("media_ref"),
        F.encode(F.col("text"), "utf-8").alias("payload"),
    )
    return sniff_media_meta(d).select(
        "media_ref",
        F.coalesce(F.col("n_bytes"), F.lit(0).cast("long")).alias("n_bytes"),
        "format",
        F.col("media_kind").alias("kind"),
    )


# ---------------------------------------------------------------------------
# A1/A5 metrics over a derived fetch_log (documents re-interpreted as fetch
# lineage rows so the oracle stays pure SQL on the shared parquet)

_FETCHLOG_SQL = """
    SELECT 'https://' || source || '.example.com/doc?id=' || doc_id AS url,
           source AS host,
           CAST(doc_id % 7 AS INT) AS round,
           CASE WHEN doc_id % 11 = 0 THEN 'HTTP 503'
                WHEN doc_id % 13 = 0 THEN 'ParseError: malformed body'
                ELSE NULL END AS error,
           doc_id % 23 = 0 AS dead_letter,
           CAST(n_chars % 400 AS INT) AS latency_ms,
           CAST(doc_id % 8 AS INT) AS partition_id
    FROM documents
"""


def _fetchlog(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return d.select(
        F.concat(
            F.lit("https://"), F.col("source"),
            F.lit(".example.com/doc?id="), F.col("doc_id"),
        ).alias("url"),
        F.col("source").alias("host"),
        (F.col("doc_id") % 7).cast("int").alias("round"),
        F.when(F.col("doc_id") % 11 == 0, "HTTP 503")
        .when(F.col("doc_id") % 13 == 0, "ParseError: malformed body")
        .alias("error"),
        (F.col("doc_id") % 23 == 0).alias("dead_letter"),
        (F.col("n_chars") % 400).cast("int").alias("latency_ms"),
        (F.col("doc_id") % 8).cast("int").alias("partition_id"),
    )


@_register(
    "a1_round_metrics",
    f"""
    WITH log AS ({_FETCHLOG_SQL})
    SELECT round, count(*) AS fetched,
           sum(CASE WHEN error IS NULL THEN 1 ELSE 0 END) AS ok,
           sum(CASE WHEN error IS NULL THEN 0 ELSE 1 END) AS failed,
           sum(CASE WHEN dead_letter THEN 1 ELSE 0 END) AS dead_lettered,
           CAST((sum(latency_ms) * 1000) // count(*) AS BIGINT) AS avg_latency_us,
           count(DISTINCT partition_id) AS n_partitions
    FROM log GROUP BY round
    """,
)
def a1_round_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 — success/failure counters as queryable per-round aggregations
    (reference keeps in-memory tallies: core/downloader.py:501-502).

    The ok/failed/dead_lettered columns are cast to double for the
    driver hasher ONLY: the oracle's uncast sum(CASE..) is a DuckDB
    HUGEINT, which reaches a pandas-based comparator as float64 (5000.0,
    not 5000) — the r05 hash_match=false root cause.  The values are
    exact small integers (double-representable), and every aggregation
    underneath stays pure-integer (the A1 invariant)."""
    from spiders_for_all_spark.operators.metrics import round_metrics

    m = round_metrics(_fetchlog(spark, sf_dir))
    return m.select(
        "round",
        "fetched",
        F.col("ok").cast("double").alias("ok"),
        F.col("failed").cast("double").alias("failed"),
        F.col("dead_lettered").cast("double").alias("dead_lettered"),
        "avg_latency_us",
        "n_partitions",
    )


@_register(
    "a1_partition_metrics",
    f"""
    WITH log AS ({_FETCHLOG_SQL})
    SELECT round, partition_id, count(*) AS fetched,
           sum(CASE WHEN error IS NULL THEN 1 ELSE 0 END) AS ok,
           CAST((sum(latency_ms) * 1000) // count(*) AS BIGINT) AS avg_latency_us
    FROM log GROUP BY round, partition_id
    """,
)
def a1_partition_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 — per-(round, partition) fetch lineage: the north_rule's
    "per-partition lineage + metrics" as a queryable aggregation over the
    committed fetch_log (operators/metrics.py:partition_metrics).  The
    ok column is cast to double for the driver hasher only — same
    HUGEINT-to-float64 rationale as a1_round_metrics."""
    from spiders_for_all_spark.operators.metrics import partition_metrics

    m = partition_metrics(_fetchlog(spark, sf_dir))
    return m.select(
        "round",
        "partition_id",
        "fetched",
        F.col("ok").cast("double").alias("ok"),
        "avg_latency_us",
    )


@_register(
    "a1_error_breakdown",
    f"""
    WITH log AS ({_FETCHLOG_SQL})
    SELECT error, count(*) AS n, max(round) AS last_round
    FROM log WHERE error IS NOT NULL GROUP BY error
    """,
)
def a1_error_breakdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 — per-error-class tallies over the fetch_log lineage (the
    reference logs failures ad hoc: core/downloader.py:592-609; here the
    breakdown is a partial-aggregatable groupBy, queryable after resume)."""
    from spiders_for_all_spark.operators.metrics import error_breakdown

    return error_breakdown(_fetchlog(spark, sf_dir))


@_register(
    "a5_politeness_pacing",
    f"""
    WITH log AS ({_FETCHLOG_SQL})
    SELECT round, host || '.example.com' AS host, count(*) AS fetched,
           round(count(*) / 10.0, 6) AS urls_per_host_sec
    FROM log GROUP BY round, host
    """,
)
def a5_politeness_pacing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 — per-(round, host) fan-out count + achieved pacing rate at a
    10 s round cadence (the budget-vs-rate check; BASELINE.md row 3)."""
    from spiders_for_all_spark.operators.metrics import politeness_pacing

    return politeness_pacing(
        _fetchlog(spark, sf_dir).drop("host"), round_seconds=10.0
    )


_ROBOTS_BODY_SQL = """
    'User-agent: googlebot' || chr(10) ||
    'Disallow: /gbot-only' || chr(10) ||
    '# comment line' || chr(10) ||
    'User-agent: *' || chr(10) ||
    'User-agent: bingbot' || chr(10) ||
    'Disallow: /' || host || chr(10) ||
    'Crawl-delay: ' || (length(host) % 3 + 1) || chr(10) ||
    'Disallow: /tmp' || chr(10)
"""


@_register(
    "robots_txt_parse",
    f"""
    WITH hosts AS (SELECT DISTINCT source AS host FROM documents),
    bodies AS (SELECT host, {_ROBOTS_BODY_SQL} AS body FROM hosts),
    lines AS (SELECT host,
                     generate_subscripts(string_split(body, chr(10)), 1) - 1 AS i,
                     trim(regexp_replace(unnest(string_split(body, chr(10))), '#.*$', '')) AS line
              FROM bodies),
    ua AS (SELECT host, i, line,
                  regexp_extract(line, '(?i)^user-agent:\\s*(\\S+)', 1) AS agent
           FROM lines),
    flag AS (SELECT host, i, line, agent,
                    CASE WHEN agent <> '' AND coalesce(
                             lag(agent <> '') OVER (PARTITION BY host ORDER BY i),
                             false) = false
                         THEN 1 ELSE 0 END AS new_sec
             FROM ua),
    secs AS (SELECT host, i, line, agent,
                    sum(new_sec) OVER (PARTITION BY host ORDER BY i) AS section
             FROM flag),
    named AS (SELECT host, i, line, section,
                     max(CASE WHEN lower(agent) = '*' THEN 1 ELSE 0 END)
                         OVER (PARTITION BY host, section) AS m
              FROM secs),
    star AS (SELECT * FROM named WHERE m = 1 AND section > 0),
    delays AS (SELECT host,
                      max(TRY_CAST(nullif(regexp_extract(line, '(?i)^crawl-delay:\\s*([0-9.]+)', 1), '') AS DOUBLE)) AS crawl_delay
               FROM star GROUP BY host)
    SELECT s.host, s.i AS rule_idx,
           regexp_extract(s.line, '(?i)^disallow:\\s*(\\S+)', 1) AS path,
           d.crawl_delay
    FROM star s JOIN delays d USING (host)
    WHERE regexp_extract(s.line, '(?i)^disallow:\\s*(\\S+)', 1) <> ''
    """,
)
def robots_txt_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """robots.txt parsing as pure Catalyst (posexplode + section windows):
    deterministic per-host robots bodies with an agent-specific section, a
    comment, a STACKED wildcard group ('User-agent: *' + 'User-agent:
    bingbot' — RFC 9309 says consecutive UA lines share one rule group)
    with two Disallow rules and a Crawl-delay — parsed to one rule row per
    (host, path).  Feeds the round's robots gate via
    politeness.robots_table_from_bodies."""
    from spiders_for_all_spark.operators.politeness import parse_robots_txt

    hosts = _t(spark, sf_dir, "documents").select(
        F.col("source").alias("host")
    ).distinct()
    body = F.concat(
        F.lit("User-agent: googlebot\nDisallow: /gbot-only\n# comment line\n"),
        F.lit("User-agent: *\nUser-agent: bingbot\nDisallow: /"),
        F.col("host"),
        F.lit("\nCrawl-delay: "),
        (F.length("host") % 3 + 1).cast("string"),
        F.lit("\nDisallow: /tmp\n"),
    )
    return parse_robots_txt(hosts.withColumn("body", body)).select(
        "host", "rule_idx", "path", "crawl_delay"
    )


@_register(
    "media_meta_sniff",
    """
    SELECT CAST(doc_id AS VARCHAR) AS media_ref,
           CAST(octet_length(encode(text)) +
                (CASE WHEN doc_id % 4 IN (1, 2) THEN 4 ELSE 3 END) AS BIGINT)
               AS n_bytes,
           CASE doc_id % 4 WHEN 0 THEN 'jpeg' WHEN 1 THEN 'png'
                           WHEN 2 THEN 'gif' ELSE 'mp4' END AS format,
           CASE WHEN doc_id % 4 = 3 THEN 'video' ELSE 'image' END AS media_kind
    FROM documents
    """,
)
def media_meta_sniff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The media sniff (multimodal.sniff_media_meta, the same sniff_format
    a crawl's fetch worker applies) over deterministic magic-byte payloads:
    jpeg/png/gif/mp4 prefixes + the doc text as body, in one Arrow pass."""
    from spiders_for_all_spark.operators.multimodal import sniff_media_meta

    d = _t(spark, sf_dir, "documents")
    prefix = (
        F.when(F.col("doc_id") % 4 == 0, "FFD8FF")       # jpeg magic
        .when(F.col("doc_id") % 4 == 1, "89504E47")      # \x89PNG
        .when(F.col("doc_id") % 4 == 2, "47494638")      # GIF8
        .otherwise("000000")                             # mp4 stand-in
    )
    rows = d.select(
        F.col("doc_id").cast("string").alias("media_ref"),
        F.unhex(F.concat(prefix, F.hex(F.encode(F.col("text"), "utf-8")))).alias(
            "payload"
        ),
    )
    return sniff_media_meta(rows).select(
        "media_ref", "n_bytes", "format", "media_kind"
    )


@_register(
    "k2_merge_on_read",
    """
    SELECT CAST(doc_id AS VARCHAR) AS doc_id,
           CASE WHEN doc_id % 3 = 0 THEN 'v1:' || text ELSE text END AS text,
           '2026-01-01 00:00:00' AS created,
           CASE WHEN doc_id % 3 = 0 THEN '2026-02-02 00:00:00'
                ELSE '2026-01-01 00:00:00' END AS updated
    FROM documents
    """,
)
def k2_merge_on_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K2 via the REAL storage layer, merge-on-read strategy: two MoR
    commits into a scratch warehouse, then read() — the oracle checks the
    last-writer-wins + keep-create_at resolution end-to-end (VERDICT r02
    item 1 correctness gate)."""
    import tempfile

    from spiders_for_all_spark.storage import SnapshotStorage

    def version(df: DataFrame, text_col, stamp: str) -> DataFrame:
        return df.select(
            F.col("doc_id").cast("string").alias("doc_id"),
            F.array(
                F.struct(
                    F.lit("text").alias("kind"),
                    text_col.alias("text"),
                    F.lit(None).cast("string").alias("media_ref"),
                    F.lit(0).alias("offset"),
                )
            ).alias("spans"),
            F.lit(stamp).cast("timestamp").alias("create_at"),
            F.lit(stamp).cast("timestamp").alias("update_at"),
        )

    d = _t(spark, sf_dir, "documents")
    v0 = version(d, F.col("text"), "2026-01-01 00:00:00")
    v1 = version(
        d.filter(F.col("doc_id") % 3 == 0),
        F.concat(F.lit("v1:"), F.col("text")),
        "2026-02-02 00:00:00",
    )
    st = SnapshotStorage(spark, tempfile.mkdtemp(prefix="sfas_mor_"))
    for v in (v0, v1):
        st.merge_upsert(
            "documents", v, key="doc_id", keep_on_match=["create_at"],
            strategy="mor",
        )
    return st.read("documents").select(
        "doc_id",
        F.col("spans")[0]["text"].alias("text"),
        F.date_format("create_at", "yyyy-MM-dd HH:mm:ss").alias("created"),
        F.date_format("update_at", "yyyy-MM-dd HH:mm:ss").alias("updated"),
    )


# ---------------------------------------------------------------------------
# crawl end-to-end: the live multi-round engine vs a golden parquet the
# reference-semantics SIMULATOR exported (tools/export_golden_spans.py) —
# the iterative engine itself is not SQL-expressible, but its ANSWER is a
# fixed table, so the driver's hash gate can check it like any oracle.


@_register(
    "crawl_e2e_spans",
    """
    SELECT doc_id, n_spans, spans_fp
    FROM read_parquet('/root/repo/tests/fixtures/golden_e2e_spans.parquet')
    """,
)
def crawl_e2e_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full crawl over the deterministic seed=11 synthetic site; one
    (doc_id, n_spans, spans_fp) row per document, where spans_fp is the
    md5 of the ORDERED span sequence (kind, text, media_ref, offset —
    operators/documents.py:span_fingerprint).  The oracle is the
    simulator's answer for the same site+config, regenerated via
    `python tools/export_golden_spans.py`; equality IS the north_rule's
    span-sequence invariant.  Full per-span golden equality (plus
    ordering / seen-set / dead-letter equality) lives in
    tests/test_crawl_golden.py."""
    import tempfile

    from spiders_for_all_spark import fixtures as FX
    from spiders_for_all_spark.engine import Crawler, CrawlConfig
    from spiders_for_all_spark.operators.documents import span_fingerprint
    from spiders_for_all_spark.sources.fetcher import SyntheticFetcher
    from spiders_for_all_spark.storage import SnapshotStorage

    rows, seeds = FX.build_site(
        n_hosts=3, pages_per_chain=3, page_size=2, cursor_pages=3, notes_per_host=2, seed=11
    )
    site = tempfile.mkdtemp(prefix="sfas_site_") + "/pages.parquet"
    FX.write_site(rows, site)
    storage = SnapshotStorage(spark, tempfile.mkdtemp(prefix="sfas_wh_"))
    Crawler(
        spark, storage, SyntheticFetcher(site), CrawlConfig(default_budget=3, max_rounds=30)
    ).run(seeds=seeds)
    docs = storage.read("documents")
    return docs.select(
        "doc_id",
        F.size("spans").cast("bigint").alias("n_spans"),
        span_fingerprint(F.col("spans")).alias("spans_fp"),
    )


# ---------------------------------------------------------------------------
# flagship: enriched + dedup-annotated corpus (entry()) — full DuckDB oracle
# composed from the per-operator fragments above, so the driver's
# CORRECTNESS gate covers the flagship pipeline itself (VERDICT r02 item 4)


def _flagship_sql() -> str:
    from spiders_for_all_spark.functions.text import LANG_PROFILES

    langs_desc = sorted(LANG_PROFILES, reverse=True)
    scores_sql = ", ".join(
        f"len(list_filter({_WORDS_SQL}, x -> x IN "
        f"({', '.join(repr(w) for w in prof)}))) AS s_{lang}"
        for lang, prof in LANG_PROFILES.items()
    )
    ladder = " ".join(
        "WHEN "
        + " AND ".join(f"s_{lang} >= s_{o}" for o in langs_desc if o != lang)
        + f" THEN '{lang}'"
        for lang in langs_desc
    )
    return f"""
    {_MINHASH_SQL},
    qual AS (
      SELECT CAST(doc_id AS VARCHAR) AS doc_id,
             md5({_NORM_SQL}) AS fp,
             len({_WORDS_SQL}) AS n_tok,
             round((length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')))
                   / greatest(length(text), 1), 6) AS punct,
             len(list_distinct({_WORDS_SQL})) AS n_distinct,
             {scores_sql}
      FROM documents),
    enriched AS (
      SELECT doc_id, fp,
             (CASE {ladder} END) AS lang_guess,
             round((least(n_tok / 50.0, 1.0) + (1 - punct)
                    + n_distinct / greatest(n_tok, 1)) / 3.0, 6) AS quality,
             n_tok
      FROM qual),
    dup AS (SELECT fp, min(doc_id) AS rep_doc_id, count(*) AS n_copies
            FROM enriched GROUP BY fp),
    near AS (SELECT doc_id, count(*) AS n_near_dup_cands FROM (
               SELECT a AS doc_id FROM pairs UNION ALL SELECT b AS doc_id FROM pairs) u
             GROUP BY doc_id)
    SELECT e.doc_id, e.fp, e.lang_guess, e.quality, e.n_tok,
           d.n_copies, d.rep_doc_id,
           coalesce(n.n_near_dup_cands, 0) AS n_near_dup_cands,
           e.doc_id <> d.rep_doc_id AS is_exact_dup
    FROM enriched e
    JOIN dup d ON d.fp = e.fp
    LEFT JOIN near n ON n.doc_id = e.doc_id
    """


@_register("flagship_enriched_corpus", _flagship_sql())
def flagship_enriched_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    t = F.col("text")
    enriched = docs.select(
        "doc_id",
        TX.fingerprint(t).alias("fp"),
        TX.lang_id(t).alias("lang_guess"),
        TX.quality_score(t).alias("quality"),
        TX.token_count(t).alias("n_tok"),
    )
    dup_groups = TD.exact_dedup(docs).select(
        F.col("fp"), F.col("n_copies"), F.col("doc_id").alias("rep_doc_id")
    )
    pairs = TD.minhash_candidate_pairs(docs)
    near_dup_counts = (
        pairs.select(F.col("a").alias("doc_id"))
        .unionByName(pairs.select(F.col("b").alias("doc_id")))
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_near_dup_cands"))
    )
    return (
        enriched.join(F.broadcast(dup_groups), on="fp", how="left")
        .join(near_dup_counts, on="doc_id", how="left")
        .na.fill({"n_near_dup_cands": 0})
        .withColumn("is_exact_dup", F.col("doc_id") != F.col("rep_doc_id"))
    )


# ===========================================================================
# Remaining SURVEY §2 rows as oracle pairs


@_register(
    "s7_sql_passthrough",
    """
    SELECT o_orderstatus, count(*) AS n, round(avg(o_totalprice), 4) AS avg_price
    FROM orders WHERE o_totalprice > 1000 GROUP BY o_orderstatus
    """,
)
def s7_sql_passthrough(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7 — arbitrary user SQL over the tables, verbatim through spark.sql
    (reference: database/cli.py:90-150, bilibili/cli.py:301-326)."""
    _t(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        """
        SELECT o_orderstatus, count(*) AS n, round(avg(o_totalprice), 4) AS avg_price
        FROM orders WHERE o_totalprice > 1000 GROUP BY o_orderstatus
        """
    )


@_register(
    "p5_quality_codec_filter",
    """
    SELECT p_partkey, p_type, p_size FROM (
      SELECT p_partkey, p_type, p_size,
             ROW_NUMBER() OVER (PARTITION BY p_brand
                                ORDER BY p_size DESC, p_partkey) AS rn
      FROM part WHERE regexp_matches(p_type, 'ECONOMY|PROMO')) t
    WHERE rn = 1
    """,
)
def p5_quality_codec_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5 — regex codec filter + best-quality top-1 per group (reference:
    spiders/bilibili/downloader.py:116-137,92-101)."""
    p = _t(spark, sf_dir, "part").filter(F.col("p_type").rlike("ECONOMY|PROMO"))
    w = Window.partitionBy("p_brand").orderBy(F.desc("p_size"), "p_partkey")
    return (
        p.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("p_partkey", "p_type", "p_size")
    )


@_register(
    "p6_where_passthrough",
    """
    SELECT c_custkey, c_name FROM customer
    WHERE c_acctbal > 0 AND c_mktsegment = 'BUILDING'
    """,
)
def p6_where_passthrough(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P6 — user WHERE clause appended verbatim (reference:
    spiders/bilibili/cli.py:71-75) -> F.expr passthrough."""
    user_where = "c_acctbal > 0 AND c_mktsegment = 'BUILDING'"
    return (
        _t(spark, sf_dir, "customer")
        .where(F.expr(user_where))
        .select("c_custkey", "c_name")
    )


@_register(
    "f2_sanitize_filename",
    r"""
    SELECT c_custkey,
           regexp_replace(c_name || '/x:*?"<>|', '[\\\/:*?"<>|]', '_', 'g') AS fname
    FROM customer
    """,
)
def f2_sanitize_filename(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F2 — filename sanitize regex (reference: utils/helper.py:15,26-27)."""
    c = _t(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.regexp_replace(
            F.concat(F.col("c_name"), F.lit('/x:*?"<>|')), r'[\\\/:*?"<>|]', "_"
        ).alias("fname"),
    )


@_register(
    "u2_backup_url_failover",
    """
    SELECT doc_id, urls[1 + (CAST(doc_id AS BIGINT) % 3)] AS chosen FROM (
      SELECT CAST(doc_id AS VARCHAR) AS doc_id,
             ['https://' || source || '/primary/' || doc_id,
              'https://backup1.example.com/' || doc_id,
              'https://backup2.example.com/' || doc_id] AS urls
      FROM documents) t
    """,
)
def u2_backup_url_failover(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U2 — primary ∪ backup URLs as an ordered array; failover = index by
    attempt number (reference: core/media.py:36-42, core/downloader.py:186-218).
    attempt is emulated as doc_id % 3."""
    d = _t(spark, sf_dir, "documents")
    urls = F.array(
        F.concat(F.lit("https://"), F.col("source"), F.lit("/primary/"), F.col("doc_id")),
        F.concat(F.lit("https://backup1.example.com/"), F.col("doc_id")),
        F.concat(F.lit("https://backup2.example.com/"), F.col("doc_id")),
    )
    attempt = (F.col("doc_id").cast("bigint") % 3).cast("int")
    return d.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.element_at(urls, attempt + 1).alias("chosen"),
    )


# ===========================================================================
# Round-2 additions — S6 chunk planning, F7 WBI signed URL + epoch, F8 seeded
# fingerprint params, F10 filename-by-datetime, materialized-bucket ANN.

from spiders_for_all_spark.functions.signing import (  # noqa: E402
    MIXIN_KEY_ENC_TAB,
    sorted_query_string,
    wbi_sign,
)


@_register(
    "s6_media_chunk_plan",
    """
    SELECT CAST(doc_id AS VARCHAR) AS doc_id,
           CASE WHEN doc_id % 2 = 0
                THEN 'https://backup0.example.com/m/' || doc_id || '.mp4'
                ELSE 'https://' || source || '/m/' || doc_id || '.mp4'
           END AS media_ref,
           CAST(n_chars AS BIGINT) AS media_len,
           CAST(CEIL(n_chars / 4096.0) AS INT) AS n_chunks
    FROM documents WHERE n_chars > 0
    """,
)
def s6_media_chunk_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6 — chunked media download plan: ordered [primary, backup] failover
    choice (even doc_ids' primaries "fail") + CHUNK_SIZE accounting
    (reference: core/downloader.py:184-218 iter_content loop,
    core/media.py:36-42 backup list)."""
    d = _t(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    primary = F.concat(
        F.lit("https://"), F.col("source"), F.lit("/m/"),
        F.col("doc_id").cast("string"), F.lit(".mp4"),
    )
    backup = F.concat(
        F.lit("https://backup0.example.com/m/"),
        F.col("doc_id").cast("string"), F.lit(".mp4"),
    )
    return d.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.when(F.col("doc_id") % 2 == 0, backup).otherwise(primary).alias("media_ref"),
        F.col("n_chars").cast("bigint").alias("media_len"),
        F.ceil(F.col("n_chars") / F.lit(4096.0)).cast("int").alias("n_chunks"),
    )


# F7 — WBI-signed URL with pinned wts (production: unix_timestamp(now()));
# the mixin key is the public 64-entry permutation of img_key+sub_key
# truncated to 32 (reference spiders/bilibili/sign.py:86-129).

_IMG_KEY = "7cd084941338484aae1ad9425b84077c"
_SUB_KEY = "4932caff0ff746eab6f01bf08b70ac45"
_MIXIN = "".join((_IMG_KEY + _SUB_KEY)[i] for i in MIXIN_KEY_ENC_TAB[:32])
_WTS = "1718700000"


@_register(
    "f7_wbi_signed_url",
    f"""
    SELECT CAST(o_orderkey AS VARCHAR) AS bvid,
           epoch(CAST(o_orderdate AS TIMESTAMP))::BIGINT AS order_epoch_s,
           'https://api.example.com/x/wbi?bvid=' || o_orderkey ||
               '&wts={_WTS}&w_rid=' ||
               md5('bvid=' || o_orderkey || '&wts={_WTS}' || '{_MIXIN}')
               AS signed_url
    FROM orders
    """,
)
def f7_wbi_signed_url(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F7 — time/epoch column + full WBI request builder: params map ->
    sorted query string (+ wts) -> w_rid = md5(query + mixin_key) -> URL
    (reference spiders/bilibili/spiders.py:550-580, sign.py:86-129).
    wts is pinned for oracle determinism; production uses
    unix_timestamp(current_timestamp())."""
    o = _t(spark, sf_dir, "orders")
    params = F.create_map(
        F.lit("bvid"), F.col("o_orderkey").cast("string"),
        F.lit("wts"), F.lit(_WTS),
    )
    sig = wbi_sign(params, F.lit(_IMG_KEY), F.lit(_SUB_KEY))
    return o.select(
        F.col("o_orderkey").cast("string").alias("bvid"),
        F.unix_timestamp(F.col("o_orderdate").cast("timestamp")).alias(
            "order_epoch_s"
        ),
        F.concat(
            F.lit("https://api.example.com/x/wbi?"),
            sorted_query_string(params),
            F.lit("&w_rid="),
            sig,
        ).alias("signed_url"),
    )


@_register(
    "f8_seeded_fingerprint",
    """
    SELECT c_custkey,
           CAST(('0x' || substr(md5(CAST(c_custkey AS VARCHAR) || ':dm_img:42'), 1, 8))::BIGINT
                % 100 AS INT) AS dm_img,
           CAST(('0x' || substr(md5(CAST(c_custkey AS VARCHAR) || ':dm_cvr:42'), 1, 8))::BIGINT
                % 100 AS INT) AS dm_cvr,
           CAST(('0x' || substr(md5(CAST(c_custkey AS VARCHAR) || ':dm_rand:42'), 1, 8))::BIGINT
                % 10 AS INT) + 2 AS dm_rand_len
    FROM customer
    """,
)
def f8_seeded_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F8 — seeded pseudo-random fingerprint params (reference
    spiders/bilibili/spiders.py:552-556 random dm_img_* values): md5-derived
    so the "randomness" is reproducible on any cluster size / retry —
    rand(seed) would NOT be (it is partition-layout dependent)."""

    def seeded(tag: str, mod: int) -> F.Column:
        return (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.col("c_custkey").cast("string"), F.lit(f":{tag}:42")
                        )
                    ),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("bigint")
            % mod
        ).cast("int")

    c = _t(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        seeded("dm_img", 100).alias("dm_img"),
        seeded("dm_cvr", 100).alias("dm_cvr"),
        (seeded("dm_rand", 10) + 2).alias("dm_rand_len"),
    )


@_register(
    "f10_filename_datetime",
    r"""
    SELECT o_orderkey,
           regexp_replace(o_orderpriority || '?*', '[\\\/:*?"<>|]', '_', 'g') || '_' ||
               strftime(CAST(o_orderdate AS TIMESTAMP), '%Y%m%d-%H%M%S') ||
               '.mp4' AS fname
    FROM orders
    """,
)
def f10_filename_datetime(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F10 — filename-by-datetime: sanitized stem + yyyyMMdd-HHmmss suffix
    (reference core/downloader.py:48-49 datetime.now().strftime filename)."""
    o = _t(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.concat(
            F.regexp_replace(
                F.concat(F.col("o_orderpriority"), F.lit("?*")),
                r'[\\\/:*?"<>|]',
                "_",
            ),
            F.lit("_"),
            F.date_format(F.col("o_orderdate").cast("timestamp"), "yyyyMMdd-HHmmss"),
            F.lit(".mp4"),
        ).alias("fname"),
    )


@_register("ann_lsh_topk_materialized", _ann_lsh_oracle())
def ann_lsh_topk_materialized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN over the materialized bucket-partitioned index: identical result
    to ann_lsh_topk, but the probe reads ONLY its bucket partitions
    (PartitionFilters prune the scan — the 10^9-vector path)."""
    import hashlib
    import os
    import tempfile

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:10]
    path = os.path.join(tempfile.gettempdir(), f"sfas_lsh_idx_{tag}")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        SIM.materialize_lsh_buckets(
            _t(spark, sf_dir, "embeddings"), path, n_planes=6, dim=64
        )
    return SIM.lsh_ann_topk_materialized(
        spark, path, _query_vec(spark, sf_dir), k=10, n_planes=6, dim=64
    )


# ===========================================================================
# Corpus-cleaning operators (operators/cleaning.py): passage-level exact
# dedup, PII scrubbing, repetition signals, blocklist filtering, corpus
# stats.  No reference counterpart (the reference never cleans what it
# stores — core/spider.py:196-236); these are the stages between crawl
# and training-data freeze.


_PASSAGE_N = 12

_PASSAGES_SQL = f"""
    SELECT doc_id, CAST(u.i AS INT) AS pos,
           array_to_string(w[(u.i*{_PASSAGE_N}+1):(u.i*{_PASSAGE_N}+{_PASSAGE_N})], ' ') AS passage
    FROM (SELECT doc_id, {_WORDS_SQL} AS w FROM documents),
         UNNEST(range(CAST(ceil(len(w)/{_PASSAGE_N}.0) AS BIGINT))) AS u(i)
"""


@_register(
    "clean_passage_dedup",
    f"""
    WITH paras AS ({_PASSAGES_SQL}),
    hashed AS (SELECT doc_id, pos, passage, md5(passage) AS h FROM paras),
    keep AS (SELECT h, min(doc_id * 1000000 + pos) AS k FROM hashed GROUP BY h),
    flagged AS (
      SELECT d.doc_id, d.pos, d.passage,
             (d.doc_id * 1000000 + d.pos = keep.k) AS kept
      FROM hashed d JOIN keep ON d.h = keep.h)
    SELECT doc_id, count(*) AS n_passages,
           CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           md5(coalesce(string_agg(passage, ' ' ORDER BY pos)
                            FILTER (WHERE kept), '')) AS kept_fp
    FROM flagged GROUP BY doc_id
    """,
)
def clean_passage_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide passage-level exact-substring dedup (Lee et al.-style,
    at a deterministic 12-word passage grid): first occurrence of each
    distinct passage wins; documents are reassembled from survivors.
    Keeper election is a partial-agg min(struct) — boilerplate passages
    collapse map-side instead of hot-spotting one reducer."""
    from spiders_for_all_spark.operators.cleaning import passage_dedup

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    out = passage_dedup(d, n_words=_PASSAGE_N)
    return out.select(
        "doc_id", "n_passages", "n_kept", F.md5("text_kept").alias("kept_fp")
    )


_SUBSTR_K = 8

# Sliding k-gram duplicate positions (Lee-et-al exact-substring pass at
# ANY word offset — the passage grid above only catches grid-aligned
# copies).  Shared by the span-manifest and scrub oracles.
_SUBSTR_DUP_SQL = f"""
    docs AS (SELECT CAST(doc_id AS VARCHAR) AS doc_id, {_NORM_SQL} AS norm
             FROM documents),
    w AS (SELECT doc_id, string_split(norm, ' ') AS w FROM docs),
    g0 AS (SELECT doc_id,
                  unnest([{{'pos': i,
                            'gram': array_to_string(w[i+1:i+{_SUBSTR_K}], ' ')}}
                          for i in range(greatest(len(w)-{_SUBSTR_K - 1}, 0))]) AS u
           FROM w),
    g AS (SELECT doc_id, u.pos AS pos, md5(u.gram) AS h FROM g0),
    ranked AS (SELECT doc_id, pos,
                      count(*) OVER (PARTITION BY h) AS n,
                      row_number() OVER (PARTITION BY h
                          ORDER BY doc_id, pos) AS rn
               FROM g),
    dup AS (SELECT doc_id, pos FROM ranked WHERE n > 1 AND rn > 1)
"""

_SUBSTR_SPANS_SQL = f"""
    WITH {_SUBSTR_DUP_SQL},
    isl0 AS (SELECT doc_id, pos,
                    max(pos + {_SUBSTR_K - 1}) OVER (PARTITION BY doc_id
                        ORDER BY pos
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                        AS prev_end
             FROM dup),
    flag AS (SELECT doc_id, pos,
                    CASE WHEN prev_end IS NULL OR pos > prev_end + 1
                         THEN 1 ELSE 0 END AS f
             FROM isl0),
    island AS (SELECT doc_id, pos,
                      sum(f) OVER (PARTITION BY doc_id ORDER BY pos
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                          AS isl
               FROM flag),
    spans AS (SELECT doc_id, CAST(min(pos) AS INT) AS span_start,
                     CAST(max(pos) + {_SUBSTR_K - 1} AS INT) AS span_end,
                     count(*) AS n_grams
              FROM island GROUP BY doc_id, isl)
"""


@_register(
    "dedup_substring_spans",
    _SUBSTR_SPANS_SQL
    + """
    SELECT doc_id, span_start, span_end, n_grams FROM spans
    """,
)
def dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window exact-substring dedup manifest (Lee et al. 2021
    re-expressed as hash-equality): every non-keeper occurrence of a
    corpus-duplicated 8-word window, merged per doc into maximal removal
    spans.  Only (hash, id, pos) triples ride the gram shuffle; keeper
    election is a partial-agg min(struct).  The reference stores raw
    scraped rows and never dedups them (core/spider.py:196-236)."""
    from spiders_for_all_spark.operators.cleaning import substring_spans

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return substring_spans(d, k=_SUBSTR_K)


@_register(
    "clean_substring_scrub",
    _SUBSTR_SPANS_SQL
    + f""",
    wrds AS (SELECT doc_id, u.wpos AS wpos, u.word AS word
             FROM (SELECT doc_id,
                          unnest([{{'wpos': i, 'word': w[i+1]}}
                                  for i in range(len(w))]) AS u
                   FROM w)),
    covered AS (SELECT DISTINCT doc_id, unnest(range(pos, pos + {_SUBSTR_K}))
                    AS wpos
                FROM dup),
    marked AS (SELECT wr.doc_id, wr.wpos, wr.word,
                      c.wpos IS NOT NULL AS cov
               FROM wrds wr LEFT JOIN covered c
                 ON c.doc_id = wr.doc_id AND c.wpos = wr.wpos)
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_words,
           CAST(sum(CASE WHEN cov THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
           md5(coalesce(string_agg(CASE WHEN NOT cov THEN word END,
                                   ' ' ORDER BY wpos), '')) AS kept_fp
    FROM marked GROUP BY doc_id
    """,
)
def clean_substring_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply the exact-substring removal manifest: drop every word inside
    a duplicated span, reassemble survivors in order.  The corpus text
    never rides a shuffle — the span manifest equi-joins back on doc_id
    and the word filter runs expression-side (index-lambda over the
    let-bound span array)."""
    from spiders_for_all_spark.operators.cleaning import scrub_substring_dups

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    out = scrub_substring_dups(d, k=_SUBSTR_K)
    return out.select(
        "doc_id", "n_words", "n_removed", F.md5("text_kept").alias("kept_fp")
    )


@_register(
    "text_lm_perplexity",
    """
    WITH docs AS (SELECT CAST(doc_id AS VARCHAR) AS doc_id,
                         {norm} AS norm
                  FROM documents),
    w AS (SELECT doc_id, string_split(norm, ' ') AS w FROM docs),
    bg AS (SELECT doc_id, u.w1 AS w1, u.w2 AS w2
           FROM (SELECT doc_id,
                        unnest([{'w1': w[i+1], 'w2': w[i+2]}
                                for i in range(greatest(len(w)-1, 0))]) AS u
                 FROM w)),
    c12 AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY w1, w2),
    c1 AS (SELECT w1, count(*) AS c1 FROM bg GROUP BY w1),
    vocab AS (SELECT count(DISTINCT w1) AS v FROM bg)
    SELECT bg.doc_id,
           CAST(count(*) AS BIGINT) AS n_bigrams,
           round(avg(-log2(CAST(c12.c12 + 1 AS DOUBLE) / (c1.c1 + vocab.v))),
                 4) AS bits_per_token
    FROM bg
    JOIN c12 ON c12.w1 = bg.w1 AND c12.w2 = bg.w2
    JOIN c1 ON c1.w1 = bg.w1
    CROSS JOIN vocab
    GROUP BY bg.doc_id
    """.replace("{norm}", _NORM_SQL),
)
def text_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style quality signal: per-doc bigram surprisal under the
    corpus's own Laplace-smoothed bigram LM (Wenzek et al. 2020).  All
    aggregation under the logs is integer counts; the one float reduction
    is rounded to 4 decimals.  The reference stores raw rows and has no
    quality scoring (core/spider.py:196-236)."""
    from spiders_for_all_spark.operators.cleaning import lm_perplexity

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return lm_perplexity(d)


@_register(
    "text_lm_perplexity_heldout",
    """
    WITH docs AS (SELECT CAST(doc_id AS VARCHAR) AS doc_id,
                         CAST(doc_id AS BIGINT) % 5 = 0 AS is_score,
                         {norm} AS norm
                  FROM documents),
    w AS (SELECT doc_id, is_score, string_split(norm, ' ') AS w FROM docs),
    bg AS (SELECT doc_id, is_score, u.w1 AS w1, u.w2 AS w2
           FROM (SELECT doc_id, is_score,
                        unnest([{'w1': w[i+1], 'w2': w[i+2]}
                                for i in range(greatest(len(w)-1, 0))]) AS u
                 FROM w)),
    tb AS (SELECT w1, w2 FROM bg WHERE NOT is_score),
    sb AS (SELECT doc_id, w1, w2 FROM bg WHERE is_score),
    c12 AS (SELECT w1, w2, count(*) AS c12 FROM tb GROUP BY w1, w2),
    c1 AS (SELECT w1, count(*) AS c1 FROM tb GROUP BY w1),
    vocab AS (SELECT count(DISTINCT w1) AS v FROM tb)
    SELECT sb.doc_id,
           CAST(count(*) AS BIGINT) AS n_bigrams,
           round(avg(-log2(CAST(coalesce(c12.c12, 0) + 1 AS DOUBLE)
                           / (coalesce(c1.c1, 0) + vocab.v))),
                 4) AS bits_per_token
    FROM sb
    LEFT JOIN c12 ON c12.w1 = sb.w1 AND c12.w2 = sb.w2
    LEFT JOIN c1 ON c1.w1 = sb.w1
    CROSS JOIN vocab
    GROUP BY sb.doc_id
    """.replace("{norm}", _NORM_SQL),
)
def text_lm_perplexity_heldout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Held-out LM scoring (the Wenzek 2020 deployment shape: train the LM
    on one corpus, score another): every 5th document is scored under a
    bigram LM trained on the OTHER 80% — training-unseen transitions pay
    the Laplace floor via LEFT join + coalesce(0), never a dropped row.
    Same single rounded-float reduction as the self-scored entry."""
    from spiders_for_all_spark.operators.cleaning import lm_perplexity

    d = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("doc_id"), "text"
    )
    is_score = F.col("doc_id").cast("bigint") % 5 == 0
    return lm_perplexity(
        d.filter(is_score), train_df=d.filter(~is_score)
    )


# Deterministic synthetic PII (the driver corpus contains none): contact
# fragments derived from doc_id, built with identical expressions on both
# sides so the scrub regexes are exercised on real matches.
_PII_AUG_SQL = """
    SELECT doc_id,
           text
           || CASE WHEN doc_id % 3 > 0
                THEN ' contact user' || doc_id || '@mail.example.com' ELSE '' END
           || CASE WHEN doc_id % 4 > 0
                THEN ' from 10.' || (doc_id % 200) || '.' || (doc_id % 250) || '.7'
                ELSE '' END
           || CASE WHEN doc_id % 5 > 0
                THEN ' tel 555-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
                     || '-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                ELSE '' END AS text
    FROM documents
"""


@_register(
    "clean_pii_scrub",
    f"""
    WITH aug AS ({_PII_AUG_SQL}),
    seq AS (
      SELECT doc_id, text,
             regexp_replace(text,
                 '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}',
                 '<EMAIL>', 'g') AS after_email
      FROM aug),
    seq2 AS (
      SELECT *, regexp_replace(after_email,
                 '\\b\\d{{1,3}}\\.\\d{{1,3}}\\.\\d{{1,3}}\\.\\d{{1,3}}\\b',
                 '<IP>', 'g') AS after_ip
      FROM seq)
    SELECT doc_id,
           CAST(len(regexp_extract_all(text,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}')) AS INT) AS n_emails,
           CAST(len(regexp_extract_all(after_email,
               '\\b\\d{{1,3}}\\.\\d{{1,3}}\\.\\d{{1,3}}\\.\\d{{1,3}}\\b')) AS INT) AS n_ips,
           CAST(len(regexp_extract_all(after_ip,
               '\\b\\d{{3}}-\\d{{3}}-\\d{{4}}\\b')) AS INT) AS n_phones,
           md5(regexp_replace(after_ip,
               '\\b\\d{{3}}-\\d{{3}}-\\d{{4}}\\b', '<PHONE>', 'g')) AS scrub_fp
    FROM seq2
    """,
)
def clean_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing with per-type redaction counts — pure Catalyst
    projection (zero shuffles); patterns are in the Java/RE2 common
    dialect so the oracle runs the identical regex text."""
    from spiders_for_all_spark.operators.cleaning import scrub_documents

    d = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    aug = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                did % 3 > 0,
                F.concat(
                    F.lit(" contact user"),
                    did.cast("string"),
                    F.lit("@mail.example.com"),
                ),
            ).otherwise(""),
            F.when(
                did % 4 > 0,
                F.concat(
                    F.lit(" from 10."),
                    (did % 200).cast("string"),
                    F.lit("."),
                    (did % 250).cast("string"),
                    F.lit(".7"),
                ),
            ).otherwise(""),
            F.when(
                did % 5 > 0,
                F.concat(
                    F.lit(" tel 555-"),
                    F.lpad((did % 1000).cast("string"), 3, "0"),
                    F.lit("-"),
                    F.lpad((did % 10000).cast("string"), 4, "0"),
                ),
            ).otherwise(""),
        ).alias("text"),
    )
    out = scrub_documents(aug)
    return out.select(
        "doc_id",
        "n_emails",
        "n_ips",
        "n_phones",
        F.md5("text_scrubbed").alias("scrub_fp"),
    )


def _repetition_sql() -> str:
    bg = (
        f"list_transform(range(1, greatest(len({_WORDS_SQL}), 1)), "
        f"i -> {_WORDS_SQL}[i] || ' ' || {_WORDS_SQL}[i+1])"
    )
    return f"""
    WITH base AS (
      SELECT doc_id, len({_WORDS_SQL}) AS n_words,
             round(1 - len(list_distinct({_WORDS_SQL}))
                   / CAST(greatest(len({_WORDS_SQL}), 1) AS DOUBLE), 6) AS dup_word_frac,
             {bg} AS bg
      FROM documents)
    SELECT doc_id, n_words, dup_word_frac,
           CASE WHEN len(bg) <= 0 THEN 0.0
                ELSE round(list_max(list_transform(list_distinct(bg),
                         d -> len(list_filter(bg, x -> x = d))))
                     / CAST(len(bg) AS DOUBLE), 6) END AS top_bigram_frac,
           (dup_word_frac <= 0.8
            AND CASE WHEN len(bg) <= 0 THEN 0.0
                ELSE round(list_max(list_transform(list_distinct(bg),
                         d -> len(list_filter(bg, x -> x = d))))
                     / CAST(len(bg) AS DOUBLE), 6) END <= 0.18) AS repetition_ok
    FROM base
    """


@_register("clean_repetition", _repetition_sql())
def clean_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals (duplicate-word fraction, top-bigram
    fraction) + keep flag — per-row expression arithmetic, no explode, no
    shuffle: per-corpus work stays O(rows), embarrassingly parallel."""
    from spiders_for_all_spark.operators.cleaning import repetition_signals

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return repetition_signals(d)


_BLOCKED_DOMAINS = ["src1.example.com", "example.net"]


@_register(
    "clean_blocklist_filter",
    f"""
    WITH frontier AS (
      SELECT CAST(doc_id AS VARCHAR) AS doc_id,
             lang || '.' || source || '.example.com' AS host,
             'https://' || lang || '.' || source || '.example.com/doc?id='
                 || doc_id AS url
      FROM documents),
    bl AS (SELECT * FROM (VALUES {", ".join(f"('{d}')" for d in _BLOCKED_DOMAINS)}) t(domain))
    SELECT doc_id, host, url FROM frontier f
    WHERE NOT EXISTS (
      SELECT 1 FROM bl
      WHERE f.host = bl.domain OR f.host LIKE '%.' || bl.domain)
    """,
)
def clean_blocklist_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UT1-style domain-suffix blocklist filter: blocking example.com
    blocks every subdomain.  Match runs over DISTINCT hosts (column-only
    partial-agg shuffle) and rejoins via broadcast — the corpus itself is
    never shuffled."""
    from spiders_for_all_spark.operators.cleaning import blocklist_filter

    d = _t(spark, sf_dir, "documents")
    frontier = d.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.concat(
            F.col("lang"), F.lit("."), F.col("source"), F.lit(".example.com")
        ).alias("host"),
        F.concat(
            F.lit("https://"),
            F.col("lang"),
            F.lit("."),
            F.col("source"),
            F.lit(".example.com/doc?id="),
            F.col("doc_id"),
        ).alias("url"),
    )
    bl = spark.createDataFrame(
        [(dom,) for dom in _BLOCKED_DOMAINS], ["domain"]
    )
    return blocklist_filter(frontier, bl).select("doc_id", "host", "url")


@_register(
    "clean_corpus_stats",
    f"""
    WITH toks AS (
      SELECT lang, len({_WORDS_SQL}) AS n_tok,
             CAST(length(bin(greatest(len({_WORDS_SQL}), 1))) - 1 AS INT)
                 AS len_bucket
      FROM documents)
    SELECT lang, len_bucket, count(*) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS total_tokens,
           CAST(min(n_tok) AS INT) AS min_tok, CAST(max(n_tok) AS INT) AS max_tok
    FROM toks GROUP BY lang, len_bucket
    """,
)
def clean_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus shape summary: power-of-two token-length histogram per
    language (the mixture planner's input).  Bucket = binary magnitude
    (length(bin(n))-1) — integer-exact on both engines, immune to
    floor(log2) float-ulp edges at exact powers of two."""
    from spiders_for_all_spark.operators.cleaning import corpus_stats

    d = _t(spark, sf_dir, "documents")
    out = corpus_stats(d, group_cols=("lang",))
    return out.select(
        "lang",
        "len_bucket",
        "n_docs",
        "total_tokens",
        F.col("min_tok").cast("int").alias("min_tok"),
        F.col("max_tok").cast("int").alias("max_tok"),
    )


# ===========================================================================
# Span-native operators (operators/documents.py) over a DERIVED interleaved
# span table: documents text chunked into 8-word text spans, with a media
# span inserted after chunk i whenever (doc_id + i) % 3 == 0 — identical
# construction on both sides, so the oracle checks the REAL nested-array
# rewrite (strip/renumber/manifest/stats) through a flat exploded compare.

_SPAN_N = 8

# exploded derived spans with their flattened 0-based offsets
_SPAN_ROWS_SQL = f"""
    SELECT doc_id, kind, text, media_ref,
           CAST(row_number() OVER (PARTITION BY doc_id
                                   ORDER BY pos, is_media) - 1 AS INT) AS "offset",
           pos
    FROM (
      SELECT doc_id, pos, 0 AS is_media, 'text' AS kind,
             passage AS text, CAST(NULL AS VARCHAR) AS media_ref
      FROM (
            SELECT doc_id, CAST(u.i AS INT) AS pos,
                   array_to_string(w[(u.i*{_SPAN_N}+1):(u.i*{_SPAN_N}+{_SPAN_N})], ' ') AS passage
            FROM (SELECT doc_id, {_WORDS_SQL} AS w FROM documents),
                 UNNEST(range(CAST(ceil(len(w)/{_SPAN_N}.0) AS BIGINT))) AS u(i))
      UNION ALL
      SELECT doc_id, pos, 1 AS is_media, 'media' AS kind,
             CAST(NULL AS VARCHAR) AS text,
             'm://' || doc_id || '/' || pos AS media_ref
      FROM (SELECT doc_id, CAST(u.i AS INT) AS pos
            FROM (SELECT doc_id, {_WORDS_SQL} AS w FROM documents),
                 UNNEST(range(CAST(ceil(len(w)/{_SPAN_N}.0) AS BIGINT))) AS u(i))
      WHERE (doc_id + pos) % 3 = 0)
"""


def _derived_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same construction as _SPAN_ROWS_SQL, but as the real nested
    (doc_id, spans array<struct<kind,text,media_ref,offset>>) table the
    span operators take as input."""
    from spiders_for_all_spark.operators.cleaning import passage_array

    d = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    nullstr = F.lit(None).cast("string")

    def _text_span(c):
        return F.struct(
            F.lit("text").alias("kind"),
            c.alias("text"),
            nullstr.alias("media_ref"),
        )

    def _media_span(i):
        return F.struct(
            F.lit("media").alias("kind"),
            nullstr.alias("text"),
            F.concat(
                F.lit("m://"), did.cast("string"), F.lit("/"), i.cast("string")
            ).alias("media_ref"),
        )

    chunks = passage_array(F.col("text"), _SPAN_N)
    nested = F.transform(
        chunks,
        lambda c, i: F.when(
            (did + i) % 3 == 0, F.array(_text_span(c), _media_span(i))
        ).otherwise(F.array(_text_span(c))),
    )
    spans = F.transform(
        F.flatten(nested),
        lambda s, i: F.struct(
            s.getField("kind").alias("kind"),
            s.getField("text").alias("text"),
            s.getField("media_ref").alias("media_ref"),
            i.cast("int").alias("offset"),
        ),
    )
    return d.select(did.alias("doc_id"), spans.alias("spans"))


@_register(
    "span_strip_media",
    f"""
    WITH spans AS ({_SPAN_ROWS_SQL})
    SELECT doc_id,
           CAST(row_number() OVER (PARTITION BY doc_id ORDER BY "offset") - 1
                AS INT) AS "offset",
           text
    FROM spans WHERE kind = 'text'
    """,
)
def span_strip_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text-only projection of the interleaved span table with dense
    re-offsetting — a per-row nested-array rewrite (no explode in the
    rewrite; the explode here is only to flatten for the oracle compare)."""
    from spiders_for_all_spark.operators.documents import strip_media

    stripped = strip_media(_derived_spans(spark, sf_dir))
    s = F.explode("spans").alias("s")
    return stripped.select("doc_id", s).select(
        "doc_id", F.col("s.offset").alias("offset"), F.col("s.text").alias("text")
    )


@_register(
    "span_media_manifest",
    f"""
    WITH spans AS ({_SPAN_ROWS_SQL})
    SELECT doc_id, "offset", kind, media_ref FROM spans WHERE kind <> 'text'
    """,
)
def span_media_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, offset, media_ref) worklist of every media span — the
    fetcher/auditor's input (reference downloads media per video row:
    core/downloader.py:469-510; here the manifest is one declarative
    projection of the span table)."""
    from spiders_for_all_spark.operators.documents import media_manifest

    return media_manifest(_derived_spans(spark, sf_dir))


@_register(
    "span_stats",
    f"""
    WITH spans AS ({_SPAN_ROWS_SQL}),
    bounds AS (
      SELECT doc_id,
             min(CASE WHEN kind = 'text' THEN "offset" END) AS first_t,
             max(CASE WHEN kind = 'text' THEN "offset" END) AS last_t
      FROM spans GROUP BY doc_id)
    SELECT s.doc_id,
           CAST(sum(CASE WHEN kind = 'text' THEN 1 ELSE 0 END) AS INT) AS n_text,
           CAST(sum(CASE WHEN kind = 'media' THEN 1 ELSE 0 END) AS INT) AS n_media,
           CAST(sum(CASE WHEN kind = 'text'
                    THEN length(coalesce(text, '')) ELSE 0 END) AS INT) AS text_chars,
           (b.first_t IS NOT NULL
            AND sum(CASE WHEN kind = 'media' AND "offset" > b.first_t
                          AND "offset" < b.last_t THEN 1 ELSE 0 END) > 0)
               AS interleaved
    FROM spans s JOIN bounds b USING (doc_id)
    GROUP BY s.doc_id, b.first_t, b.last_t
    """,
)
def span_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document span-shape metrics (counts per kind, text chars,
    text/media interleaving flag) — pure array arithmetic on the nested
    column, no explode, no shuffle."""
    from spiders_for_all_spark.operators.documents import span_stats as _stats

    out = _stats(_derived_spans(spark, sf_dir))
    return out.select(
        "doc_id",
        F.col("n_text").cast("int").alias("n_text"),
        F.col("n_media").cast("int").alias("n_media"),
        F.col("text_chars").cast("int").alias("text_chars"),
        "interleaved",
    )


# ===========================================================================
# Sequence packing (operators/packing.py): concatenate-and-chunk token
# packing as a distributed two-stage prefix sum.  The oracle computes the
# same global cumsum with one window — valid because the Spark side's
# bucket is a PREFIX of its order key, so per-bucket cumsum + bucket bases
# equals the single global ordering.

_PACK_LEN = 512

_PACK_CUM_SQL = f"""
    SELECT doc_id, n_tok,
           CAST(sum(n_tok) OVER (ORDER BY key, doc_id
                                 ROWS UNBOUNDED PRECEDING) - n_tok
                AS BIGINT) AS global_offset
    FROM (SELECT doc_id,
                 md5('s0' || CAST(doc_id AS VARCHAR)) AS key,
                 CAST(len({_WORDS_SQL}) AS BIGINT) AS n_tok
          FROM documents)
"""


@_register(
    "pack_sequences",
    f"""
    WITH cum AS ({_PACK_CUM_SQL})
    SELECT doc_id, n_tok, global_offset,
           global_offset // {_PACK_LEN} AS seq_first,
           (global_offset + greatest(n_tok, 1) - 1) // {_PACK_LEN} AS seq_last
    FROM cum
    """,
)
def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget sequence packing (GPT-style concatenate-and-chunk):
    each doc's global token offset and the training-sequence range it
    spans.  Global cumsum realized as 256-way bucketed prefix sums + a
    broadcast of bucket bases — no single-reducer global sort."""
    from spiders_for_all_spark.operators.packing import pack_sequences as _p

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return _p(d, seq_len=_PACK_LEN)


@_register(
    "pack_manifest",
    f"""
    WITH cum AS ({_PACK_CUM_SQL}),
    packed AS (
      SELECT doc_id, n_tok, global_offset,
             global_offset // {_PACK_LEN} AS seq_first,
             (global_offset + greatest(n_tok, 1) - 1) // {_PACK_LEN} AS seq_last
      FROM cum)
    SELECT CAST(u.s AS BIGINT) AS seq_id, doc_id,
           greatest(u.s * {_PACK_LEN} - global_offset, 0) AS doc_start,
           greatest(global_offset - u.s * {_PACK_LEN}, 0) AS seq_start,
           least(u.s * {_PACK_LEN} + {_PACK_LEN} - global_offset, n_tok)
             - greatest(u.s * {_PACK_LEN} - global_offset, 0) AS n_tok_in_seq
    FROM packed, UNNEST(range(seq_first, seq_last + 1)) AS u(s)
    """,
)
def pack_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(sequence, document) loader manifest: which token slice of
    which document fills which part of each fixed-length training
    sequence.  One explode of the packed table — rows = sequence
    crossings + docs, no additional shuffle."""
    from spiders_for_all_spark.operators.packing import (
        pack_manifest as _m,
        pack_sequences as _p,
    )

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return _m(_p(d, seq_len=_PACK_LEN), seq_len=_PACK_LEN)


# ===========================================================================
# Mixture resampling (operators/curation.py): materialize a target token
# mixture with an integer-space md5 accept/reject draw — deterministic on
# any engine / partition layout / retry.

_RESAMPLE_TARGET = {"en": 0.30, "de": 0.25, "es": 0.20, "fr": 0.15, "zh": 0.10}


def _mixture_resample_sql() -> str:
    case = " ".join(
        f"WHEN '{g}' THEN {p}" for g, p in sorted(_RESAMPLE_TARGET.items())
    )
    return f"""
    WITH tok AS (
      SELECT lang, CAST(sum(len({_WORDS_SQL})) AS BIGINT) AS tokens
      FROM documents GROUP BY lang),
    w AS (
      SELECT lang,
             CAST(floor(least(coalesce((CASE lang {case} ELSE 0.0 END)
                              / (tokens / (sum(tokens) OVER ())), 0.0), 1.0)
                        * 4294967296.0) AS BIGINT) AS thr
      FROM tok)
    SELECT d.doc_id, d.lang
    FROM documents d JOIN w ON d.lang = w.lang
    WHERE CAST(('0x' || substr(md5('s0:mix:' || CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT
               AS BIGINT) < w.thr
    """


@_register("curation_mixture_resample", _mixture_resample_sql())
def curation_mixture_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized target mixture: per-group accept probability
    min(target_share/actual_share, 1), drawn per doc as a 32-bit
    md5-derived integer against a precomputed integer threshold — exact
    cross-engine reproducibility (no float comparison at the boundary,
    no partition-layout dependence).  Corpus path: one token groupBy +
    broadcast thresholds + expression filter; never shuffled."""
    from spiders_for_all_spark.operators.curation import mixture_resample

    # doc_id stays BIGINT end-to-end: the oracle projects the raw int64
    # column, and the r05 driver red was exactly this str-vs-int skew
    # (the md5 draw casts the id to string internally, so the accept set
    # is unchanged).
    d = _t(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    return mixture_resample(d, _RESAMPLE_TARGET).select("doc_id", "lang")


# ===========================================================================
# Corpus export (operators/export.py): deterministic split / shard /
# training-order artifacts — the leg between a curated corpus and the
# trainer's data loader.  All draws are md5-derived integers (the
# mixture_resample convention), so split/shard/order are reproducible
# bit-for-bit across engines, partition layouts, and retries.

_SPLIT_WEIGHTS = [("train", 0.90), ("val", 0.05), ("test", 0.05)]
_EXPORT_SHARDS = 8
_DRAW_SQL = (
    "CAST(('0x' || substr(md5('s0:{tag}:' || CAST(doc_id AS VARCHAR)), 1, 8))"
    "::BIGINT AS BIGINT)"
)


def _split_case_sql() -> str:
    """CASE arm per split with the SAME float accumulation as
    operators/export.py:split_assign — thresholds must be the identical
    integers on both engines, so both are derived from one Python loop."""
    cum, arms = 0.0, []
    draw = _DRAW_SQL.format(tag="split")
    for name, frac in _SPLIT_WEIGHTS[:-1]:
        cum += frac
        arms.append(f"WHEN {draw} < {int(cum * 4294967296.0)} THEN '{name}'")
    return "CASE " + " ".join(arms) + f" ELSE '{_SPLIT_WEIGHTS[-1][0]}' END"


@_register(
    "export_split_counts",
    f"""
    SELECT {_split_case_sql()} AS split, lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(len({_WORDS_SQL})) AS BIGINT) AS n_tokens
    FROM documents
    GROUP BY 1, 2
    """,
)
def export_split_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment, summarized per (split,
    lang).  The assignment itself is expression-only (one CASE over a
    32-bit md5 draw against driver-computed integer thresholds — no
    shuffle, no join, no RNG state); the summary groupBy is
    partial-aggregated.  At 100 TB the split column is free."""
    from spiders_for_all_spark.operators.export import split_assign
    from spiders_for_all_spark.functions.text import token_count

    d = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("doc_id"), "text", "lang"
    )
    return (
        split_assign(d, _SPLIT_WEIGHTS)
        .groupBy("split", "lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(token_count(F.col("text"))).alias("n_tokens"),
        )
    )


@_register(
    "export_shard_manifest",
    f"""
    WITH s AS (
      SELECT CAST(doc_id AS VARCHAR) AS id,
             CAST({_DRAW_SQL.format(tag="shard")} % {_EXPORT_SHARDS} AS INT)
               AS shard,
             {_DRAW_SQL.format(tag="ord")} AS ord,
             len({_WORDS_SQL}) AS tok
      FROM documents)
    SELECT shard,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(tok) AS BIGINT) AS n_tokens,
           md5(string_agg(id, ',' ORDER BY ord, id)) AS order_fp
    FROM s GROUP BY shard
    """,
)
def export_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-shard integrity record of the training export: row/token
    counts + md5 fingerprint of the doc ids in training order (a second
    independent md5 draw — the baked-in intra-shard shuffle).  One
    groupBy(shard); the id list per group is bounded by the
    task-sized-shard invariant the writer itself requires."""
    from spiders_for_all_spark.operators.export import shard_manifest

    d = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("doc_id"), "text"
    )
    return shard_manifest(d, n_shards=_EXPORT_SHARDS)


@_register(
    "export_vocab_topk",
    f"""
    SELECT word, CAST(count(*) AS BIGINT) AS n
    FROM (SELECT unnest({_WORDS_SQL}) AS word FROM documents)
    WHERE word <> ''
    GROUP BY word
    ORDER BY n DESC, word
    LIMIT 50
    """,
)
def export_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus token frequency top-50 (vocabulary induction / drift
    monitoring).  explode -> partial-agg count (the shuffle carries
    (word, partial n), never the corpus) -> TakeOrderedAndProject;
    (n DESC, word) is a unique total order so the LIMIT keeps the same
    rows on every engine."""
    from spiders_for_all_spark.operators.export import vocab_topk

    d = _t(spark, sf_dir, "documents").select("text")
    return vocab_topk(d, k=50)


# ---------------------------------------------------------------------------
# S3 breadth: the declarative named-spider seed catalog as a queryable
# table (reference registers 27 fixed-endpoint classes by name AND alias,
# core/spider.py:122-131; endpoints spiders/bilibili/spiders.py:79-398).
# The oracle literal is rendered from the same declarative rows — the
# check pins that the catalog module ships exactly this table.

from spiders_for_all_spark.sources.seed_catalog import SPIDER_SEEDS  # noqa: E402

_SEED_VALUES_SQL = ",\n      ".join(
    f"('{s.name}', '{s.alias}', '{s.platform}', '{s.seed_url}', "
    f"{str(s.paginated).upper()}, {s.page_size})"
    for s in SPIDER_SEEDS
)


@_register(
    "s3_spider_seed_catalog",
    f"""
    SELECT * FROM (VALUES
      {_SEED_VALUES_SQL}
    ) AS t(name, alias, platform, seed_url, paginated, page_size)
    """,
)
def s3_spider_seed_catalog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Named-spider seed catalog (sources/seed_catalog.py), one row per
    reference spider class; `cli.py crawl --spider <name-or-alias>` seeds
    the round loop from these rows (golden visit-order test in
    tests/test_cli.py)."""
    return spark.createDataFrame(
        [
            (s.name, s.alias, s.platform, s.seed_url, s.paginated, s.page_size)
            for s in SPIDER_SEEDS
        ],
        "name string, alias string, platform string, seed_url string,"
        " paginated boolean, page_size int",
    )


# ---------------------------------------------------------------------------
# Round-5 widening: SemDeDup semantic dedup, DSIR importance scoring,
# integer largest-remainder crawl-budget apportionment.

# unit-norm copy (DuckDB twin of functions/vectors.py l2_normalize):
# pairwise cosine = ONE dot of pre-normalized vectors, same form both sides
_NORMV_SQL = (
    "list_transform({a}::DOUBLE[], x -> x / "
    "sqrt(list_dot_product({a}::DOUBLE[], {a}::DOUBLE[])))"
)


@_register(
    "dedup_semantic_semdedup",
    f"""
    WITH c AS (SELECT vec_id AS cid, embedding AS cvec
               FROM embeddings WHERE vec_id < 4),
    scored AS (SELECT e.vec_id, e.embedding, c.cid,
                      {_COS_SQL.format(a='e.embedding', b='c.cvec')} AS ccos
               FROM embeddings e, c),
    assign AS (SELECT vec_id, embedding, cid, ccos,
                      row_number() OVER (PARTITION BY vec_id
                                         ORDER BY ccos DESC, cid) AS rn
               FROM scored),
    a AS (SELECT vec_id, cid, ccos,
                 {_NORMV_SQL.format(a='embedding')} AS nv
          FROM assign WHERE rn = 1),
    dropped AS (SELECT DISTINCT hi.vec_id
                FROM a lo JOIN a hi
                  ON lo.cid = hi.cid AND lo.vec_id < hi.vec_id
                WHERE round(list_dot_product(lo.nv, hi.nv), 6) >= 0.4)
    SELECT a.vec_id, CAST(a.cid AS INT) AS cid, a.ccos AS centroid_cos,
           d.vec_id IS NULL AS kept
    FROM a LEFT JOIN dropped d ON a.vec_id = d.vec_id
    """,
)
def dedup_semantic_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup semantic dedup (similarity.py semantic_dedup): assign each
    embedding to its nearest of 4 fixed centroids (deterministic: the 4
    lowest-id vectors, like ann_ivf_topk), drop any vector with a
    lower-id cluster peer at cosine >= 0.4, and expose centroid_cos as
    the prototypicality-pruning signal.  kmeans_fit trains real
    centroids for the non-fixed path."""
    emb = _t(spark, sf_dir, "embeddings")
    cents = [
        [float(x) for x in r["embedding"]]
        for r in emb.filter(F.col("vec_id") < 4).orderBy("vec_id").collect()
    ]
    return SIM.semantic_dedup(emb, cents, threshold=0.4)


@_register(
    "curation_dsir_scores",
    """
    WITH docs AS (SELECT CAST(doc_id AS VARCHAR) AS doc_id,
                         CAST(doc_id AS BIGINT) % 7 = 0 AS is_target,
                         {norm} AS norm
                  FROM documents),
    w AS (SELECT doc_id, is_target, string_split(norm, ' ') AS w FROM docs),
    bg AS (SELECT doc_id, is_target, u.w1 AS w1, u.w2 AS w2
           FROM (SELECT doc_id, is_target,
                        unnest([{'w1': w[i+1], 'w2': w[i+2]}
                                for i in range(greatest(len(w)-1, 0))]) AS u
                 FROM w)),
    tb AS (SELECT w1, w2 FROM bg WHERE is_target),
    sb AS (SELECT doc_id, w1, w2 FROM bg WHERE NOT is_target),
    ct12 AS (SELECT w1, w2, count(*) AS t12 FROM tb GROUP BY w1, w2),
    ct1 AS (SELECT w1, count(*) AS t1 FROM tb GROUP BY w1),
    vt AS (SELECT count(DISTINCT w1) AS vt FROM tb),
    cr12 AS (SELECT w1, w2, count(*) AS r12 FROM sb GROUP BY w1, w2),
    cr1 AS (SELECT w1, count(*) AS r1 FROM sb GROUP BY w1),
    vr AS (SELECT count(DISTINCT w1) AS vr FROM sb)
    SELECT sb.doc_id,
           CAST(count(*) AS BIGINT) AS n_bigrams,
           round(avg(log2(CAST(coalesce(ct12.t12, 0) + 1 AS DOUBLE)
                          / (coalesce(ct1.t1, 0) + vt.vt))
                     - log2(CAST(cr12.r12 + 1 AS DOUBLE)
                            / (cr1.r1 + vr.vr))),
                 4) AS logratio_per_token
    FROM sb
    LEFT JOIN ct12 ON ct12.w1 = sb.w1 AND ct12.w2 = sb.w2
    LEFT JOIN ct1 ON ct1.w1 = sb.w1
    JOIN cr12 ON cr12.w1 = sb.w1 AND cr12.w2 = sb.w2
    JOIN cr1 ON cr1.w1 = sb.w1
    CROSS JOIN vt CROSS JOIN vr
    GROUP BY sb.doc_id
    """.replace("{norm}", _NORM_SQL),
)
def curation_dsir_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance scoring (curation.py dsir_scores): every doc with
    doc_id % 7 == 0 plays the target corpus; the rest are the raw pool,
    scored by mean bigram log2(p_target/p_raw) under two Laplace-smoothed
    bigram models.  Higher = more target-like; chain top-k / threshold /
    seeded-Gumbel selection downstream."""
    d = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("doc_id"), "text"
    )
    is_t = F.col("doc_id").cast("bigint") % 7 == 0
    return CU.dsir_scores(d.filter(~is_t), target=d.filter(is_t))


@_register(
    "crawl_budget_apportion",
    f"""
    WITH f AS ({_FRONTIER_SQL}),
    w AS (SELECT host, count(*) AS n_pending FROM f GROUP BY host),
    t AS (SELECT sum(n_pending) AS W FROM w),
    q AS (SELECT host, n_pending,
                 (n_pending * 1000) // W AS base,
                 (n_pending * 1000) % W AS rem
          FROM w, t),
    k AS (SELECT 1000 - sum(base) AS K FROM q),
    r AS (SELECT host, n_pending, base, rem,
                 row_number() OVER (ORDER BY rem DESC, host) AS rn
          FROM q)
    SELECT r.host, r.n_pending,
           CAST(r.base + CASE WHEN r.rn <= k.K THEN 1 ELSE 0 END
                AS BIGINT) AS budget
    FROM r, k
    """,
)
def crawl_budget_apportion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer largest-remainder apportionment of a 1000-slot fetch
    budget across the derived frontier's hosts
    (politeness.py apportion_budget) — the coordinator-side split whose
    output feeds schedule_round's host_budget.  Pure integer arithmetic
    both sides (div/mod, the A1 invariant); sum(budget) == 1000
    exactly."""
    from spiders_for_all_spark.operators.politeness import apportion_budget

    return apportion_budget(_frontier(spark, sf_dir), 1000)


@_register(
    "dedup_semantic_prototypes",
    f"""
    WITH c AS (SELECT vec_id AS cid, embedding AS cvec
               FROM embeddings WHERE vec_id < 4),
    scored AS (SELECT e.vec_id, e.embedding, c.cid,
                      {_COS_SQL.format(a='e.embedding', b='c.cvec')} AS ccos
               FROM embeddings e, c),
    assign AS (SELECT vec_id, cid, ccos,
                      row_number() OVER (PARTITION BY vec_id
                                         ORDER BY ccos DESC, cid) AS rn
               FROM scored),
    a AS (SELECT vec_id, cid, ccos FROM assign WHERE rn = 1),
    r AS (SELECT vec_id, cid, ccos,
                 row_number() OVER (PARTITION BY cid
                                    ORDER BY ccos DESC, vec_id)
                     AS proto_rank,
                 count(*) OVER (PARTITION BY cid) AS n
          FROM a)
    SELECT vec_id, CAST(cid AS INT) AS cid, ccos AS centroid_cos,
           CAST(proto_rank AS INT) AS proto_rank,
           proto_rank > (n * 250000) // 1000000 AS kept
    FROM r
    """,
)
def dedup_semantic_prototypes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SSL-prototypes pruning (similarity.py prototype_prune): drop the
    most prototypical 25% of each embedding cluster (4 fixed centroids,
    integer-ppm drop count, id tiebreak) — the keep-hard-examples
    companion to SemDeDup's drop-near-duplicates."""
    emb = _t(spark, sf_dir, "embeddings")
    cents = [
        [float(x) for x in r["embedding"]]
        for r in emb.filter(F.col("vec_id") < 4).orderBy("vec_id").collect()
    ]
    return SIM.prototype_prune(emb, cents, frac_ppm=250_000)


@_register(
    "dedup_semantic_incremental",
    f"""
    WITH c AS (SELECT vec_id AS cid, embedding AS cvec
               FROM embeddings WHERE vec_id < 4),
    scored AS (SELECT e.vec_id, e.embedding, c.cid,
                      {_COS_SQL.format(a='e.embedding', b='c.cvec')} AS ccos
               FROM embeddings e, c),
    assign AS (SELECT vec_id, embedding, cid, ccos,
                      row_number() OVER (PARTITION BY vec_id
                                         ORDER BY ccos DESC, cid) AS rn
               FROM scored),
    a AS (SELECT vec_id, cid, ccos,
                 {_NORMV_SQL.format(a='embedding')} AS nv
          FROM assign WHERE rn = 1),
    corpus AS (SELECT * FROM a WHERE vec_id % 5 <> 0),
    batch AS (SELECT * FROM a WHERE vec_id % 5 = 0),
    corpus_hit AS (SELECT DISTINCT b.vec_id
                   FROM batch b JOIN corpus o ON b.cid = o.cid
                   WHERE round(list_dot_product(b.nv, o.nv), 6) >= 0.4),
    batch_hit AS (SELECT DISTINCT hi.vec_id
                  FROM batch lo JOIN batch hi
                    ON lo.cid = hi.cid AND lo.vec_id < hi.vec_id
                  WHERE round(list_dot_product(lo.nv, hi.nv), 6) >= 0.4),
    dropped AS (SELECT vec_id FROM corpus_hit
                UNION SELECT vec_id FROM batch_hit)
    SELECT b.vec_id, CAST(b.cid AS INT) AS cid, b.ccos AS centroid_cos,
           d.vec_id IS NULL AS kept
    FROM batch b LEFT JOIN dropped d ON b.vec_id = d.vec_id
    """,
)
def dedup_semantic_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental SemDeDup probe (similarity.py
    semantic_dedup_incremental): vectors with vec_id % 5 == 0 arrive as
    the new batch against a committed, already-assigned corpus (the
    rest); the corpus is only scanned (broadcast cid semi-join), never
    re-scored.  The oracle simulates the same two-phase construction:
    corpus hits win regardless of id, batch-internal hits use the
    lower-id rule."""
    emb = _t(spark, sf_dir, "embeddings")
    cents = [
        [float(x) for x in r["embedding"]]
        for r in emb.filter(F.col("vec_id") < 4).orderBy("vec_id").collect()
    ]
    corpus = emb.filter(F.col("vec_id") % 5 != 0)
    batch = emb.filter(F.col("vec_id") % 5 == 0)
    # hash-repartition the corpus before its assignment map — the single
    # parquet file otherwise runs every interpreted cosine fold in ONE
    # task (per-row map; values unaffected)
    par = spark.sparkContext.defaultParallelism
    index = SIM.ivf_assign(corpus.repartition(par, F.col("vec_id")), cents)
    return SIM.semantic_dedup_incremental(index, batch, cents, threshold=0.4)


_GOPHER_STOP_HITS_SQL = " + ".join(
    f"(CASE WHEN list_contains(w, '{s}') THEN 1 ELSE 0 END)"
    for s in ("the", "be", "to", "of", "and", "that", "have", "with")
)


@_register(
    "clean_gopher_rules",
    f"""
    WITH base AS (
      SELECT CAST(doc_id AS VARCHAR) AS doc_id, text,
             {_WORDS_SQL} AS w,
             string_split(text, chr(10)) AS ls
      FROM documents),
    m AS (
      SELECT doc_id,
             CAST(len(w) AS INT) AS n_words,
             round(list_sum(list_transform(w, x -> length(x)))
                   / CAST(greatest(len(w), 1) AS DOUBLE), 4)
                 AS mean_word_len,
             round(((length(text) - length(replace(text, '#', '')))
                    + (length(text) - length(replace(text, '…', ''))))
                   / CAST(greatest(len(w), 1) AS DOUBLE), 4)
                 AS symbol_word_ratio,
             round(len(list_filter(ls, x ->
                       starts_with(ltrim(x), '•')
                       OR starts_with(ltrim(x), '-')
                       OR starts_with(ltrim(x), '*')))
                   / CAST(greatest(len(ls), 1) AS DOUBLE), 4)
                 AS bullet_line_frac,
             round(len(list_filter(ls, x ->
                       ends_with(rtrim(x), '...')
                       OR ends_with(rtrim(x), '…')))
                   / CAST(greatest(len(ls), 1) AS DOUBLE), 4)
                 AS ellipsis_line_frac,
             round(len(list_filter(w, x -> regexp_matches(x, '[a-z]')))
                   / CAST(greatest(len(w), 1) AS DOUBLE), 4)
                 AS alpha_word_frac,
             CAST({_GOPHER_STOP_HITS_SQL} AS INT) AS stop_hits
      FROM base)
    SELECT doc_id, n_words, mean_word_len, symbol_word_ratio,
           bullet_line_frac, ellipsis_line_frac, alpha_word_frac, stop_hits,
           (n_words BETWEEN 50 AND 100000
            AND mean_word_len BETWEEN 3 AND 10
            AND symbol_word_ratio <= 0.1
            AND bullet_line_frac <= 0.9
            AND ellipsis_line_frac <= 0.3
            AND alpha_word_frac >= 0.8
            AND stop_hits >= 2) AS gopher_keep
    FROM m
    """,
)
def clean_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/MassiveWeb document-quality rules (cleaning.py
    gopher_signals): seven per-doc metrics + the conjunctive keep flag at
    the paper's default thresholds, all expression-side (zero shuffle)."""
    from spiders_for_all_spark.operators.cleaning import gopher_signals

    d = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("doc_id"), "text"
    )
    return gopher_signals(d)


_WINNOW_FPS_SQL = """
    docs AS (SELECT CAST(doc_id AS VARCHAR) AS doc_id,
                    {norm} AS norm
             FROM documents),
    wds AS (SELECT doc_id, string_split(norm, ' ') AS w FROM docs),
    g AS (SELECT doc_id, u.pos AS rpos,
                 ('0x' || substring(md5(u.g), 1, 7))::BIGINT AS h
          FROM (SELECT doc_id,
                       unnest([{'pos': i,
                                'g': array_to_string(w[i+1:i+5], ' ')}
                               for i in range(greatest(len(w) - 4, 0))]) AS u
                FROM wds)),
    m AS (SELECT doc_id, rpos,
                 min(h * 4294967296 + rpos)
                     OVER (PARTITION BY doc_id ORDER BY rpos
                           ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS c
          FROM g),
    fps AS (SELECT DISTINCT doc_id,
                   CAST(c % 4294967296 AS BIGINT) AS pos,
                   CAST(c // 4294967296 AS BIGINT) AS fp
            FROM m WHERE rpos >= 3)
""".replace("{norm}", _NORM_SQL)


@_register(
    "text_winnow_fingerprints",
    f"""
    WITH {_WINNOW_FPS_SQL}
    SELECT doc_id, pos, fp FROM fps
    """,
)
def text_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprints (cleaning.py winnow_fingerprints, MOSS
    k=5 w=4): each document's locally-selected shingle-hash set — any
    8-word run shared by two documents shares a fingerprint.  The
    window min runs over a packed (hash, pos) bigint, so the whole
    selection is integer ops after one narrow shuffle."""
    from spiders_for_all_spark.operators.cleaning import winnow_fingerprints

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return winnow_fingerprints(d, k=5, w=4)


@_register(
    "dedup_winnow_pairs",
    f"""
    WITH {_WINNOW_FPS_SQL},
    b AS (SELECT DISTINCT doc_id, fp FROM fps),
    rep AS (SELECT fp, min(doc_id) AS a FROM b GROUP BY fp)
    SELECT DISTINCT rep.a, b.doc_id AS b
    FROM b JOIN rep USING (fp)
    WHERE b.doc_id <> rep.a
    """,
)
def dedup_winnow_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star-reduced candidate pairs from shared winnowing fingerprints
    (cleaning.py winnow_candidate_pairs): any two docs sharing an 8-word
    run edge to the fingerprint bucket's min-id representative — O(n)
    edges per bucket, CC-equal to all-pairs."""
    from spiders_for_all_spark.operators.cleaning import (
        winnow_candidate_pairs,
    )

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return winnow_candidate_pairs(d, k=5, w=4)


@_register(
    "export_token_budget_sample",
    f"""
    WITH cum AS ({_PACK_CUM_SQL})
    SELECT doc_id, n_tok, global_offset
    FROM cum WHERE global_offset < 10000
    """,
)
def export_token_budget_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded 10k-token budget freeze (packing.py token_budget_sample):
    documents in deterministic md5 stream order until the budget fills
    (straddling doc kept) — a filter on the two-stage distributed prefix
    sum pack_sequences shares, no global sort."""
    from spiders_for_all_spark.operators.packing import token_budget_sample

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return token_budget_sample(d, budget=10_000)


# ===========================================================================
# Driver-gate registration order.
#
# The driver's correctness gate verifies exactly the FIRST 50 registered
# keys (CORRECTNESS_r04 keys == registration positions 0-49), so insertion
# order here is load-bearing.  Definitions above stay grouped by operator
# family; this explicit list rotates every never-driver-verified round-4
# family (cleaning / substring / LM / packing / span / export /
# mixture_resample / ann_lsh_materialized) INSIDE the gate window and moves
# multiply-driver-verified scalar-function trivia (f1/f2/f5/f6/f8/f10, u2/u3,
# s6-s8, p1/p5/p6, windowing demos) past it.  Every key must appear in
# QUERIES; anything not listed keeps its original relative order after the
# gate block.

_GATE_FIRST = [
    # Crawl-native core (kept in-gate: the north_rule surface).
    "o1_priority_queue_rank",
    "o2_host_budget_topk",
    "j1_seen_antijoin",
    "k2_merge_upsert",
    "k2_merge_on_read",
    "crawl_recrawl_schedule",
    "crawl_pagerank_priority",
    "a1_round_metrics",
    "a1_partition_metrics",
    "a1_error_breakdown",
    "a5_politeness_pacing",
    "robots_txt_parse",
    "crawl_e2e_spans",
    "flagship_enriched_corpus",
    # Analytics spine.
    "tpch_q1",
    "tpch_q3ish",
    # Training-data families (kept: recently fixed / scale-critical).
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_minhash_incremental",
    "dedup_minhash_clusters",
    "dedup_ngram_jaccard",
    "dedup_simhash",
    "dedup_embedding_cosine",
    "curation_decontaminate",
    "ann_brute_force_topk",
    "ann_lsh_topk",
    "ann_ivf_topk",
    "text_quality",
    "text_langid",
    "multimodal_meta",
    # Round-4 families, never driver-verified before round 5 (VERDICT #2).
    "ann_lsh_topk_materialized",
    "clean_passage_dedup",
    "dedup_substring_spans",
    "clean_substring_scrub",
    "text_lm_perplexity",
    "clean_pii_scrub",
    "clean_repetition",
    "clean_blocklist_filter",
    "clean_corpus_stats",
    "span_strip_media",
    "span_media_manifest",
    "span_stats",
    "pack_sequences",
    "pack_manifest",
    "curation_mixture_resample",
    "export_split_counts",
    "export_shard_manifest",
    "export_vocab_topk",
    # Round-5 additions.
    "text_lm_perplexity_heldout",
]

_missing = [k for k in _GATE_FIRST if k not in QUERIES]
assert not _missing, f"gate order references unknown queries: {_missing}"
_rest = [k for k in QUERIES if k not in set(_GATE_FIRST)]
_ORDER = _GATE_FIRST + _rest
QUERIES = {k: QUERIES[k] for k in _ORDER}
ORACLES = {k: ORACLES[k] for k in _ORDER if k in ORACLES}
