"""Spark-only checks of two per-row legs of a crawl round: the successor
rows of the next frontier, and the ok / failed split of a parsed fetch."""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from spiders_for_all_spark.engine import ok_cond
from spiders_for_all_spark.functions.urls import with_url_columns
from spiders_for_all_spark.operators import frontier as FR
from spiders_for_all_spark.operators.parse import parse_body, parse_stage

MAX_DEPTH = 2

PARSED_OK = (
    "url string, priority int, depth int, kind string, items_count int,"
    " page_size int, has_more boolean, next_cursor string,"
    " out_links array<string>"
)


def _three_leg_successors(base, round_no, max_depth):
    """The successor spec as three separately filtered legs: full pages,
    has_more cursors and out-links below max_depth."""
    page_succ = base.filter(
        (F.col("kind") == "page")
        & (F.col("items_count") > 0)
        & (F.col("items_count") == F.col("page_size"))
    ).select(
        FR.next_page_url(F.col("url"), FR.url_page_no(F.col("url"))).alias("url"),
        F.col("priority"),
        F.lit(round_no).alias("discovery_round"),
        F.col("depth").alias("depth"),
        F.lit(0).alias("attempt"),
        F.lit(None).cast("string").alias("cursor"),
        (FR.url_page_no(F.col("url")) + 1).alias("page_no"),
        F.lit("page").alias("kind"),
        F.lit(None).cast("array<string>").alias("backup_urls"),
    )
    cursor_succ = base.filter(
        (F.col("kind") == "cursor")
        & F.col("has_more")
        & F.col("next_cursor").isNotNull()
        & (F.col("next_cursor") != "")
    ).select(
        FR.next_cursor_url(F.col("url"), F.col("next_cursor")).alias("url"),
        F.col("priority"),
        F.lit(round_no).alias("discovery_round"),
        F.col("depth").alias("depth"),
        F.lit(0).alias("attempt"),
        F.col("next_cursor").alias("cursor"),
        F.lit(None).cast("int").alias("page_no"),
        F.lit("cursor").alias("kind"),
        F.lit(None).cast("array<string>").alias("backup_urls"),
    )
    links = (
        base.filter(F.col("depth") < max_depth)
        .select("priority", "depth", F.explode("out_links").alias("url"))
        .select(
            F.col("url"),
            F.col("priority"),
            F.lit(round_no).alias("discovery_round"),
            (F.col("depth") + 1).alias("depth"),
            F.lit(0).alias("attempt"),
            F.lit(None).cast("string").alias("cursor"),
            F.lit(None).cast("int").alias("page_no"),
            FR.kind_of_url(F.col("url")).alias("kind"),
            F.lit(None).cast("array<string>").alias("backup_urls"),
        )
    )
    return FR.normalize_frontier(
        with_url_columns(page_succ.unionByName(cursor_succ).unionByName(links))
    )


def _parsed_ok(spark):
    h = "https://h.com"
    note, media = f"{h}/note/n1", f"{h}/media/m1.jpg"
    rows = [
        # full page with links, a short page, a full page at max_depth
        (f"{h}/api/list?chain=0&page=1&size=2", 3, 0, "page", 2, 2, False, None,
         [note, f"{h}/api/comments?chain=0&cursor=a"]),
        (f"{h}/api/list?chain=1&page=4&size=2", 0, 0, "page", 1, 2, False, None,
         [media]),
        (f"{h}/api/list?chain=2&page=2&size=2", 1, MAX_DEPTH, "page", 2, 2, False,
         None, [note]),
        # a full page without a page= parameter, an empty page
        (f"{h}/api/list?chain=3&size=1", 0, 1, "page", 1, 1, False, None, []),
        (f"{h}/api/list?chain=4&page=1&size=0", 0, 0, "page", 0, 0, False, None, []),
        # cursors: '' / null / '$2' next_cursor, and no has_more
        (f"{h}/api/comments?chain=0&cursor=a", 0, 0, "cursor", 2, None, True, "", []),
        (f"{h}/api/comments?chain=1&cursor=a", 0, 0, "cursor", 2, None, True, None, []),
        (f"{h}/api/comments?chain=2&cursor=a", 2, MAX_DEPTH - 1, "cursor", 2, None,
         True, "$2", [f"{h}/note/n7"]),
        (f"{h}/api/comments?chain=3&cursor=a", 0, MAX_DEPTH, "cursor", 2, None, True,
         "b", [note]),
        (f"{h}/api/comments?chain=4&cursor=a", 0, 0, "cursor", 2, None, False, "c", []),
        # html: null out_links, a null link, links at max_depth - 1 / max_depth
        (f"{h}/note/n2", 0, 0, "html", 0, None, False, None, None),
        (f"{h}/note/n3", 5, MAX_DEPTH - 1, "html", 0, None, False, None,
         [None, f"{h}/note/n9", media]),
        (f"{h}/note/n4", 0, MAX_DEPTH, "html", 0, None, False, None, [f"{h}/note/n8"]),
    ]
    return spark.createDataFrame(rows, PARSED_OK)


def _rows(df):
    return sorted((tuple(r) for r in df.collect()), key=repr)


def test_successors_equal_three_leg_spec(spark):
    base = _parsed_ok(spark)
    got = FR.successors(base, 7, MAX_DEPTH)
    assert got.columns == FR.FRONTIER_COLS
    want = _rows(_three_leg_successors(base, 7, MAX_DEPTH))
    assert _rows(got) == want
    kinds = sorted(r["kind"] for r in got.collect())
    assert kinds.count("page") == 3 and kinds.count("cursor") == 3
    assert any(r["url"] is None for r in got.collect()), "a null link is a row"


def test_successors_one_codegen_generate(spark):
    """One scan of the input and a Generate inside whole-stage codegen (a
    higher-order lambda in the generator would take it out)."""
    prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        plan = (
            FR.successors(_parsed_ok(spark), 1, MAX_DEPTH)
            ._jdf.queryExecution().executedPlan().toString()
        )
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)
    assert plan.count("Scan ExistingRDD") == 1, plan
    assert re.search(r"\*\(\d+\) Generate posexplode", plan), plan


def test_null_status_parses_as_spec_and_fails(spark):
    """A fetch with no HTTP status (connection error, timeout, media with
    every candidate failed) parses like ``parse_body`` and lands in the
    failed split, so the round retries or dead-letters it."""
    urls = {
        "html": "https://h.com/note/n1",
        "page": "https://h.com/api/list?chain=0&page=1&size=2",
        "cursor": "https://h.com/api/comments?chain=0&cursor=a",
        "media": "https://h.com/media/m1.jpg",
    }
    fetched = spark.createDataFrame(
        [(u, k, None, None, None, u) for k, u in urls.items()],
        "url string, kind string, status int, body string, media_ref string,"
        " canonical_url string",
    )
    parsed = parse_stage(fetched)
    fields = ["code", "success", "docs", "out_links", "has_more", "next_cursor",
              "items_count", "page_size", "parse_error", "page_title"]
    for r in parsed.collect():
        spec = parse_body(r["kind"], r["url"], None, None, media_ref=None)
        assert {f: r[f] for f in fields} == {f: spec[f] for f in fields}, r["kind"]
    split = parsed.select("kind", ok_cond().alias("ok"), (~ok_cond()).alias("failed"))
    assert sorted(tuple(r) for r in split.collect()) == sorted(
        (k, False, True) for k in urls
    )
