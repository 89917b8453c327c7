"""Frontier construction + successor generation (S1/S2 loop semantics).

The reference keeps loop state on mutable spider objects —
``self.page_number += 1`` (core/spider.py:321), cursor memory
(spiders/xhs/spiders.py:305-306).  Here a *successor frontier row* carries
that state: a full page emits the page+1 URL, a ``has_more`` cursor response
emits the next-cursor URL, and parsed out-links enter as discovery rows.
Everything is a Catalyst expression over the parsed-fetch DataFrame; the
pure-python twins (``*_py``) drive the golden simulator.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from spiders_for_all_spark.functions.urls import with_url_columns

# URL-path -> parse-path convention for discovered links (the reference
# hard-wires this per spider class; we key it off the URL shape).
KIND_RULES: list[tuple[str, str]] = [
    ("/api/list", "page"),
    ("/api/comments", "cursor"),
    ("/note/", "html"),
    ("/media/", "media"),
]


def kind_of_url(url: Column) -> Column:
    expr = None
    for pat, kind in KIND_RULES:
        cond = url.contains(pat)
        expr = F.when(cond, kind) if expr is None else expr.when(cond, kind)
    return expr.otherwise("html")


def kind_of_url_py(url: str) -> str:
    for pat, kind in KIND_RULES:
        if pat in url:
            return kind
    return "html"


_PAGE_RE = r"([?&]page=)\d+"
_CURSOR_RE = r"([?&]cursor=)[^&#]*"


def next_page_url(url: Column, page_no: Column) -> Column:
    return F.regexp_replace(
        url, F.lit(_PAGE_RE), F.concat(F.lit("$1"), (page_no + 1).cast("string"))
    )


def next_page_url_py(url: str) -> str:
    return re.sub(
        _PAGE_RE, lambda m: m.group(1) + str(int(url_page_no_py(url)) + 1), url
    )


def url_page_no(url: Column) -> Column:
    # '' -> 0 like the py twin below: a URL without page= must not be an
    # ANSI cast error (single-shot endpoints are page-kind without params)
    return F.coalesce(
        F.nullif(F.regexp_extract(url, r"[?&]page=(\d+)", 1), F.lit("")),
        F.lit("0"),
    ).cast("int")


def url_page_no_py(url: str) -> int:
    m = re.search(r"[?&]page=(\d+)", url)
    return int(m.group(1)) if m else 0


def _quote_replacement(c: Column) -> Column:
    """Escape '\\' and '$' so a column value is a LITERAL Java-regex
    replacement (java.util.regex.Matcher.quoteReplacement semantics) — a
    cursor like '$2' must not be read as a group reference."""
    return F.regexp_replace(c, r"([\\$])", r"\\$1")


def next_cursor_url(url: Column, next_cursor: Column) -> Column:
    return F.regexp_replace(
        url, F.lit(_CURSOR_RE), F.concat(F.lit("$1"), _quote_replacement(next_cursor))
    )


def next_cursor_url_py(url: str, next_cursor: str) -> str:
    return re.sub(_CURSOR_RE, lambda m: m.group(1) + next_cursor, url)


def seeds_to_frontier(spark, seeds: list[dict]) -> DataFrame:
    """Seed list -> frontier rows (S3/S8 sources feed this)."""
    rows = [
        (
            s["url"],
            int(s.get("priority", 0)),
            0,  # discovery_round
            0,  # depth
            0,  # attempt
            s.get("cursor"),
            s.get("page_no"),
            s.get("kind") or kind_of_url_py(s["url"]),
            s.get("backup_urls"),
        )
        for s in seeds
    ]
    df = spark.createDataFrame(
        rows,
        "url string, priority int, discovery_round int, depth int, attempt int,"
        " cursor string, page_no int, kind string, backup_urls array<string>",
    )
    return normalize_frontier(with_url_columns(df))


FRONTIER_COLS = [
    "url",
    "canonical_url",
    "url_hash",
    "host",
    "priority",
    "discovery_round",
    "depth",
    "attempt",
    "cursor",
    "page_no",
    "kind",
    "backup_urls",
]


def normalize_frontier(df: DataFrame) -> DataFrame:
    return df.select(*FRONTIER_COLS)


def successors(parsed_ok: DataFrame, round_no: int, max_depth: int) -> DataFrame:
    """All next-round frontier rows implied by this round's successful fetches.

    One pass over ``parsed_ok``: each row posexplodes the string array
    ``[page-next, cursor-next, *out_links]`` and an element's position says
    which successor it is.  Slot 0 is the next page of a full page and slot
    1 the next cursor of a ``has_more`` response; both keep the parent's
    depth, and an empty one is null and dropped.  Slots 2.. are the
    out-links of rows below ``max_depth`` (depth + 1); a null link still
    gives a row, as ``explode`` does.  The array is plain Columns, no
    lambda, so the Generate stays in its whole-stage codegen stage.
    """
    kind, url, depth = F.col("kind"), F.col("url"), F.col("depth")
    full_page = (
        (kind == "page")
        & (F.col("items_count") > 0)
        & (F.col("items_count") == F.col("page_size"))
    )
    more = (
        (kind == "cursor")
        & F.col("has_more")
        & F.col("next_cursor").isNotNull()
        & (F.col("next_cursor") != "")
    )
    # the parent's page number is extracted once, below the Generate, and
    # read by both the next-page URL and the successor's page_no
    page_no = F.col("_page_no")
    slots = F.concat(
        F.array(
            F.when(full_page, next_page_url(url, page_no)),
            F.when(more, next_cursor_url(url, F.col("next_cursor"))),
        ),
        F.coalesce(
            F.when(depth < max_depth, F.col("out_links")),
            F.array().cast("array<string>"),
        ),
    )
    pos, succ_url = F.col("pos"), F.col("url")
    succ = (
        parsed_ok.withColumn("_page_no", F.when(full_page, url_page_no(url)))
        .select(
            "priority", "depth", "next_cursor", "_page_no",
            F.posexplode(slots).alias("pos", "url"),
        )
        .filter((pos > 1) | succ_url.isNotNull())
        .select(
            succ_url,
            F.col("priority"),
            F.lit(round_no).alias("discovery_round"),
            F.when(pos > 1, depth + 1).otherwise(depth).alias("depth"),
            F.lit(0).alias("attempt"),
            F.when(pos == 1, F.col("next_cursor")).alias("cursor"),
            F.when(pos == 0, page_no + 1).alias("page_no"),
            F.when(pos == 0, "page")
            .when(pos == 1, "cursor")
            .otherwise(kind_of_url(succ_url))
            .alias("kind"),
            F.lit(None).cast("array<string>").alias("backup_urls"),
        )
    )
    return normalize_frontier(with_url_columns(succ))


def dedup_frontier(frontier: DataFrame) -> DataFrame:
    """One row per url_hash, keeping min (priority, discovery_round, attempt).

    Uses min_by-over-struct group-agg rather than a Window: a single partial
    (map-side) aggregation instead of a full sort per host partition — the
    cheaper plan at 10^10 frontier rows.
    """
    strukt = F.struct(
        "priority",
        "discovery_round",
        "attempt",
        "canonical_url",
        "url",
        "host",
        "depth",
        "cursor",
        "page_no",
        "kind",
        "backup_urls",
    )
    agg = frontier.groupBy("url_hash").agg(F.min(strukt).alias("r"))
    return normalize_frontier(agg.select("url_hash", "r.*"))
