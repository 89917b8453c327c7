"""Parse stage: response body -> envelope fields + documents + out-links.

The pure-python :func:`parse_body` implements the reference's extraction
semantics —

  * JSON envelope validation: bilibili ``{code,data,message}`` with
    ``code != 0`` as failure (reference: spiders/bilibili/models.py:12-21),
    xhs ``{code,data,message,success}`` (spiders/xhs/models.py:11-19);
    HTTP + business-code + parse failures all classified under one umbrella,
    mirroring the single retry envelope at core/spider.py:169-189.
  * item extraction / projection (P2): ``data.list`` / ``data.comments``
    (spiders/bilibili/spiders.py:60-64, spiders/xhs/spiders.py:248-251).
  * embedded-JSON HTML extraction (S4): ``window.__INITIAL_STATE__`` regex +
    ``undefined -> null`` patch (spiders/xhs/patterns.py:3,
    utils/helper.py:46-49).
  * span-sequence assembly: text first, then images in list order, then
    videos/audios (spiders/xhs/downloader.py:41-72,110-112;
    spiders/bilibili/downloader.py:195-226); ``offset`` = list position.

The Spark stage :func:`parse_stage` implements the same semantics as pure
Catalyst expressions (from_json, regexp_extract, array transforms) — no
Python in the parse path.  The golden-test simulator calls
:func:`parse_body` directly, so span-sequence equality between the
distributed engine and the sequential reference semantics is checked
end-to-end through the shuffle plumbing.
"""

from __future__ import annotations

import json
import re
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from spiders_for_all_spark import schemas as S
from spiders_for_all_spark.functions.partitioning import fence

PAGE_PARAM_RE = re.compile(r"[?&]page=(\d+)")
SIZE_PARAM_RE = re.compile(r"[?&]size=(\d+)")
CURSOR_PARAM_RE = re.compile(r"[?&]cursor=([^&#]*)")
# window.__INITIAL_STATE__ extraction (reference: spiders/xhs/patterns.py:3,
# spiders/bilibili/patterns.py:3-4)
INITIAL_STATE_RE = re.compile(
    r"window\.__INITIAL_STATE__\s*=\s*(\{.*?\})\s*;?\s*</script>", re.S
)
TITLE_RE = re.compile(r"<title>(.*?)</title>", re.S)
UNDEFINED_RE = re.compile(r"\bundefined\b")

# S6 — media span kind from the file extension (reference MediaType routing:
# core/media.py:7-11; downloader picks by suffix at core/downloader.py:48-49)
MEDIA_EXT = {
    "jpg": "image", "jpeg": "image", "png": "image", "gif": "image",
    "webp": "image",
    "mp4": "video", "mov": "video", "m4v": "video", "flv": "video",
    "mp3": "audio", "m4a": "audio", "aac": "audio", "wav": "audio",
}
_EXT_RE = re.compile(r"\.([a-zA-Z0-9]+)(?:[?#]|$)")


def media_kind_of_py(url: str) -> str:
    m = _EXT_RE.search(url or "")
    return MEDIA_EXT.get(m.group(1).lower() if m else "", "image")


def _span(kind: str, text: str | None, media_ref: str | None, offset: int) -> dict:
    return {"kind": kind, "text": text, "media_ref": media_ref, "offset": offset}


def _doc(doc_id: str, raw_spans: list[tuple[str, str | None, str | None]]) -> dict:
    return {
        "doc_id": doc_id,
        "spans": [_span(k, t, m, i) for i, (k, t, m) in enumerate(raw_spans)],
    }


def item_to_doc(item: dict) -> dict:
    """Paginated-API item -> document (text desc, then images, videos, audios)."""
    spans: list[tuple[str, str | None, str | None]] = [
        ("text", item.get("desc") or item.get("title") or "", None)
    ]
    for u in item.get("images") or []:
        spans.append(("image", None, u))
    for u in item.get("videos") or []:
        spans.append(("video", None, u))
    for u in item.get("audios") or []:
        spans.append(("audio", None, u))
    return _doc(str(item["id"]), spans)


def comment_to_doc(comment: dict) -> dict:
    """Cursor-feed comment -> document (text content, then pictures).

    Mirrors xhs comment shape: content + optional picture list
    (reference: spiders/xhs/spiders.py:310-330, models.py:51-65).
    """
    spans: list[tuple[str, str | None, str | None]] = [
        ("text", comment.get("content") or "", None)
    ]
    for u in comment.get("pictures") or []:
        spans.append(("image", None, u))
    return _doc(str(comment["id"]), spans)


def note_to_doc(note: dict) -> dict:
    """HTML-embedded note -> document (title+desc text, imageList, video)."""
    title = note.get("title") or ""
    desc = note.get("desc") or ""
    text = f"{title}\n{desc}" if title and desc else (title or desc)
    spans: list[tuple[str, str | None, str | None]] = [("text", text, None)]
    for img in note.get("imageList") or []:
        spans.append(("image", None, img.get("url")))
    video = note.get("video")
    if video:
        spans.append(("video", None, video.get("masterUrl")))
    return _doc(str(note["id"]), spans)


def parse_body(
    kind: str,
    url: str,
    status: int | None,
    body: str | None,
    media_ref: str | None = None,
) -> dict[str, Any]:
    """Pure extraction: one fetched row -> envelope + docs + out_links.

    ``media_ref`` (S6): the candidate URL that actually served the media
    bytes after [url] + backup_urls failover; a successful media fetch
    emits one single-span document keyed by the canonical frontier URL.
    """
    out: dict[str, Any] = {
        "code": None,
        "success": None,
        "docs": [],
        "out_links": [],
        "has_more": False,
        "next_cursor": None,
        "items_count": 0,
        "page_size": None,
        "parse_error": None,
        "page_title": None,
    }
    if status != 200:
        return out
    if kind == "html" and body:
        m = TITLE_RE.search(body)
        out["page_title"] = (m.group(1) or None) if m else None
    out["code"], out["success"] = 0, True
    if kind == "media":
        if media_ref:
            from spiders_for_all_spark.functions.urls import canonicalize_url_py

            out["docs"] = [
                _doc(
                    canonicalize_url_py(url),
                    [(media_kind_of_py(media_ref), None, media_ref)],
                )
            ]
        return out
    try:
        if kind in ("page", "cursor"):
            env = json.loads(body or "")
            out["code"] = int(env.get("code", 0))
            out["success"] = bool(env.get("success", True))
            if out["code"] != 0 or not out["success"]:
                return out
            data = env.get("data") or {}
            if kind == "page":
                items = data.get("list") or []
                out["items_count"] = len(items)
                m = SIZE_PARAM_RE.search(url)
                out["page_size"] = int(m.group(1)) if m else None
                out["docs"] = [item_to_doc(it) for it in items]
                out["out_links"] = list(data.get("out_links") or [])
            else:
                comments = data.get("comments") or []
                out["items_count"] = len(comments)
                out["docs"] = [comment_to_doc(c) for c in comments]
                out["has_more"] = bool(data.get("has_more"))
                out["next_cursor"] = data.get("cursor")
        elif kind == "html":
            m = INITIAL_STATE_RE.search(body or "")
            if not m:
                raise ValueError("no __INITIAL_STATE__ blob")
            state = json.loads(UNDEFINED_RE.sub("null", m.group(1)))
            note = state.get("note") or {}
            out["docs"] = [note_to_doc(note)]
            out["out_links"] = [
                img["url"] for img in (note.get("imageList") or []) if img.get("url")
            ]
    except Exception as exc:  # classified, not raised: dead-letter semantics
        out["parse_error"] = f"{type(exc).__name__}: {exc}"
        out["docs"], out["out_links"] = [], []
    return out


# ---------------------------------------------------------------------------
# Spark side

DOC_FIELD = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("spans", T.ArrayType(S.SPAN), False),
    ]
)


# ---------------------------------------------------------------------------
# Catalyst-native parse: ZERO python in the parse path.
#
# from_json + regexp_extract + array transform expressions implement exactly
# the semantics of parse_body above (which remains the executable spec the
# golden simulator runs).  Envelope/item shapes follow the reference wire
# formats (SURVEY §1.2); whole-stage codegen keeps this inside the JVM, so
# the only Python in a crawl round is the fetch UDF itself.

from pyspark.sql import Column, functions as F  # noqa: E402

ITEM_SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType()),
        T.StructField("title", T.StringType()),
        T.StructField("desc", T.StringType()),
        T.StructField("images", T.ArrayType(T.StringType())),
        T.StructField("videos", T.ArrayType(T.StringType())),
        T.StructField("audios", T.ArrayType(T.StringType())),
    ]
)

COMMENT_SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType()),
        T.StructField("content", T.StringType()),
        T.StructField("pictures", T.ArrayType(T.StringType())),
    ]
)

ENVELOPE_SCHEMA = T.StructType(
    [
        T.StructField("code", T.IntegerType()),
        T.StructField("message", T.StringType()),
        T.StructField("success", T.BooleanType()),
        T.StructField(
            "data",
            T.StructType(
                [
                    T.StructField("list", T.ArrayType(ITEM_SCHEMA)),
                    T.StructField("comments", T.ArrayType(COMMENT_SCHEMA)),
                    T.StructField("cursor", T.StringType()),
                    T.StructField("has_more", T.BooleanType()),
                    T.StructField("out_links", T.ArrayType(T.StringType())),
                ]
            ),
        ),
        # populated iff the body was not valid JSON (PERMISSIVE mode cannot
        # otherwise distinguish '{}' from garbage — both give all-null rows)
        T.StructField("_corrupt", T.StringType()),
    ]
)

NOTE_SCHEMA = T.StructType(
    [
        T.StructField(
            "note",
            T.StructType(
                [
                    T.StructField("id", T.StringType()),
                    T.StructField("title", T.StringType()),
                    T.StructField("desc", T.StringType()),
                    T.StructField(
                        "imageList",
                        T.ArrayType(T.StructType([T.StructField("url", T.StringType())])),
                    ),
                    T.StructField(
                        "video",
                        T.StructType([T.StructField("masterUrl", T.StringType())]),
                    ),
                ]
            ),
        ),
        T.StructField("_corrupt", T.StringType()),
    ]
)

_EMPTY_SPANS = "array()"


def _reoffset(spans: Column) -> Column:
    """Rewrite offsets to the span's position (0-based) after concat."""
    return F.transform(
        spans,
        lambda s, i: F.struct(
            s["kind"].alias("kind"),
            s["text"].alias("text"),
            s["media_ref"].alias("media_ref"),
            i.cast("int").alias("offset"),
        ),
    )


def _media_spans(urls: Column, kind: str) -> Column:
    return F.transform(
        F.coalesce(urls, F.array().cast("array<string>")),
        lambda u: F.struct(
            F.lit(kind).alias("kind"),
            F.lit(None).cast("string").alias("text"),
            u.alias("media_ref"),
            F.lit(0).alias("offset"),
        ),
    )


def _text_span(text: Column) -> Column:
    return F.array(
        F.struct(
            F.lit("text").alias("kind"),
            text.alias("text"),
            F.lit(None).cast("string").alias("media_ref"),
            F.lit(0).alias("offset"),
        )
    )


def _nonempty(c: Column) -> Column:
    return F.nullif(c, F.lit(""))


def _item_doc(item: Column) -> Column:
    """item_to_doc as an expression: text(desc|title|''), images, videos, audios."""
    text = F.coalesce(_nonempty(item["desc"]), _nonempty(item["title"]), F.lit(""))
    spans = F.concat(
        _text_span(text),
        _media_spans(item["images"], "image"),
        _media_spans(item["videos"], "video"),
        _media_spans(item["audios"], "audio"),
    )
    return F.struct(item["id"].alias("doc_id"), _reoffset(spans).alias("spans"))


def _comment_doc(c: Column) -> Column:
    spans = F.concat(
        _text_span(F.coalesce(c["content"], F.lit(""))),
        _media_spans(c["pictures"], "image"),
    )
    return F.struct(c["id"].alias("doc_id"), _reoffset(spans).alias("spans"))


def _note_doc(note: Column) -> Column:
    title = F.coalesce(note["title"], F.lit(""))
    desc = F.coalesce(note["desc"], F.lit(""))
    text = F.when((title != "") & (desc != ""), F.concat(title, F.lit("\n"), desc)).otherwise(
        F.coalesce(_nonempty(title), desc)
    )
    imgs = F.filter(
        F.transform(
            F.coalesce(note["imageList"], F.array().cast("array<struct<url:string>>")),
            lambda i: i.url,
        ),
        lambda u: u.isNotNull(),
    )
    video_span = F.when(
        note["video"].isNotNull(),
        F.array(
            F.struct(
                F.lit("video").alias("kind"),
                F.lit(None).cast("string").alias("text"),
                note["video"]["masterUrl"].alias("media_ref"),
                F.lit(0).alias("offset"),
            )
        ),
    ).otherwise(F.array().cast(T.ArrayType(S.SPAN)))
    spans = F.concat(_text_span(text), _media_spans(imgs, "image"), video_span)
    return F.struct(note["id"].alias("doc_id"), _reoffset(spans).alias("spans"))


def _session_expr_cache() -> dict:
    """Per-SparkSession cache for parse_stage's Column trees.

    Building the ~200-node expression tree costs ~0.5-1 s of serial py4j
    driver time PER ROUND — a width-independent cost that caps N->4N
    scaling (the narrow-vs-wide round differs only in executor time).
    Columns are immutable unresolved expressions, so the same objects are
    safely reused across rounds/DataFrames; keying the cache on the
    session object makes the JVM references die with their session."""
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    if spark is None:
        return {}
    return spark.__dict__.setdefault("_sfas_parse_expr_cache", {})


def _build_parse_exprs(
    has_media_cols: bool,
) -> tuple[dict[str, Column], list[Column]]:
    """The full parse expression tree: (withColumns projection, output
    columns).  Depends only on whether the input carries media columns."""
    kind = F.col("kind")
    # two-valued: a fetch without a status (connection error, timeout, media
    # with every candidate failed) is not OK, like parse_body's status != 200
    is_http_ok = F.col("status").eqNullSafe(200)

    # Materialize the expensive extractions ONCE in a separate projection:
    # from_json would otherwise be re-evaluated in every downstream column
    # (CollapseProject keeps this split because the aliases are non-cheap
    # and multiply-referenced).
    is_env_kind0 = kind.isin("page", "cursor")
    env0 = F.when(
        is_env_kind0 & is_http_ok,
        F.from_json(
            F.col("body"), ENVELOPE_SCHEMA, {"columnNameOfCorruptRecord": "_corrupt"}
        ),
    )
    # (?s) = DOTALL: the python spec compiles these with re.S, so the Java
    # regexes must also match across newlines (multiline state blobs/titles)
    state_raw0 = F.when(
        (kind == "html") & is_http_ok,
        F.regexp_extract(
            F.col("body"),
            r"(?s)window\.__INITIAL_STATE__\s*=\s*(\{.+?\})\s*;?\s*</script>",
            1,
        ),
    ).otherwise(F.lit(""))
    state0 = F.when(
        (kind == "html") & is_http_ok,
        F.from_json(
            F.regexp_replace(state_raw0, r"\bundefined\b", "null"),
            NOTE_SCHEMA,
            {"columnNameOfCorruptRecord": "_corrupt"},
        ),
    )
    with_cols = {"_env": env0, "_state_raw": state_raw0, "_state": state0}
    env, state_raw, state = F.col("_env"), F.col("_state_raw"), F.col("_state")

    is_env_kind = kind.isin("page", "cursor")
    env_ok = env.isNotNull() & (
        F.coalesce(env.getField("code"), F.lit(0)) == 0
    ) & F.coalesce(env.getField("success"), F.lit(True))

    code = F.when(~is_http_ok, F.lit(None).cast("int")).otherwise(
        F.when(is_env_kind, F.coalesce(env.getField("code"), F.lit(0))).otherwise(F.lit(0))
    )
    success = F.when(~is_http_ok, F.lit(None).cast("boolean")).otherwise(
        F.when(is_env_kind, F.coalesce(env.getField("success"), F.lit(True))).otherwise(
            F.lit(True)
        )
    )

    data = env.getField("data")
    items = F.coalesce(data.getField("list"), F.array().cast(T.ArrayType(ITEM_SCHEMA)))
    comments = F.coalesce(
        data.getField("comments"), F.array().cast(T.ArrayType(COMMENT_SCHEMA))
    )

    note = state.getField("note")
    env_corrupt = env.isNull() | env.getField("_corrupt").isNotNull()
    state_corrupt = (
        (state_raw == "")
        | state.isNull()
        | state.getField("_corrupt").isNotNull()
        | note.isNull()
    )
    parse_failed = is_http_ok & (
        (is_env_kind & env_corrupt) | ((kind == "html") & state_corrupt)
    )
    parse_error = F.when(parse_failed, F.lit("ParseError: malformed body")).otherwise(
        F.lit(None).cast("string")
    )

    good = is_http_ok & ~parse_failed

    # S6 media doc: one single-span doc keyed by the canonical frontier URL,
    # media_ref = the failover winner (Catalyst twin of parse_body's branch)
    media_ref_col = (
        F.col("media_ref") if has_media_cols else F.lit(None).cast("string")
    )
    ext = F.lower(F.regexp_extract(media_ref_col, r"\.([a-zA-Z0-9]+)(?:[?#]|$)", 1))
    media_kind = (
        F.when(ext.isin("jpg", "jpeg", "png", "gif", "webp"), "image")
        .when(ext.isin("mp4", "mov", "m4v", "flv"), "video")
        .when(ext.isin("mp3", "m4a", "aac", "wav"), "audio")
        .otherwise("image")
    )
    media_doc = F.struct(
        (F.col("canonical_url") if has_media_cols else F.lit(None).cast("string")).alias(
            "doc_id"
        ),
        F.array(
            F.struct(
                media_kind.alias("kind"),
                F.lit(None).cast("string").alias("text"),
                media_ref_col.alias("media_ref"),
                F.lit(0).alias("offset"),
            )
        ).alias("spans"),
    )

    docs = F.when(
        good & (kind == "page") & env_ok, F.transform(items, _item_doc)
    ).when(
        good & (kind == "cursor") & env_ok, F.transform(comments, _comment_doc)
    ).when(
        good & (kind == "html"), F.array(_note_doc(note))
    ).when(
        good & (kind == "media") & media_ref_col.isNotNull(), F.array(media_doc)
    ).otherwise(F.array().cast(T.ArrayType(DOC_FIELD)))
    # Determinism fence: any downstream explode(docs) gets an optimizer-
    # inferred `Filter size(docs)>0 AND isnotnull(docs)` under its
    # Generate, and pushdown would inline a SECOND full from_json + span
    # construction into it (~1s per 1M rows; see
    # plans/r06/crawl_round_docs_leg_plan.txt).  A null docs (transform
    # over a missing item list) becomes an empty array: no docs.
    docs = F.coalesce(fence(docs), F.array().cast(T.ArrayType(DOC_FIELD)))

    out_links = F.when(
        good & (kind == "page") & env_ok,
        F.coalesce(data.getField("out_links"), F.array().cast("array<string>")),
    ).when(
        good & (kind == "html"),
        F.filter(
            F.transform(
                F.coalesce(
                    note.getField("imageList"),
                    F.array().cast("array<struct<url:string>>"),
                ),
                lambda i: i.url,
            ),
            lambda u: u.isNotNull(),
        ),
    ).otherwise(F.array().cast("array<string>"))

    items_count = F.when(good & (kind == "page") & env_ok, F.size(items)).when(
        good & (kind == "cursor") & env_ok, F.size(comments)
    ).otherwise(F.lit(0))
    has_more = F.coalesce(
        F.when(good & (kind == "cursor") & env_ok, data.getField("has_more")),
        F.lit(False),
    )
    next_cursor = F.when(
        good & (kind == "cursor") & env_ok, data.getField("cursor")
    ).otherwise(F.lit(None).cast("string"))
    # nullif before the cast: a page-kind URL WITHOUT a size= param (e.g.
    # a single-shot rank endpoint from the seed catalog) extracts '' and
    # must yield NULL like the py spec (parse_body:175), not an ANSI cast
    # error.
    page_size = F.when(
        good & (kind == "page") & env_ok,
        F.nullif(
            F.regexp_extract(F.col("url"), r"[?&]size=(\d+)", 1), F.lit("")
        ).cast("int"),
    ).otherwise(F.lit(None).cast("int"))

    page_title = F.when(
        (kind == "html") & is_http_ok,
        F.nullif(
            F.regexp_extract(F.col("body"), "(?s)<title>(.*?)</title>", 1), F.lit("")
        ),
    )

    out_cols = [
        code.alias("code"),
        page_title.alias("page_title"),
        success.alias("success"),
        docs.alias("docs"),
        out_links.alias("out_links"),
        has_more.alias("has_more"),
        next_cursor.alias("next_cursor"),
        items_count.alias("items_count"),
        page_size.alias("page_size"),
        parse_error.alias("parse_error"),
    ]
    return with_cols, out_cols


def parse_stage(fetched: DataFrame) -> DataFrame:
    """Catalyst-native parse: body -> envelope fields + docs + out_links.

    Matches parse_body row-for-row (golden-tested); runs entirely in the
    JVM under whole-stage codegen.  The expression tree is cached per
    session (see _session_expr_cache) — rounds after the first skip the
    py4j construction cost entirely.
    """
    has_media_cols = (
        "media_ref" in fetched.columns and "canonical_url" in fetched.columns
    )
    cache = _session_expr_cache()
    key = ("parse_stage", has_media_cols)
    if key not in cache:
        cache[key] = _build_parse_exprs(has_media_cols)
    with_cols, out_cols = cache[key]
    fetched = fetched.withColumns(with_cols)
    return fetched.select(
        *[
            f.name
            for f in fetched.schema.fields
            if f.name not in ("body", "_env", "_state_raw", "_state")
        ],
        *out_cols,
    )
