"""Document assembly: parsed docs -> the canonical interleaved span table.

Output shape is fixed by BASELINE.json's input_hint:
``documents(doc_id string, spans array<struct<kind,text,media_ref,offset>>)``.
Span order (text, then media in list order) is produced upstream by the
parser (operators/parse.py — reference semantics at
spiders/xhs/downloader.py:56-72,110-112); assembly here only has to keep it
stable through shuffles: explode -> groupBy doc_id ->
``array_sort(collect_list(struct(offset, ...)))``, i.e. order is carried by
data (offset), never by partition order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from spiders_for_all_spark.functions.partitioning import fence


def docs_from_parsed(parsed_ok: DataFrame) -> DataFrame:
    """Explode per-fetch doc arrays into the documents table, doc_id-unique.

    A doc re-emitted within one round (e.g. the same note linked from two
    pages) collapses to one row; which copy wins is deterministic
    (max by span count then doc content) though in a consistent world all
    copies are identical.
    """
    by_offset = lambda l, r: F.when(l.offset < r.offset, -1).when(  # noqa: E731
        l.offset > r.offset, 1
    ).otherwise(0)
    exploded = parsed_ok.select(F.explode("docs").alias("d")).select(
        F.col("d.doc_id").alias("doc_id"),
        F.array_sort(F.col("d.spans"), by_offset).alias("spans"),
    )
    # max over (span count, spans): F.max("spans") alone compares arrays
    # lexicographically, so a 1-span copy with a "larger" first struct
    # would beat a fuller 5-span copy — count must dominate.
    return exploded.groupBy("doc_id").agg(
        F.max(
            F.struct(
                F.size("spans").alias("n_spans"),
                F.col("spans").alias("spans"),
            )
        )
        .getField("spans")
        .alias("spans")
    )


# ---------------------------------------------------------------------------
# Span-native operators over the canonical interleaved table.
#
# The input_hint's payload IS the span array — these operate on the nested
# structure directly (pure Catalyst array expressions, zero explodes in the
# rewrite path), because at 10^10 documents exploding to a row-per-span
# table just to drop a span kind would shuffle ~10x the rows for nothing.


def filter_spans(docs: DataFrame, kinds: list[str], spans_col: str = "spans") -> DataFrame:
    """Keep only spans of the given kinds and renumber offsets densely
    (0..n-1 in surviving order) — the span-table analog of column
    projection.  Per-row array rewrite, no shuffle, no explode."""
    kept = F.filter(
        F.col(spans_col), lambda s: s.getField("kind").isin(kinds)
    )
    renumbered = F.transform(
        kept,
        lambda s, i: F.struct(
            s.getField("kind").alias("kind"),
            s.getField("text").alias("text"),
            s.getField("media_ref").alias("media_ref"),
            i.cast("int").alias("offset"),
        ),
    )
    # Determinism fence (the parse_stage docs pathology): exploding the
    # rewritten array downstream makes the optimizer infer size()>0, and
    # pushdown would inline this whole filter+renumber chain into a Filter
    # below the projection — the rewrite would run twice per row.
    return docs.withColumn(spans_col, fence(renumbered))


def strip_media(docs: DataFrame, spans_col: str = "spans") -> DataFrame:
    """Text-only view of the interleaved table (media spans dropped,
    offsets renumbered) — what a text-pretraining freeze consumes."""
    return filter_spans(docs, ["text"], spans_col)


def media_manifest(docs: DataFrame, spans_col: str = "spans") -> DataFrame:
    """Exploded (doc_id, offset, kind, media_ref) manifest of every
    non-text span — the download/audit worklist.  Media spans are every
    kind other than ``text`` (the engine emits ``image``/``video`` per
    the reference's span model; synthetic fixtures may use ``media``).
    The one deliberate explode in this module: manifests are consumed
    row-wise by the fetcher."""
    s = F.explode(
        F.filter(F.col(spans_col), lambda x: x.getField("kind") != "text")
    ).alias("s")
    return docs.select("doc_id", s).select(
        "doc_id",
        F.col("s.offset").alias("offset"),
        F.col("s.kind").alias("kind"),
        F.col("s.media_ref").alias("media_ref"),
    )


def span_stats(docs: DataFrame, spans_col: str = "spans") -> DataFrame:
    """Per-document span-shape metrics: counts per kind, total text chars,
    and whether text/media interleave (any media span between two text
    spans).  Pure array arithmetic — no explode, no shuffle."""
    spans = F.col(spans_col)
    texts = F.filter(spans, lambda s: s.getField("kind") == "text")
    medias = F.filter(spans, lambda s: s.getField("kind") != "text")
    text_chars = F.aggregate(
        texts,
        F.lit(0),
        lambda acc, s: acc
        + F.length(F.coalesce(s.getField("text"), F.lit(""))),
    )
    first_text = F.array_position(
        F.transform(spans, lambda s: s.getField("kind")), "text"
    )
    last_text = F.size(spans) - F.array_position(
        F.reverse(F.transform(spans, lambda s: s.getField("kind"))), "text"
    ) + 1
    interleaved = F.when(
        (F.size(texts) == 0) | (F.size(medias) == 0), F.lit(False)
    ).otherwise(
        F.size(
            F.filter(
                spans,
                lambda s, i: (s.getField("kind") != "text")
                & (i + 1 > first_text)
                & (i + 1 < last_text),
            )
        )
        > 0
    )
    return docs.select(
        "doc_id",
        F.size(texts).alias("n_text"),
        F.size(medias).alias("n_media"),
        text_chars.alias("text_chars"),
        interleaved.alias("interleaved"),
    )


# ---------------------------------------------------------------------------
# Span-sequence fingerprint: one md5 per document over the ORDERED span
# sequence — the per-row invariant the north_rule checks (span-sequence
# equality: kind, text, media_ref, order).  The Catalyst expression and the
# pure-python twin must stay byte-identical: the golden e2e oracle
# (tools/export_golden_spans.py -> tests/fixtures/) hashes simulator spans
# with the _py twin and the live crawl hashes its spans with the Column
# version; \x1f separates fields, \x1e separates spans, NULL text/media_ref
# hash as ''.


def span_fingerprint(spans) -> "F.Column":
    return F.md5(
        F.concat_ws(
            "\x1e",
            F.transform(
                spans,
                lambda s: F.concat_ws(
                    "\x1f",
                    s["kind"],
                    F.coalesce(s["text"], F.lit("")),
                    F.coalesce(s["media_ref"], F.lit("")),
                    s["offset"].cast("string"),
                ),
            ),
        )
    )


def span_fingerprint_py(spans: list[dict]) -> str:
    import hashlib

    parts = [
        "\x1f".join(
            [
                s["kind"],
                s.get("text") or "",
                s.get("media_ref") or "",
                str(s["offset"]),
            ]
        )
        for s in spans
    ]
    return hashlib.md5("\x1e".join(parts).encode("utf-8")).hexdigest()
