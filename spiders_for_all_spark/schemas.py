"""Explicit StructType schemas for every engine table — never inferred.

The reference fixes schemas with SQLAlchemy declarative models
(reference: spiders_for_all/database/schema.py:16-37 and the per-spider
schema modules); we fix them with Spark StructTypes.  The ``documents``
span shape is mandated by BASELINE.json's input_hint:
``(doc_id string, spans array<struct<kind,text,media_ref,offset>>)``.
"""

from __future__ import annotations

from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# Span / documents — the canonical interleaved text+media output table.
# kind values follow the reference MediaType enum (core/media.py:7-11):
# text | image | video | audio.
SPAN = T.StructType(
    [
        T.StructField("kind", T.StringType(), False),
        T.StructField("text", T.StringType(), True),
        T.StructField("media_ref", T.StringType(), True),
        T.StructField("offset", T.IntegerType(), False),
    ]
)

DOCUMENTS = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("spans", T.ArrayType(SPAN), False),
        # F7 wall-clock lineage (reference: database/schema.py:23-29 —
        # create_at server_default, update_at onupdate).  create_at survives
        # upserts (merge keep_on_match); update_at is refreshed every merge.
        T.StructField("create_at", T.TimestampType(), True),
        T.StructField("update_at", T.TimestampType(), True),
    ]
)

# ---------------------------------------------------------------------------
# Frontier — one row per URL awaiting fetch.  State that the reference keeps
# on mutable spider objects (cursor / page counters — core/spider.py:295-327,
# spiders/xhs/spiders.py:276-308) lives in columns here instead.
FRONTIER = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("canonical_url", T.StringType(), False),
        T.StructField("url_hash", T.LongType(), False),
        T.StructField("host", T.StringType(), False),
        T.StructField("priority", T.IntegerType(), False),
        T.StructField("discovery_round", T.IntegerType(), False),
        T.StructField("depth", T.IntegerType(), False),
        T.StructField("attempt", T.IntegerType(), False),
        T.StructField("cursor", T.StringType(), True),
        T.StructField("page_no", T.IntegerType(), True),
        T.StructField("kind", T.StringType(), False),
        # S6/U2: ordered failover candidates AFTER the primary url (reference
        # media.py:36-42 — [base_url] + backup_url list); null for non-media
        T.StructField("backup_urls", T.ArrayType(T.StringType()), True),
    ]
)

# URL-seen set.  bucket = pmod(url_hash, n_buckets) partitions the filter
# segments (operators/dedup.py); round is the round in which the hash entered
# seen (null for rows written without one), which is how a cuckoo deletion
# finds the segment that holds the hash.
SEEN = T.StructType(
    [
        T.StructField("url_hash", T.LongType(), False),
        T.StructField("bucket", T.IntegerType(), False),
        T.StructField("round", T.IntegerType(), True),
    ]
)

ROBOTS = T.StructType(
    [
        T.StructField("host", T.StringType(), False),
        T.StructField("disallow", T.ArrayType(T.StringType()), False),
        T.StructField("crawl_delay", T.DoubleType(), True),
    ]
)

HOST_BUDGET = T.StructType(
    [
        T.StructField("host", T.StringType(), False),
        T.StructField("budget_per_round", T.IntegerType(), False),
        T.StructField("salt_n", T.IntegerType(), False),
    ]
)

# Per-fetch lineage + metrics (success/failure counters the reference keeps
# as in-memory tallies — core/downloader.py:501-502 — become queryable rows).
FETCH_LOG = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("url_hash", T.LongType(), False),
        T.StructField("round", T.IntegerType(), False),
        T.StructField("status", T.IntegerType(), True),
        T.StructField("code", T.IntegerType(), True),
        T.StructField("error", T.StringType(), True),
        T.StructField("attempt", T.IntegerType(), False),
        T.StructField("latency_ms", T.IntegerType(), True),
        T.StructField("partition_id", T.IntegerType(), True),
        T.StructField("dead_letter", T.BooleanType(), False),
        # S6 media lineage: which candidate URL served the bytes, and the
        # chunk accounting of the streamed download (reference
        # core/downloader.py:184-218 — CHUNK_SIZE iter_content loop)
        T.StructField("media_ref", T.StringType(), True),
        T.StructField("n_chunks", T.IntegerType(), True),
        T.StructField("bytes_fetched", T.LongType(), True),
        # sink-mode lineage: the warehouse file the payload streamed to
        T.StructField("media_path", T.StringType(), True),
    ]
)

# Typed metadata for every fetched media payload: the fetch worker sniffs
# each payload as it writes it to the media sink (multimodal.sniff_format),
# and the round selects these rows from its spill and commits them in the
# same atomic flip as documents/seen/fetch_log.
MEDIA_META = T.StructType(
    [
        T.StructField("url_hash", T.LongType(), False),
        T.StructField("media_ref", T.StringType(), False),
        T.StructField("media_path", T.StringType(), True),
        T.StructField("round", T.IntegerType(), False),
        T.StructField("n_bytes", T.LongType(), True),
        T.StructField("format", T.StringType(), True),
        T.StructField("media_kind", T.StringType(), True),
    ]
)

# Persisted bloom filter over the seen set, as a log of SEGMENTS: one row
# per (bucket, round), each bitmap sized from its own key count.  A round
# appends the segment of its seen delta in the same atomic flip as the
# delta, so the filter can never lag or lead the set it summarizes;
# compaction folds all segments into one, built from the live seen set.
# The probe reads a bucket's segments as a union.
BLOOM = T.StructType(
    [
        T.StructField("bucket", T.IntegerType(), False),
        T.StructField("round", T.IntegerType(), False),
        T.StructField("n_bits", T.IntegerType(), False),
        T.StructField("n_hashes", T.IntegerType(), False),
        T.StructField("bits", T.BinaryType(), False),
    ]
)

# Persisted cuckoo filter over the seen set (the deletable twin of BLOOM),
# segmented the same way; capacity is the key count a segment was sized
# for.  evict() deletes each live key's fingerprint from the one segment
# that holds it, in the same flip as its tombstones.  A bucket whose table
# overflows is flagged and its probes route to the exact confirm — never a
# false negative.
CUCKOO = T.StructType(
    [
        T.StructField("bucket", T.IntegerType(), False),
        T.StructField("round", T.IntegerType(), False),
        T.StructField("capacity", T.IntegerType(), False),
        T.StructField("table", T.BinaryType(), False),
        T.StructField("overflowed", T.BooleanType(), False),
    ]
)

# Committed MinHash-LSH band index over the document corpus — the
# corpus-level twin of the seen filters: each dedup increment APPENDS only
# the new batch's band rows (O(batch); shingling+hashing happen once per
# document ever) and probes the committed index with a broadcast-pruned
# semi-join (the corpus side is never shuffled).
MINHASH_INDEX = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("band", T.IntegerType(), False),
        T.StructField("bucket", T.StringType(), False),
    ]
)

# Candidate pairs discovered by incremental index probes (streaming
# ingestion commits each micro-batch's pairs atomically with its index
# rows — streaming/rounds.py:streaming_incremental_dedup).
MINHASH_PAIRS = T.StructType(
    [
        T.StructField("a", T.StringType(), False),
        T.StructField("b", T.StringType(), False),
        T.StructField("batch_id", T.LongType(), True),
    ]
)

# Watermark of foreachBatch batch_ids already folded into the committed
# MinHash index (streaming/rounds.py:incremental_dedup_batch): foreachBatch
# is at-least-once, so each commit_multi flip also appends its batch_id
# here and replays at-or-below the max are skipped — exactly-once appends.
MINHASH_BATCHES = T.StructType(
    [T.StructField("batch_id", T.LongType(), False)]
)

# Re-crawl eviction tombstones: url_hashes logically deleted from the seen
# set (cuckoo-filter deletions at probe time).  Rows are removed again the
# moment the URL is re-fetched (its hash re-enters seen) — the table stays
# O(pending evictions), so a full overwrite per round is cheap.
EVICTED = T.StructType([T.StructField("url_hash", T.LongType(), False)])

# The synthetic site served by the deterministic test fetcher: one row per
# fetchable URL (FIXTURES.md §2).  Envelope fields mirror the reference wire
# formats (bilibili {code,data,message} — spiders/bilibili/models.py:12-21;
# xhs {code,data,message,success} — spiders/xhs/models.py:11-19).
PAGES = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("kind", T.StringType(), False),
        T.StructField("status", T.IntegerType(), False),
        T.StructField("code", T.IntegerType(), False),
        T.StructField("success", T.BooleanType(), False),
        T.StructField("body", T.StringType(), True),
        T.StructField("has_more", T.BooleanType(), False),
        T.StructField("next_cursor", T.StringType(), True),
        T.StructField("items_count", T.IntegerType(), False),
        T.StructField("out_links", T.ArrayType(T.StringType()), False),
        T.StructField("latency_ms", T.IntegerType(), False),
        T.StructField("fail_times", T.IntegerType(), False),
    ]
)

# Fetch result = scheduled frontier row + fetch columns (what the fetch
# mapInPandas stage appends).
FETCH_RESULT_FIELDS = [
    T.StructField("status", T.IntegerType(), True),
    T.StructField("code", T.IntegerType(), True),
    T.StructField("success", T.BooleanType(), True),
    T.StructField("body", T.StringType(), True),
    T.StructField("has_more", T.BooleanType(), True),
    T.StructField("next_cursor", T.StringType(), True),
    T.StructField("items_count", T.IntegerType(), True),
    T.StructField("out_links", T.ArrayType(T.StringType()), True),
    T.StructField("latency_ms", T.IntegerType(), True),
    T.StructField("error", T.StringType(), True),
    T.StructField("partition_id", T.IntegerType(), True),
]

FETCH_RESULT = T.StructType(list(FRONTIER.fields) + FETCH_RESULT_FIELDS)

# Parsed per-item rows before document assembly: one row per (doc, span).
PARSED_SPANS = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("kind", T.StringType(), False),
        T.StructField("text", T.StringType(), True),
        T.StructField("media_ref", T.StringType(), True),
        T.StructField("offset", T.IntegerType(), False),
    ]
)
