"""Sequence packing for pretraining: assign documents to fixed
token-budget training sequences (concatenate-and-chunk — the standard
GPT-style packing), as a DISTRIBUTED two-stage prefix sum.

No reference counterpart (the reference stores rows; it has no notion of
a training batch).  The interesting part at 100 TB is the global
cumulative token offset: a naive ``Window.orderBy(key)`` cumsum collapses
to a single-partition sort.  Instead:

1. order key  = md5(seed || doc_id) — deterministic, engine-independent,
   uniformly shuffled (packing wants decorrelated neighbors);
2. bucket     = first byte of the key.  Because the bucket is a PREFIX of
   the key, ordering by (bucket, key) equals ordering by key — so
   per-bucket cumsums + bucket base offsets compose into the exact
   global prefix sum;
3. stage A: cumsum within each bucket (Window partitioned by bucket —
   256-way parallel, no global sort);
4. stage B: bucket totals (256 rows) -> running base offset per bucket ->
   broadcast join back.

Total cost: one hash shuffle of (bucket, key, n_tok) triples + one
256-row window + one broadcast — vs the single-reducer global sort of
the naive form.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from spiders_for_all_spark.functions.partitioning import ensure_width, fence
from spiders_for_all_spark.functions.text import token_count


def global_token_offsets(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    seed: str = "s0",
) -> DataFrame:
    """(id, n_tok, global_offset) of every document in the seeded md5
    stream order — the distributed two-stage prefix sum the module
    docstring describes, shared by :func:`pack_sequences` and
    :func:`token_budget_sample`."""
    key = F.md5(F.concat(F.lit(seed), F.col(id_col).cast("string")))
    bucket = F.substring(key, 1, 2)  # hex prefix byte: 256 buckets
    # width guard: the per-row md5 draw + token_count dominate; a
    # single-file scan otherwise runs them on one task
    docs = ensure_width(docs, id_col)
    # Determinism fence (the parse_stage docs pathology): the broadcast
    # join on _bucket makes the optimizer infer isnotnull(_bucket), and
    # pushdown would inline the md5 draw into a Filter below this
    # projection — an extra full-stream md5 pass.  A null id gives a null
    # bucket, as without the fence: the inner join drops that row.
    toks = docs.select(
        F.col(id_col),
        key.alias("_key"),
        fence(bucket).alias("_bucket"),
        token_count(F.col(text_col)).cast("bigint").alias("n_tok"),
    )
    in_bucket = Window.partitionBy("_bucket").orderBy("_key", id_col)
    staged = toks.withColumn(
        "_cum_in_bucket", F.sum("n_tok").over(in_bucket)
    )
    # totals from `toks`, not `staged`: the branch needs only
    # (_bucket, n_tok), and deriving it pre-window keeps the bucket sort
    # out of this leg regardless of whether ColumnPruning fires.
    totals = toks.groupBy("_bucket").agg(
        F.sum("n_tok").alias("_bucket_total")
    )
    base_w = Window.orderBy("_bucket").rowsBetween(
        Window.unboundedPreceding, -1
    )
    bases = totals.select(
        "_bucket",
        F.coalesce(F.sum("_bucket_total").over(base_w), F.lit(0)).alias(
            "_base"
        ),
    )
    return staged.join(F.broadcast(bases), "_bucket").select(
        id_col,
        "n_tok",
        (F.col("_base") + F.col("_cum_in_bucket") - F.col("n_tok")).alias(
            "global_offset"
        ),
    )


def pack_sequences(
    docs: DataFrame,
    seq_len: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    seed: str = "s0",
) -> DataFrame:
    """Per document: its global token offset in the packed stream and the
    range of ``seq_len``-token training sequences it lands in.

    Returns (id, n_tok, global_offset, seq_first, seq_last) where
    ``seq_first = floor(global_offset / seq_len)`` and ``seq_last``
    covers the document's final token — a doc spanning a chunk boundary
    appears in consecutive sequences, exactly like the tokenized stream
    it models.  Deterministic for a given (corpus, seed): re-running on
    resume or backfill reproduces identical packing.
    """
    out = global_token_offsets(docs, text_col, id_col, seed)
    # `div` = exact integer division (a double floor would be ulp-fragile
    # once offsets pass 2^53 on a real corpus)
    return out.select(
        id_col,
        "n_tok",
        "global_offset",
        F.expr(f"global_offset div {int(seq_len)}").alias("seq_first"),
        F.expr(
            f"(global_offset + greatest(n_tok, 1) - 1) div {int(seq_len)}"
        ).alias("seq_last"),
    )


def token_budget_sample(
    docs: DataFrame,
    budget: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    seed: str = "s0",
    strict: bool = False,
) -> DataFrame:
    """Seeded token-budget corpus freeze: take documents in the
    deterministic md5 stream order until ``budget`` tokens are reached —
    "give me a 50B-token uniform sample of this corpus", the sizing step
    before any pretraining run.  Returns the selected documents'
    ``(id, n_tok, global_offset)`` rows.

    ``strict=False`` (default) keeps the document straddling the budget
    boundary (``global_offset < budget`` — the stream-truncation rule
    sequence packing uses); ``strict=True`` keeps only fully-fitting
    documents (``global_offset + n_tok <= budget``).  Selection is a
    FILTER on the :func:`global_token_offsets` prefix sum, so the plan
    is the same one-shuffle two-stage cumsum — no global sort, no
    driver-side accumulation, and the same (corpus, seed) always
    freezes the same sample on resume or backfill.
    """
    off = global_token_offsets(docs, text_col, id_col, seed)
    if strict:
        cond = (F.col("global_offset") + F.col("n_tok")) <= budget
    else:
        cond = F.col("global_offset") < budget
    return off.filter(cond)


def pack_manifest(
    packed: DataFrame, seq_len: int, id_col: str = "doc_id"
) -> DataFrame:
    """Exploded (seq_id, id, doc_start, seq_start, n_tok_in_seq) manifest —
    one row per (sequence, document) intersection, the loader's worklist.
    ``doc_start`` is the first document token included in this sequence;
    ``seq_start`` is where it lands inside the sequence."""
    seq_id = F.explode(
        F.sequence(F.col("seq_first"), F.col("seq_last"))
    ).alias("seq_id")
    e = packed.select(id_col, "n_tok", "global_offset", seq_id)
    seq_lo = F.col("seq_id") * seq_len
    start_in_doc = F.greatest(seq_lo - F.col("global_offset"), F.lit(0))
    end_in_doc = F.least(
        seq_lo + seq_len - F.col("global_offset"), F.col("n_tok")
    )
    return e.select(
        "seq_id",
        id_col,
        start_in_doc.alias("doc_start"),
        F.greatest(
            F.col("global_offset") - seq_lo, F.lit(0)
        ).alias("seq_start"),
        (end_in_doc - start_in_doc).alias("n_tok_in_seq"),
    )
