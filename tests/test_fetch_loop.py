"""The fetch loop every reader-based fetcher shares (sources/fetcher.py
fetch_batches), driven by a stub reader — no Spark session, no network."""

from __future__ import annotations

import math
import os

import pandas as pd
import pytest

from pyspark.sql import types as T

from spiders_for_all_spark.operators.multimodal import sniff_format
from spiders_for_all_spark.sources.fetcher import (
    DEFAULT_CHUNK_SIZE,
    HttpFetcher,
    SyntheticFetcher,
    fetch_batches,
    fetched_schema,
    media_filename,
)

IN_SCHEMA = T.StructType([
    T.StructField("url", T.StringType()),
    T.StructField("attempt", T.IntegerType()),
    T.StructField("kind", T.StringType()),
    T.StructField("backup_urls", T.ArrayType(T.StringType())),
])
OUT_COLS = [f.name for f in fetched_schema(IN_SCHEMA).fields]

JPEG = b"\xff\xd8\xff" + b"j" * 40
RESPONSES = {
    "https://h/media/a.jpg": (503, b"", "http_503", 7),
    "https://h/media/b.jpg": (200, JPEG, None, 3),
    "https://h/api/list?page=1": (200, '{"code": 0}', None, 5),
    "https://h/media/empty.bin": (200, b"", None, 1),
    "https://h/media/gone.mp4": (503, b"", "http_503", 2),
    "https://h/media/gone2.mp4": (404, b"", "http_404", 4),
}


def test_fetch_batches_failover_sink_and_sniff(tmp_path):
    calls = []

    def read(url, attempt, media):
        calls.append((url, attempt, media))
        return RESPONSES[url]

    pdf = pd.DataFrame({
        "url": ["https://h/media/a.jpg", "https://h/api/list?page=1",
                "https://h/media/empty.bin", "https://h/media/gone.mp4"],
        "attempt": [1, 0, 0, 2],
        "kind": ["media", "page", "media", "media"],
        "backup_urls": [["https://h/media/b.jpg"], ["https://h/unused"], None,
                        ["https://h/media/gone2.mp4"]],
    })
    sink = str(tmp_path / "sink")
    (out,) = fetch_batches([pdf.iloc[:0], pdf], read, sink, DEFAULT_CHUNK_SIZE, OUT_COLS)
    assert list(out.columns) == OUT_COLS
    rows = out.to_dict("records")
    won, page, empty, lost = rows

    # failover to the backup within ONE attempt; the winner decides the row
    assert calls[:2] == [("https://h/media/a.jpg", 1, True), ("https://h/media/b.jpg", 1, True)]
    assert (won["status"], won["error"], won["latency_ms"]) == (200, None, 3)
    assert won["media_ref"] == "https://h/media/b.jpg" and pd.isna(won["body"])
    assert won["bytes_fetched"] == len(JPEG)
    assert won["n_chunks"] == math.ceil(max(len(JPEG), 1) / DEFAULT_CHUNK_SIZE) == 3
    assert won["media_path"] == os.path.join(sink, media_filename("https://h/media/a.jpg"))
    with open(won["media_path"], "rb") as fh:
        assert fh.read() == JPEG
    assert (won["media_format"], won["media_kind"]) == sniff_format(JPEG) == ("jpeg", "image")
    assert won["partition_id"] == -1

    # a page row is one read, passed through with no media columns
    assert calls[2] == ("https://h/api/list?page=1", 0, False)
    assert (page["status"], page["body"], page["latency_ms"]) == (200, '{"code": 0}', 5)
    for c in ("media_ref", "n_chunks", "media_path", "bytes_fetched", "media_format", "media_kind"):
        assert pd.isna(page[c]), c

    # an empty payload still takes one chunk and sniffs to nothing
    assert (empty["bytes_fetched"], empty["n_chunks"]) == (0, 1)
    assert pd.isna(empty["media_format"]) and pd.isna(empty["media_kind"])

    # total failure: the last candidate's outcome, nothing written
    assert (lost["status"], lost["error"], lost["latency_ms"]) == (404, "http_404", 4)
    for c in ("media_ref", "n_chunks", "media_path", "bytes_fetched", "media_format"):
        assert pd.isna(lost[c]), c
    assert sorted(os.listdir(sink)) == sorted(
        media_filename(u) for u in ("https://h/media/a.jpg", "https://h/media/empty.bin")
    )


@pytest.mark.parametrize("fetcher", [SyntheticFetcher("pages.parquet"), HttpFetcher()])
def test_fetch_without_sink_raises(fetcher):
    with pytest.raises(ValueError, match="media_sink_dir"):
        fetcher.fetch(None)
