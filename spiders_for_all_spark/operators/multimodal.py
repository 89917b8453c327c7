"""Multimodal columns: opaque binary payloads + typed metadata, processed in
Arrow-batched mapInPandas.

The reference downloads media as chunked byte streams to files
(core/downloader.py:184-218) and never processes them.  A training-data
pipeline needs media *columns*: this module provides the Spark-side
plumbing — schema, batch shape, partitioning — with the actual codec work
stubbed (image/audio libraries are not in this container; see
``decode_image``).  The plumbing (magic sniffing, sizing, frame-offset
computation) is real and tested.  :func:`sniff_format` is the one magic
sniffer: the crawl's fetch worker applies it to each payload it writes to
the media sink, and :func:`sniff_media_meta` applies it to a binary column.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import types as T

_MAGIC = [
    (b"\xff\xd8\xff", "jpeg", "image"),
    (b"\x89PNG", "png", "image"),
    (b"GIF8", "gif", "image"),
    (b"RIFF", "wav", "audio"),
    (b"ID3", "mp3", "audio"),
    (b"\x00\x00\x00", "mp4", "video"),
]


def sniff_format(payload: bytes | None) -> tuple[str | None, str | None]:
    if not payload:
        return None, None
    for magic, fmt, kind in _MAGIC:
        if payload[: len(magic)] == magic:
            return fmt, kind
    return "bin", "unknown"


def sniff_media_meta(df: DataFrame, bin_col: str = "payload") -> DataFrame:
    """Append (n_bytes, format, media_kind) metadata columns to every input
    row, sniffed from the binary column ``bin_col`` in one Arrow pass
    (n_bytes is null for a null or empty payload).  A crawl round does not
    call this: its fetch worker sniffs each payload as it writes it to the
    media sink (sources/fetcher.py)."""
    out_schema = T.StructType(
        list(df.schema.fields)
        + [
            T.StructField("n_bytes", T.LongType(), True),
            T.StructField("format", T.StringType(), True),
            T.StructField("media_kind", T.StringType(), True),
        ]
    )
    out_cols = [f.name for f in out_schema.fields]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            fmts, kinds, sizes = [], [], []
            for payload in pdf[bin_col]:
                b = bytes(payload) if payload is not None else None
                fmt, kind = sniff_format(b)
                fmts.append(fmt)
                kinds.append(kind)
                sizes.append(len(b) if b else None)
            yield pdf.assign(
                n_bytes=pd.array(sizes, dtype="Int64"),
                format=fmts,
                media_kind=kinds,
            )[out_cols]

    return df.mapInPandas(run, schema=out_schema)


def decode_image(payload: bytes) -> object:
    """Decode an image payload to an array.

    STUB: the sandbox image has no codec libraries (no PIL/opencv).  The
    Spark-side contract (binary in, array<float> features out via
    ``image_features``) is real; plug a decoder here in production.
    """
    raise NotImplementedError(
        "image decoding requires a codec library (PIL/opencv) not present "
        "in this environment; see image_features(..., fake=True) for the "
        "deterministic test double"
    )


FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_ref", T.StringType(), False),
        T.StructField("features", T.ArrayType(T.FloatType()), False),
    ]
)


def image_features(
    df: DataFrame,
    ref_col: str = "media_ref",
    bin_col: str = "payload",
    n_features: int = 8,
    fake: bool = True,
) -> DataFrame:
    """binary -> fixed-width feature vector, Arrow-batched.

    With ``fake=True`` (the only mode available in-sandbox) features are a
    deterministic byte-histogram projection — clearly NOT a real embedding,
    but it exercises the exact production batch shape: binary in, fixed
    ``array<float>`` out, one mapInPandas pass, no driver involvement.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            feats = []
            for payload in pdf[bin_col]:
                b = bytes(payload) if payload is not None else b""
                if not fake:
                    decode_image(b)  # pragma: no cover — raises in sandbox
                hist = [0.0] * n_features
                for i, byte in enumerate(b):
                    hist[byte % n_features] += 1.0
                total = max(sum(hist), 1.0)
                feats.append([round(h / total, 6) for h in hist])
            yield pd.DataFrame(
                {"media_ref": pdf[ref_col].astype(str), "features": feats}
            )

    return df.mapInPandas(run, schema=FEATURE_SCHEMA)


FRAME_SCHEMA = T.StructType(
    [
        T.StructField("media_ref", T.StringType(), False),
        T.StructField("frame_no", T.IntegerType(), False),
        T.StructField("frame", T.BinaryType(), True),
    ]
)


def sample_frames(
    df: DataFrame,
    n_frames: int = 4,
    ref_col: str = "media_ref",
    bin_col: str = "payload",
) -> DataFrame:
    """video binary -> n evenly-spaced 'frames' (byte slices as the stand-in
    for real frame extraction — the partitioning/fan-out shape is the point:
    one input row explodes to n output rows inside the Arrow batch, never on
    the driver)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            refs, nos, frames = [], [], []
            for ref, payload in zip(pdf[ref_col], pdf[bin_col]):
                b = bytes(payload) if payload is not None else b""
                step = max(len(b) // n_frames, 1)
                for i in range(n_frames):
                    refs.append(str(ref))
                    nos.append(i)
                    frames.append(b[i * step : (i + 1) * step])
            yield pd.DataFrame({"media_ref": refs, "frame_no": nos, "frame": frames})

    return df.mapInPandas(run, schema=FRAME_SCHEMA)
