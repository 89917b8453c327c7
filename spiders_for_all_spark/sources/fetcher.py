"""Fetch stage: batched, partition-pooled URL fetching as mapInPandas.

Replaces the reference's synchronous ``HttpClient.request`` + retry +
UA-rotation loop (reference: core/client.py:83,100-117,142-190) with one
Arrow-batched stage: the scheduled frontier is repartitioned by host, each
Python worker keeps a per-process resource (the parquet site index in test
mode; a pooled ``requests.Session`` in HTTP mode — the Session-reuse analog
of core/client.py:83), and fetches a whole batch per invocation.  No
per-row Python UDFs, no executor sleeps.

Fetchers are pluggable (SURVEY §4.3.4) and share ONE batch loop,
:func:`fetch_batches`: a fetcher supplies only a per-worker reader,
``read(url, attempt, media) -> (status, body or payload, error,
latency_ms)``, and the loop owns backup failover, the media sink write,
chunk accounting, the media sniff and the output columns.  Tests and
benches use :class:`SyntheticFetcher` (deterministic, closed-world); a real
crawl would use :class:`HttpFetcher` (gated behind an import-try; no
network in the sandbox).  :class:`ProceduralFetcher` builds its bodies in
one Arrow kernel and shares only the column fill and the partitioning.
"""

from __future__ import annotations

import functools
import os
from collections.abc import Callable, Iterable, Iterator

import pandas as pd

from pyspark import TaskContext
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from spiders_for_all_spark.fixtures import synthetic_response
from spiders_for_all_spark.operators.multimodal import sniff_format

FETCH_FIELDS = [
    T.StructField("status", T.IntegerType(), True),
    T.StructField("body", T.StringType(), True),
    T.StructField("latency_ms", T.IntegerType(), True),
    T.StructField("error", T.StringType(), True),
    T.StructField("partition_id", T.IntegerType(), True),
    # S6 media: failover winner + chunk-streamed payload accounting
    # (reference core/downloader.py:184-218, core/media.py:36-42)
    T.StructField("media_ref", T.StringType(), True),
    T.StructField("n_chunks", T.IntegerType(), True),
    # the sink file the payload was written to DURING the fetch: only this
    # path travels through the plan, never the bytes (SURVEY §2 S6)
    T.StructField("media_path", T.StringType(), True),
    T.StructField("bytes_fetched", T.LongType(), True),
    # sniffed from the payload's magic bytes while the worker holds it
    # (multimodal.sniff_format) — media_meta is a select over these
    T.StructField("media_format", T.StringType(), True),
    T.StructField("media_kind", T.StringType(), True),
]

# what a reader returns for one request: (status, body text for a page or
# payload bytes for media, error, latency_ms)
ReadResult = tuple[int | None, str | bytes | None, str | None, int]
Reader = Callable[[str, int, bool], ReadResult]

DEFAULT_CHUNK_SIZE = 16  # bytes, test-scale stand-in for the 10MB/1MB
# CHUNK_SIZE constants (reference const.py:1, spiders/bilibili/const.py:10)
HTTP_CHUNK_SIZE = 10 * 1024 * 1024  # reference const.py:1 CHUNK_SIZE


def media_filename(url: str) -> str:
    """Collision-safe sink filename: short url-hash prefix + sanitized
    basename (reference sanitty: utils/helper.py:15, naming:
    core/downloader.py:48-49)."""
    import hashlib
    import re as _re

    base = url.rstrip("/").rsplit("/", 1)[-1] or "media"
    base = _re.sub(r'[\\/:*?"<>|]', "_", base)[:80]
    return f"{hashlib.md5(url.encode()).hexdigest()[:10]}_{base}"


def fetched_schema(input_schema: T.StructType) -> T.StructType:
    names = {f.name for f in FETCH_FIELDS}
    return T.StructType(
        [f for f in input_schema.fields if f.name not in names] + FETCH_FIELDS
    )


def with_fetch_columns(pdf: pd.DataFrame, out_cols: list[str], **cols) -> pd.DataFrame:
    """``pdf`` plus every fetch column, in ``out_cols`` order: each given
    column is a list as long as ``pdf``, the rest are null."""
    ctx = TaskContext.get()
    none = [None] * len(pdf)
    return pdf.assign(
        status=pd.array(cols.get("status", none), dtype="Int32"),
        body=pd.array(cols.get("body", none), dtype="object"),
        latency_ms=pd.array(cols.get("latency_ms", none), dtype="Int32"),
        error=pd.array(cols.get("error", none), dtype="object"),
        partition_id=ctx.partitionId() if ctx else -1,
        media_ref=pd.array(cols.get("media_ref", none), dtype="object"),
        n_chunks=pd.array(cols.get("n_chunks", none), dtype="Int32"),
        media_path=pd.array(cols.get("media_path", none), dtype="object"),
        bytes_fetched=pd.array(cols.get("bytes_fetched", none), dtype="Int64"),
        media_format=pd.array(cols.get("media_format", none), dtype="object"),
        media_kind=pd.array(cols.get("media_kind", none), dtype="object"),
    )[out_cols]


def fetch_batches(
    batches: Iterable[pd.DataFrame],
    read: Reader,
    sink_dir: str,
    chunk_size: int,
    out_cols: list[str],
) -> Iterator[pd.DataFrame]:
    """The fetch loop every reader-based fetcher shares.

    A page row is one ``read``.  A media row tries ``[url] + backup_urls``
    in order within ONE attempt; the first HTTP-200 payload is written once
    to ``sink_dir``, counted (``n_chunks`` = the ``chunk_size`` slices a
    streamed download takes, at least one) and sniffed.  Status, error and
    latency are those of the read that decided the row — the winner, or
    the last candidate on total failure, so retry classification matches
    the single-URL path.
    """
    for pdf in batches:
        if len(pdf) == 0:
            continue
        n = len(pdf)
        status, body, lat, err = [], [], [], []
        mref, nch, mpath, nbytes, mfmt, mkind = ([None] * n for _ in range(6))
        backups = pdf["backup_urls"] if "backup_urls" in pdf.columns else [None] * n
        for i, (url, attempt, kind, backup) in enumerate(
            zip(pdf["url"], pdf["attempt"], pdf["kind"], backups)
        ):
            media = kind == "media"
            for cand in [url] + (list(backup) if media and backup is not None else []):
                st, payload, e, ms = read(cand, int(attempt), media)
                if st == 200:
                    break
            status.append(st)
            err.append(e)
            lat.append(ms)
            if not media:
                body.append(payload)
                continue
            body.append(None)
            if st != 200:
                continue
            os.makedirs(sink_dir, exist_ok=True)
            path = os.path.join(sink_dir, media_filename(url))
            with open(path, "wb") as fh:
                fh.write(payload)
            mref[i], mpath[i], nbytes[i] = cand, path, len(payload)
            nch[i] = -(-max(len(payload), 1) // chunk_size)
            mfmt[i], mkind[i] = sniff_format(payload)
        yield with_fetch_columns(
            pdf, out_cols, status=status, body=body, latency_ms=lat, error=err,
            media_ref=mref, n_chunks=nch, media_path=mpath, bytes_fetched=nbytes,
            media_format=mfmt, media_kind=mkind,
        )


@functools.lru_cache(maxsize=4)
def _load_site(path: str) -> dict[str, dict]:
    """Per-python-worker site index (the connection-pool analog)."""
    import pyarrow.parquet as pq

    tbl = pq.read_table(path)
    rows = tbl.to_pylist()
    return {r["url"]: r for r in rows}


def partition_for_fetch(
    scheduled, partitions: int | None, colocate_hosts: bool = True
):
    """Partitioning policy for the fetch stage.

    ``partitions=None`` trusts upstream (the politeness window already
    hash-partitioned by host — adding a repartition would be a pure extra
    shuffle).  With a partition count, ``colocate_hosts=True`` keeps each
    host's URLs in one task (per-host connection reuse, locally-observable
    politeness accounting); ``colocate_hosts=False`` round-robins for
    perfectly even task sizes instead — a correctness-free choice because
    the per-host budget is enforced UPSTREAM by the window, and the right
    trade when hot-host skew makes the fetch stage straggler-bound
    (pinned-host A/B at local[8]/4M: 23.1 s colocated vs 22.2 s balanced;
    results are fetch-identical either way — golden-tested).
    """
    if not partitions:
        return scheduled
    if colocate_hosts:
        return scheduled.repartition(partitions, "host")
    # balanced spread WITHOUT round-robin: a keyless repartition(n) first
    # pays a local sort of its whole input (sortBeforeRepartition, needed
    # so retries reproduce the row→partition map); hashing the already-
    # deterministic url_hash spreads ~as evenly (10^6 distinct keys into
    # n partitions), is retry-stable by construction, and skips the sort.
    from pyspark.sql import functions as F

    return scheduled.repartition(partitions, F.xxhash64("url_hash"))


def reader_fetch(
    scheduled: DataFrame,
    open_reader: Callable[[], Reader],
    fetcher,
    chunk_size: int,
) -> DataFrame:
    """The fetch stage of a reader-based fetcher: ``open_reader`` is called
    once per Python worker task and its reader feeds :func:`fetch_batches`.
    It is pickled without the fetcher object, whose methods a caller may
    have wrapped."""
    sink_dir = fetcher.media_sink_dir
    if sink_dir is None:
        raise ValueError(
            f"{type(fetcher).__name__} needs media_sink_dir: media payloads "
            "are written to that directory, never carried in a column"
        )
    out_schema = fetched_schema(scheduled.schema)
    out_cols = [f.name for f in out_schema.fields]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        yield from fetch_batches(batches, open_reader(), sink_dir, chunk_size, out_cols)

    scheduled = partition_for_fetch(
        scheduled, fetcher.partitions, fetcher.colocate_hosts
    )
    return scheduled.mapInPandas(run, schema=out_schema)


def _synthetic_reader(site_path: str) -> Reader:
    site = _load_site(site_path)

    def read(url: str, attempt: int, media: bool) -> ReadResult:
        page = site.get(url)
        status, body, err = synthetic_response(page, attempt)
        if media:
            body = (body or "").encode("utf-8")
        return status, body, err, int(page["latency_ms"]) if page else 0

    return read


class SyntheticFetcher:
    """Deterministic fetcher over a parquet 'site' (FIXTURES.md §2).

    Failure injection is attempt-indexed (see fixtures.synthetic_response),
    so retried rows deterministically succeed/fail — reproducing the
    reference retry matrix (utils/decorator.py:13-47) without wall-clock.
    """

    def __init__(self, site_path: str, partitions: int | None = None,
                 media_sink_dir: str | None = None,
                 colocate_hosts: bool = True):
        """``media_sink_dir``: the directory media payloads are written to
        INSIDE the fetch worker (K3-style file sink; the object-store path
        at scale).  The engine defaults it to the warehouse sink; a direct
        ``fetch`` without one raises."""
        self.site_path = site_path
        self.partitions = partitions
        self.media_sink_dir = media_sink_dir
        self.colocate_hosts = colocate_hosts

    def fetch(self, scheduled: DataFrame) -> DataFrame:
        return reader_fetch(
            scheduled, functools.partial(_synthetic_reader, self.site_path),
            self, DEFAULT_CHUNK_SIZE,
        )


def _http_request_kwargs(
    ua: str, timeout_s: float, proxies: dict | None
) -> dict:
    """Per-request keyword merge mirroring the reference client
    (core/client.py:86,100-117,142-177): User-Agent header always set,
    proxies attached per request when configured.  Pure function so the
    merge is unit-testable without a network or a real Session."""
    kw: dict = {"timeout": timeout_s, "headers": {"User-Agent": ua}}
    if proxies:
        kw["proxies"] = dict(proxies)
    return kw


def _install_cookies(session, cookies: dict | None) -> None:
    """Install configured cookies on the per-worker session — sent with
    every request, matching the reference's cookie merge
    (core/client.py:86,142)."""
    if cookies:
        session.cookies.update(cookies)


def _http_reader(
    timeout_s: float,
    user_agents: list[str],
    proxies: dict | None,
    cookies: dict | None,
    session=None,
) -> Reader:
    """Per-worker HTTP reader over one pooled Session (a fresh
    ``requests.Session`` unless one is given).  Pages read ``resp.text``,
    media stream their bytes; the User-Agent rotates once per request."""
    import itertools
    import time

    import requests

    if session is None:
        session = requests.Session()
    _install_cookies(session, cookies)
    uas = itertools.cycle(user_agents)

    def read(url: str, attempt: int, media: bool) -> ReadResult:
        t0 = time.monotonic()
        try:
            resp = session.get(
                url, stream=media,
                **_http_request_kwargs(next(uas), timeout_s, proxies),
            )
            if media:
                body = b"".join(resp.iter_content(chunk_size=HTTP_CHUNK_SIZE))
            else:
                body = resp.text
            status, err = resp.status_code, None
        except requests.RequestException as exc:
            status, body, err = None, None, f"{type(exc).__name__}: {exc}"
        return status, body, err, int((time.monotonic() - t0) * 1000)

    return read


class HttpFetcher:
    """Real-HTTP fetcher (NOT exercised against a network in the sandbox).

    Mirrors the reference client semantics: pooled Session per worker
    (core/client.py:83), rotating User-Agent (core/client.py:100-112),
    per-request proxies and session cookies (core/client.py:86,142-177;
    conf/settings.py:63).  Import-gated so the package never hard-depends
    on ``requests``.
    """

    def __init__(self, timeout_s: float = 10.0, user_agents: list[str] | None = None,
                 partitions: int | None = None, media_sink_dir: str | None = None,
                 colocate_hosts: bool = True, proxies: dict | None = None,
                 cookies: dict | None = None):
        self.timeout_s = timeout_s
        self.user_agents = user_agents or ["spiders-for-all-spark/0.1"]
        self.partitions = partitions
        self.colocate_hosts = colocate_hosts
        # None = let the engine default this to the warehouse media sink
        self.media_sink_dir = media_sink_dir
        self.proxies = dict(proxies) if proxies else None
        self.cookies = dict(cookies) if cookies else None

    def fetch(self, scheduled: DataFrame) -> DataFrame:
        try:
            import requests  # noqa: F401
        except ImportError as exc:  # pragma: no cover
            raise NotImplementedError(
                "HttpFetcher requires the 'requests' package; use "
                "SyntheticFetcher in offline environments"
            ) from exc
        open_reader = functools.partial(
            _http_reader, self.timeout_s, list(self.user_agents),
            self.proxies, self.cookies,
        )
        return reader_fetch(scheduled, open_reader, self, HTTP_CHUNK_SIZE)


class ProceduralFetcher:
    """Deterministic fetcher that synthesizes the response from the URL
    itself inside the Arrow worker — no site table, no I/O.

    The bench stand-in for network fetch at 10^6..10^10 frontier scale:
    every URL yields a valid two-item JSON envelope (parse does real work),
    cost is pure CPU, and results are reproducible at any N.
    """

    def __init__(self, items_per_page: int = 2, partitions: int | None = None,
                 colocate_hosts: bool = True):
        self.items_per_page = items_per_page
        self.partitions = partitions
        self.colocate_hosts = colocate_hosts

    def fetch(self, scheduled: DataFrame) -> DataFrame:
        out_schema = fetched_schema(scheduled.schema)
        out_cols = [f.name for f in out_schema.fields]
        k = self.items_per_page

        # the body template around each of the k url references, flattened
        # so the whole batch synthesizes as ONE native Arrow element-wise
        # join (guide §4.2: vectorized kernels, not per-row Python) —
        # byte-identical to the original per-row f-string construction
        pieces: list[str] = ['{"code": 0, "message": "ok", "data": {"list": [']
        for i in range(k):
            if i:
                pieces[-1] += ", "
            pieces[-1] += '{"id": "'
            pieces += [
                f'#item{i}", "title": "t{i}", "desc": "desc of ',
                f" item {i}\", \"images\": [\"",
                f'/img{i}.jpg"], "videos": []}}',
            ]
        pieces[-1] += '], "out_links": []}}'

        def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            import pyarrow as pa
            import pyarrow.compute as pc

            for pdf in batches:
                if len(pdf) == 0:
                    continue
                u = pa.array(pdf["url"], type=pa.string())
                args: list = [pieces[0]]
                for tail in pieces[1:]:
                    args += [u, tail]
                bodies = pc.binary_join_element_wise(*args, "").to_pandas()
                yield with_fetch_columns(
                    pdf, out_cols, status=[200] * len(pdf), body=bodies,
                    latency_ms=[1] * len(pdf),
                )

        scheduled = partition_for_fetch(
            scheduled, self.partitions, self.colocate_hosts
        )
        return scheduled.mapInPandas(run, schema=out_schema)
