"""Unified CLI — the Spark-first analog of the reference's click surface.

The reference ships its whole UX as ``python -m spiders_for_all`` click
groups (reference __main__.py:1-18).  This module maps each verb onto the
library's DataFrame plans so a reference user can switch tool-for-tool:

=====================  ====================================================
reference command      here
=====================  ====================================================
``bilibili list`` /    ``list`` — every registered catalog query (name,
``xhs list``           oracle flag, one-line doc), spiders/bilibili/cli.py:95
``bilibili             ``crawl`` — the engine round loop over a parquet
run-spider NAME``      site (or ``--synthetic``), spiders/bilibili/cli.py:47
``bilibili             ``query NAME --limit N`` — run a catalog plan and
data-analysis -n -t``  show/save top rows, spiders/bilibili/cli.py:102-111
``download-by-sql``    ``download-by-sql SQL`` — S7 select -> S6 chunked
(bilibili/cli.py:290,  media fetch with failover -> K3 file sink; only
xhs/cli.py:129)        media *paths* travel through the plan
``download-by-ids``    ``download-by-ids IDS`` — inline separated list OR
(bilibili/cli.py:191)  a file path, parsed by the S8 id-list source
``download-by-author`` ``download-by-host HOST`` — the site model's
(bilibili/cli.py:261)  grouping key is the host: fetch all its media
(no reference analog)  ``maintain`` — compaction + snapshot expiry
(no reference analog)  ``curate`` — corpus freeze: dedup ->
                       decontaminate -> quality floor -> stratified
                       sample -> split -> training shards + pack manifest
``database sql``       ``sql`` — passthrough over sf-dir parquet views
(database/cli.py:90)   and/or warehouse snapshot tables
``database             ``list-schema`` — table -> schema/snapshot listing
list-schema``          (database/cli.py:153)
=====================  ====================================================

Every command is a thin argparse front over library functions; all heavy
work stays in Catalyst plans (no driver-side row loops — exports go
through ``df.write``, never ``collect()``).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def build_session(app: str = "spiders_for_all_spark",
                  master: str | None = None) -> SparkSession:
    """Session defaults shared with jobs/crawl_job.py (tmpfs shuffle,
    one Arrow batch per fetch task).  ``getOrCreate`` reuses an active
    session (tests, notebooks) instead of stomping it."""
    b = SparkSession.builder.appName(app)
    if master:
        b = b.master(master)
    return (
        b.config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "50000")
        .config(
            "spark.local.dir",
            os.environ.get(
                "SPARK_LOCAL_DIRS",
                "/dev/shm/spark-local" if os.path.isdir("/dev/shm") else "/tmp",
            ),
        )
        .getOrCreate()
    )


def register_views(spark: SparkSession, sf_dir: str | None = None,
                   warehouse: str | None = None) -> list[str]:
    """Expose data as temp views for ``sql`` / ``download-by-sql``.

    sf_dir: every ``<name>.parquet`` becomes a view ``<name>``.
    warehouse: every committed snapshot table becomes a view (MoR tables
    resolve last-writer-wins exactly as ``SnapshotStorage.read`` does).
    """
    names: list[str] = []
    if sf_dir:
        for fn in sorted(os.listdir(sf_dir)):
            if fn.endswith(".parquet"):
                name = fn[: -len(".parquet")]
                spark.read.parquet(os.path.join(sf_dir, fn)) \
                    .createOrReplaceTempView(name)
                names.append(name)
    if warehouse:
        from spiders_for_all_spark.storage import SnapshotStorage

        storage = SnapshotStorage(spark, warehouse)
        for name in storage.tables():
            storage.read(name).createOrReplaceTempView(name)
            names.append(name)
    return names


def _emit(df: DataFrame, fmt: str, out: str | None, limit: int | None) -> None:
    """Show or save a result.  Saving goes through ``df.write`` (a
    distributed directory sink — the scale-correct export; the reference
    exports row-at-a-time through the ORM, core/spider.py:191-236)."""
    if limit is not None:
        df = df.limit(limit)
    if out is None:
        df.show(limit or 20, truncate=False)
        return
    writer = df.write.mode("overwrite")
    if fmt == "csv":
        writer.option("header", "true").csv(out)
    elif fmt == "json":
        writer.json(out)
    else:
        writer.parquet(out)
    print(f"wrote {fmt} -> {out}")


# ---------------------------------------------------------------- commands


def cmd_list(_ns: argparse.Namespace) -> int:
    """`list` — the catalog is the query library's spider registry."""
    from spiders_for_all_spark.plans.catalog import ORACLES, QUERIES

    for name in sorted(QUERIES):
        doc = (QUERIES[name].__doc__ or "").strip().splitlines()
        first = doc[0] if doc else ""
        mark = "oracle" if name in ORACLES else "rows-only"
        print(f"{name:34s} [{mark:9s}] {first}")
    print(f"\n{len(QUERIES)} queries, {len(ORACLES)} with DuckDB oracles")
    return 0


def cmd_query(ns: argparse.Namespace) -> int:
    from spiders_for_all_spark.plans.catalog import QUERIES

    if ns.name not in QUERIES:
        print(f"unknown query {ns.name!r} — see `list`", file=sys.stderr)
        return 2
    spark = build_session(master=ns.master)
    df = QUERIES[ns.name](spark, ns.sf_dir)
    _emit(df, ns.format, ns.out, ns.limit)
    return 0


def cmd_sql(ns: argparse.Namespace) -> int:
    spark = build_session(master=ns.master)
    register_views(spark, ns.sf_dir, ns.warehouse)
    df = spark.sql(ns.sql)
    if not df.columns:  # DDL/utility statements return no schema
        print("OK")
        return 0
    _emit(df, ns.format, ns.out, ns.limit)
    return 0


def cmd_list_schema(ns: argparse.Namespace) -> int:
    spark = build_session(master=ns.master)
    if ns.sf_dir:
        for fn in sorted(os.listdir(ns.sf_dir)):
            if fn.endswith(".parquet"):
                df = spark.read.parquet(os.path.join(ns.sf_dir, fn))
                print(f"{fn[:-8]:14s} {df.schema.simpleString()}")
    if ns.warehouse:
        from spiders_for_all_spark.storage import SnapshotStorage

        storage = SnapshotStorage(spark, ns.warehouse)
        for name in storage.tables():
            snap = storage.latest_snapshot(name)
            schema = storage.read(name).schema.simpleString()
            print(f"{name:14s} snap={snap} {schema}")
    return 0


def add_crawl_args(ap: argparse.ArgumentParser) -> None:
    """Shared with jobs/crawl_job.py (the spark-submit entry)."""
    ap.add_argument("--site", help="parquet site for the synthetic fetcher")
    ap.add_argument("--seeds", help="text file of seed URLs")
    ap.add_argument(
        "--spider",
        action="append",
        default=None,
        metavar="NAME",
        help="named spider from the seed catalog (name or alias; "
        "repeatable) — see the 'spiders' verb for the list",
    )
    ap.add_argument("--warehouse", default=None)
    ap.add_argument("--budget", type=int, default=2)
    ap.add_argument("--rounds", type=int, default=30)
    ap.add_argument("--bloom", action="store_true",
                    help="partitioned bloom seen-prefilter")
    ap.add_argument("--cuckoo", action="store_true",
                    help="deletable cuckoo seen-prefilter (re-crawl eviction)")
    ap.add_argument("--salt-n", type=int, default=1)
    ap.add_argument("--synthetic", action="store_true",
                    help="generate a deterministic site + seeds")


def run_crawl(spark: SparkSession, ns: argparse.Namespace) -> dict:
    """Engine round loop; returns the summary dict the job prints.

    Reference lifecycle (SURVEY §3.1): crawl -> validate -> extract ->
    store; here rounds commit atomically via stage_*/commit_multi."""
    from spiders_for_all_spark import fixtures as FX
    from spiders_for_all_spark.engine import Crawler, CrawlConfig
    from spiders_for_all_spark.sources.fetcher import SyntheticFetcher
    from spiders_for_all_spark.sources.idlist import ids_from_text_file
    from spiders_for_all_spark.storage import SnapshotStorage

    if ns.synthetic:
        rows, seeds = FX.build_site(n_hosts=4, pages_per_chain=3, seed=42)
        site = os.path.join(tempfile.mkdtemp(prefix="sfas_job_"),
                            "pages.parquet")
        FX.write_site(rows, site)
    else:
        site = ns.site
        seeds = []
        if ns.seeds:
            seed_urls = [
                r["id"] for r in ids_from_text_file(spark, ns.seeds).collect()
            ]
            seeds = [{"url": u, "priority": 0} for u in seed_urls]
        if getattr(ns, "spider", None):
            from spiders_for_all_spark.sources.seed_catalog import seeds_for

            try:
                seeds.extend(seeds_for(ns.spider))
            except KeyError as exc:
                raise SystemExit(str(exc)) from None
        if not seeds:
            raise SystemExit(
                "crawl: need --seeds, --spider, or --synthetic"
            )

    warehouse = ns.warehouse or tempfile.mkdtemp(prefix="sfas_wh_")
    storage = SnapshotStorage(spark, warehouse)
    crawler = Crawler(
        spark,
        storage,
        SyntheticFetcher(site),
        CrawlConfig(
            max_rounds=ns.rounds,
            default_budget=ns.budget,
            use_bloom=ns.bloom,
            use_cuckoo=ns.cuckoo,
            salt_n=ns.salt_n,
        ),
    )
    stats = crawler.run(seeds=seeds)
    return {
        "rounds": len(stats.rounds),
        "fetched": stats.total_fetched,
        "documents": storage.read("documents").count(),
        "warehouse": warehouse,
    }


def cmd_spiders(_ns: argparse.Namespace) -> int:
    """List the named fixed-endpoint spiders (reference: 27 rank/popular
    classes registered by name AND alias, core/spider.py:122-131)."""
    from spiders_for_all_spark.sources.seed_catalog import SPIDER_SEEDS

    for s in SPIDER_SEEDS:
        pag = f" paginated(size={s.page_size})" if s.paginated else ""
        print(f"{s.name:18s} {s.alias:8s} {s.platform}{pag}  {s.seed_url}")
    return 0


def cmd_crawl(ns: argparse.Namespace) -> int:
    spark = build_session("spiders_for_all_spark-crawl", master=ns.master)
    spark.sparkContext.setLogLevel("WARN")
    print(json.dumps(run_crawl(spark, ns)))
    return 0


def _fetch_media(ns: argparse.Namespace, sel: DataFrame) -> int:
    """Shared tail of every download verb: S6 chunked fetch with ordered
    backup failover -> K3 file sink.  Bytes stream to ``--save-dir``
    inside the fetch workers; the returned plan carries only paths +
    accounting (media_ref, n_chunks, bytes_fetched, media_path) — the
    reference instead downloads driver-side with a thread pool
    (spiders/bilibili/cli.py:290-326, core/downloader.py:436-487)."""
    from spiders_for_all_spark.functions.urls import url_host
    from spiders_for_all_spark.sources.fetcher import SyntheticFetcher

    if "url" not in sel.columns:
        print("selection must yield a `url` column", file=sys.stderr)
        return 2
    scheduled = sel.withColumn("kind", F.lit("media")) \
        .withColumn("attempt", F.lit(0)) \
        .withColumn("host", url_host(F.col("url")))
    fetcher = SyntheticFetcher(ns.site, media_sink_dir=ns.save_dir)
    fetched = fetcher.fetch(scheduled).select(
        "url", "status", "error", "media_ref", "n_chunks",
        "bytes_fetched", "media_path",
    )
    _emit(fetched, ns.format, ns.out, ns.limit)
    return 0


def cmd_download_by_sql(ns: argparse.Namespace) -> int:
    """S7 SQL select feeding the media fetch (reference ``download-by-sql``,
    bilibili/cli.py:290, xhs/cli.py:129)."""
    spark = build_session(master=ns.master)
    register_views(spark, ns.sf_dir, ns.warehouse)
    if ns.site:
        spark.read.parquet(ns.site).createOrReplaceTempView("site")
    return _fetch_media(ns, spark.sql(ns.sql))


def cmd_download_by_ids(ns: argparse.Namespace) -> int:
    """Reference ``download-by-ids`` (bilibili/cli.py:191-230): the ids
    argument is either an inline ``,``/space/newline-separated list or a
    path to a file of ids — both parsed by the S8 id-list source."""
    from spiders_for_all_spark.sources.idlist import (
        ids_from_string, ids_from_text_file,
    )

    spark = build_session(master=ns.master)
    src = (ids_from_text_file(spark, ns.ids) if os.path.isfile(ns.ids)
           else ids_from_string(spark, ns.ids))
    return _fetch_media(ns, src.select(F.col("id").alias("url")))


def cmd_download_by_host(ns: argparse.Namespace) -> int:
    """Spark-first analog of ``download-by-author`` (bilibili/cli.py:261):
    the reference resolves an author to their video list then downloads
    it; here the grouping key in the site model is the host, so this
    selects every media URL under one host and fetches it."""
    spark = build_session(master=ns.master)
    site = spark.read.parquet(ns.site)
    sel = site.filter(
        (F.col("kind") == "media")
        & F.col("url").startswith(f"https://{ns.host}/")
    ).select("url")
    return _fetch_media(ns, sel)


def _corpus_docs(spark: SparkSession, ns: argparse.Namespace) -> DataFrame:
    """documents as (doc_id, text[, lang]) from either source: an sf-dir
    parquet (columns already flat) or a crawl warehouse (span text
    concatenated in document order)."""
    if ns.sf_dir:
        d = spark.read.parquet(os.path.join(ns.sf_dir, "documents.parquet"))
        return d.select(
            F.col("doc_id").cast("string").alias("doc_id"),
            "text",
            "lang",
            "source",
        )
    from spiders_for_all_spark.storage import SnapshotStorage

    storage = SnapshotStorage(spark, ns.warehouse)
    return (
        storage.read("documents")
        .select(
            "doc_id",
            F.concat_ws(
                " ", F.transform("spans", lambda s: s["text"])
            ).alias("text"),
        )
        .filter(F.length("text") > 0)
    )


def _parse_split_spec(spec: str) -> list[tuple[str, float]]:
    """Validate a ``train:0.9,val:0.05,...`` --split spec.

    A malformed part or fractions summing above 1.0 exit with a clear
    message instead of an IndexError traceback / a silently-starved last
    split (split_assign gives the LAST split the rounding remainder, so
    an over-committed prefix would leave it empty) — ADVICE r4.
    """
    weights: list[tuple[str, float]] = []
    for part in spec.split(","):
        name, sep, frac_s = part.partition(":")
        if not sep or not name.strip() or not frac_s.strip():
            raise SystemExit(
                f"--split: malformed part {part!r} (expected name:fraction)"
            )
        try:
            frac = float(frac_s)
        except ValueError:
            raise SystemExit(
                f"--split: fraction {frac_s!r} in part {part!r} is not a number"
            ) from None
        if not 0.0 < frac <= 1.0:
            raise SystemExit(
                f"--split: fraction {frac} in part {part!r} must be in (0, 1]"
            )
        weights.append((name.strip(), frac))
    total = sum(f for _, f in weights)
    if total > 1.0 + 1e-9:
        raise SystemExit(
            f"--split: fractions sum to {total:g} > 1.0 — the last split "
            "would be starved"
        )
    return weights


def cmd_curate(ns: argparse.Namespace) -> int:
    """`curate` — the corpus-freeze pipeline over crawled documents:
    near-dedup -> optional eval-set decontamination -> quality floor ->
    optional seeded stratified sample (operators/curation.py).  The
    reference stores raw scraped rows with no curation stage at all."""
    from spiders_for_all_spark.operators.curation import curate_corpus

    if not ns.sf_dir and not ns.warehouse:
        print("curate needs --sf-dir or --warehouse", file=sys.stderr)
        return 2
    spark = build_session(master=ns.master)
    docs = _corpus_docs(spark, ns)
    eval_docs = (
        spark.read.parquet(ns.eval).select(
            F.col("doc_id").cast("string").alias("doc_id"), "text"
        )
        if ns.eval
        else None
    )
    blocklist = None
    if ns.blocklist:
        reader = spark.read
        blocklist = (
            reader.parquet(ns.blocklist)
            if ns.blocklist.endswith(".parquet")
            else reader.option("header", "true").csv(ns.blocklist)
        )
        if "host" not in docs.columns:
            # best-effort host: sf-dir corpora carry source; crawled docs
            # may use URL doc_ids — suffix matching works on either
            from spiders_for_all_spark.functions.urls import url_host

            docs = docs.withColumn(
                "host",
                F.col("source")
                if "source" in docs.columns
                else url_host(F.col("doc_id")),
            )
    curated = curate_corpus(
        docs,
        eval_docs=eval_docs,
        min_quality=ns.min_quality,
        sample_k=ns.sample_k,
        decon_shingle_n=ns.decon_ngram,
        blocklist=blocklist,
        repetition_filter=ns.repetition_filter,
        gopher=ns.gopher,
        passage_n=ns.passage_dedup,
        scrub_pii=ns.scrub_pii,
        substring_k=ns.substring_dedup,
        min_lm_bits=ns.min_lm_bits,
        max_lm_bits=ns.max_lm_bits,
        lm_train_df=(
            spark.read.parquet(ns.lm_train) if ns.lm_train else None
        ),
        dsir_target_df=(
            spark.read.parquet(ns.dsir_target) if ns.dsir_target else None
        ),
        min_dsir_logratio=ns.min_dsir_logratio,
    )
    if ns.token_budget:
        from spiders_for_all_spark.operators.packing import (
            token_budget_sample,
        )

        keep = token_budget_sample(curated, ns.token_budget).select("doc_id")
        curated = curated.join(keep, on="doc_id", how="left_semi")
    if ns.split:
        from spiders_for_all_spark.operators.export import split_assign

        curated = split_assign(
            curated, _parse_split_spec(ns.split), seed=ns.seed
        )
    if ns.out:
        curated.write.mode("overwrite").parquet(ns.out)
        stats = {
            "in_docs": docs.count(),
            "out_docs": spark.read.parquet(ns.out).count(),
            "out": ns.out,
        }
        if ns.export_shards:
            from spiders_for_all_spark.operators.export import (
                shard_manifest,
                write_shards,
            )

            frozen = spark.read.parquet(ns.out)
            if "split" in frozen.columns:
                frozen = frozen.filter(F.col("split") == "train")
            write_shards(
                frozen, ns.out + "_shards", ns.export_shards, seed=ns.seed
            )
            shard_manifest(
                frozen, ns.export_shards, seed=ns.seed
            ).write.mode("overwrite").parquet(ns.out + "_shard_manifest")
            stats["shards"] = ns.export_shards
            stats["shards_out"] = ns.out + "_shards"
            stats["shard_manifest"] = ns.out + "_shard_manifest"
        if ns.pack_seq_len:
            from spiders_for_all_spark.operators.packing import (
                pack_manifest,
                pack_sequences,
            )

            frozen = spark.read.parquet(ns.out)
            packed = pack_sequences(frozen, seq_len=ns.pack_seq_len)
            manifest = pack_manifest(packed, seq_len=ns.pack_seq_len)
            manifest.write.mode("overwrite").parquet(ns.out + "_manifest")
            n_seqs = (
                spark.read.parquet(ns.out + "_manifest")
                .select("seq_id")
                .distinct()
                .count()
            )
            stats["pack_seq_len"] = ns.pack_seq_len
            stats["n_sequences"] = n_seqs
            stats["manifest"] = ns.out + "_manifest"
        print(json.dumps(stats))
    else:
        _emit(curated, ns.format, None, ns.limit)
    return 0


def cmd_maintain(ns: argparse.Namespace) -> int:
    """Warehouse maintenance: size-tiered compaction (MoR delta fold for
    merge tables) + snapshot expiry, per table, one JSON summary line.
    The reference has no storage maintenance at all (SQLite ORM)."""
    from spiders_for_all_spark.storage import SnapshotStorage

    spark = build_session(master=ns.master)
    storage = SnapshotStorage(spark, ns.warehouse)
    summary = {}
    for table in storage.tables():
        snap = storage.compact(table)
        expired = storage.expire_snapshots(table, keep_last=ns.keep_last)
        summary[table] = {
            "snap": snap,
            "data_dirs": storage.n_data_dirs(table),
            "expired": len(expired),
        }
    print(json.dumps(summary))
    return 0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(
        prog="python -m spiders_for_all_spark",
        description=__doc__.splitlines()[0],
    )
    ap.add_argument("--master", default=None,
                    help="Spark master (default: inherit / local[*])")
    sub = ap.add_subparsers(dest="cmd", required=True)

    sub.add_parser("list", help="registered catalog queries")

    q = sub.add_parser("query", help="run a catalog query by name")
    q.add_argument("name")
    dl_common = [q]

    s = sub.add_parser("sql", help="SQL over sf-dir/warehouse views (S7)")
    s.add_argument("sql")
    dl_common.append(s)

    ls = sub.add_parser("list-schema", help="table schemas")
    ls.add_argument("--sf-dir", default=None)
    ls.add_argument("--warehouse", default=None)

    c = sub.add_parser("crawl", help="run the crawl engine")
    add_crawl_args(c)

    sub.add_parser(
        "spiders",
        help="named fixed-endpoint spiders from the seed catalog "
        "(usable as crawl --spider NAME)",
    )

    d = sub.add_parser(
        "download-by-sql",
        help="fetch media for SQL-selected URLs into a file sink",
    )
    d.add_argument("sql")
    dl_common.append(d)

    di = sub.add_parser(
        "download-by-ids",
        help="fetch media for an inline id list or an id file (S8 source)",
    )
    di.add_argument("ids", help="separated URL list, or a path to a file")
    dl_common.append(di)

    dh = sub.add_parser(
        "download-by-host",
        help="fetch every media URL under one host (≙ download-by-author)",
    )
    dh.add_argument("host")
    dl_common.append(dh)

    for p in (d, di, dh):
        p.add_argument("--site", required=True,
                       help="parquet site the synthetic fetcher reads")
        p.add_argument("--save-dir", required=True)

    m = sub.add_parser(
        "maintain", help="compact + expire snapshots for a warehouse",
    )
    m.add_argument("--warehouse", required=True)
    m.add_argument("--keep-last", type=int, default=2)

    cu = sub.add_parser(
        "curate",
        help="corpus freeze: dedup -> decontaminate -> quality -> sample",
    )
    cu.add_argument("--sf-dir", default=None,
                    help="flat documents.parquet dir (doc_id, text, lang)")
    cu.add_argument("--warehouse", default=None,
                    help="crawl warehouse (span text concatenated)")
    cu.add_argument("--eval", default=None,
                    help="parquet of eval docs to decontaminate against")
    cu.add_argument("--decon-ngram", type=int, default=13,
                    help="collision n-gram size (GPT-3 uses 13)")
    cu.add_argument("--min-quality", type=float, default=None)
    cu.add_argument("--sample-k", type=int, default=None,
                    help="seeded exact-k per-language sample")
    cu.add_argument("--blocklist", default=None,
                    help="parquet/csv of blocked domain suffixes (col: domain)")
    cu.add_argument("--gopher", action="store_true",
                    help="apply the seven Gopher/MassiveWeb doc-quality "
                         "rules (expression-only, pre-dedup)")
    cu.add_argument("--repetition-filter", action="store_true",
                    help="drop Gopher-style repetitious documents")
    cu.add_argument("--passage-dedup", type=int, default=None, metavar="N",
                    help="passage-level exact dedup on an N-word grid")
    cu.add_argument("--scrub-pii", action="store_true",
                    help="redact emails/IPs/phones in the frozen text")
    cu.add_argument("--substring-dedup", type=int, default=None, metavar="K",
                    help="sliding-window exact-substring scrub: remove "
                         "corpus-duplicated K-word windows at any offset "
                         "(keeper copy preserved)")
    cu.add_argument("--min-lm-bits", type=float, default=None,
                    help="drop docs below this bigram-LM bits/token "
                         "(boilerplate)")
    cu.add_argument("--max-lm-bits", type=float, default=None,
                    help="drop docs above this bigram-LM bits/token (noise)")
    cu.add_argument("--lm-train", default=None, metavar="PARQUET",
                    help="train the LM band's bigram counts on this "
                         "held-out corpus (doc_id, text) instead of "
                         "self-scoring")
    cu.add_argument("--dsir-target", default=None, metavar="PARQUET",
                    help="DSIR target corpus (doc_id, text): score each "
                         "doc's bigrams by log2(p_target/p_raw)")
    cu.add_argument("--min-dsir-logratio", type=float, default=None,
                    help="drop docs below this DSIR logratio/token "
                         "(requires --dsir-target)")
    cu.add_argument("--token-budget", type=int, default=None, metavar="N",
                    help="freeze a seeded N-token sample (deterministic "
                         "md5 stream order, straddling doc kept) before "
                         "splitting/packing")
    cu.add_argument("--pack-seq-len", type=int, default=None, metavar="L",
                    help="also write the L-token sequence-packing manifest "
                         "next to --out (concatenate-and-chunk)")
    cu.add_argument("--split", default=None, metavar="SPEC",
                    help="deterministic split spec, e.g. "
                         "train:0.9,val:0.05,test:0.05 (adds a split column "
                         "to --out)")
    cu.add_argument("--export-shards", type=int, default=None, metavar="N",
                    help="also write the train split (or whole freeze "
                         "without --split) as N training shards next to "
                         "--out: one file per shard, baked-in seeded order, "
                         "per-shard integrity manifest")
    cu.add_argument("--seed", default="s0",
                    help="seed for split/shard/order draws (default s0)")
    cu.add_argument("--out", default=None, help="curated parquet sink")
    cu.add_argument("--limit", type=int, default=None)
    cu.add_argument("--format", default="table")

    for p in dl_common:
        p.add_argument("--sf-dir", default=None,
                       help="driver testdata dir to register as views")
        p.add_argument("--warehouse", default=None,
                       help="snapshot warehouse to register as views")
        p.add_argument("--limit", type=int, default=None)
        p.add_argument("--format", choices=["table", "csv", "json", "parquet"],
                       default="table")
        p.add_argument("--out", default=None,
                       help="directory sink for csv/json/parquet export")

    ns = ap.parse_args(argv)
    return {
        "list": cmd_list,
        "query": cmd_query,
        "sql": cmd_sql,
        "list-schema": cmd_list_schema,
        "crawl": cmd_crawl,
        "spiders": cmd_spiders,
        "download-by-sql": cmd_download_by_sql,
        "download-by-ids": cmd_download_by_ids,
        "download-by-host": cmd_download_by_host,
        "maintain": cmd_maintain,
        "curate": cmd_curate,
    }[ns.cmd](ns)


if __name__ == "__main__":
    raise SystemExit(main())
