"""CLI surface (cli.py) — the reference's click-group UX mapped to Spark.

Each test drives ``main(argv)`` in-process; ``build_session`` getOrCreate's
the shared test session, so no extra JVM is spawned.
"""

from __future__ import annotations

import json
import os
import tempfile

import pytest

from spiders_for_all_spark import fixtures as FX
from spiders_for_all_spark.cli import main

SF_DIR = "/root/testdata/sf0.001"

pytestmark = pytest.mark.usefixtures("spark")


def test_list_prints_catalog(capsys):
    assert main(["list"]) == 0
    out = capsys.readouterr().out
    assert "dedup_minhash_lsh" in out
    assert "[oracle" in out
    assert "queries" in out.splitlines()[-1]


def test_query_unknown_name_is_error(capsys):
    assert main(["query", "no_such_query", "--sf-dir", SF_DIR]) == 2


def test_query_export_csv(spark, tmp_path):
    out = str(tmp_path / "q1_csv")
    assert main([
        "query", "tpch_q1", "--sf-dir", SF_DIR,
        "--format", "csv", "--out", out,
    ]) == 0
    back = spark.read.option("header", "true").csv(out)
    assert back.count() > 0
    assert "l_returnflag" in back.columns


def test_sql_passthrough_over_sf_views(capsys):
    assert main([
        "sql", "SELECT count(*) AS n_regions FROM region",
        "--sf-dir", SF_DIR,
    ]) == 0
    out = capsys.readouterr().out
    assert "n_regions" in out
    assert "5" in out


def test_list_schema_sf_dir(capsys):
    assert main(["list-schema", "--sf-dir", SF_DIR]) == 0
    out = capsys.readouterr().out
    assert "documents" in out
    assert "struct<" in out


@pytest.mark.parametrize(
    "flags", [[], ["--bloom"], ["--cuckoo"]], ids=["exact", "bloom", "cuckoo"]
)
def test_crawl_synthetic_and_warehouse_schema(capsys, tmp_path, flags):
    from spiders_for_all_spark.simulator import simulate

    wh = str(tmp_path / "wh")
    assert main([
        "crawl", "--synthetic", "--rounds", "4", "--warehouse", wh, *flags,
    ]) == 0
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary["documents"] > 0
    assert summary["rounds"] >= 1
    # every seen-filter mode fetches what the reference-semantics model
    # fetches for the same synthetic site, budget and round limit
    rows, seeds = FX.build_site(n_hosts=4, pages_per_chain=3, seed=42)
    sim = simulate(FX.site_index(rows), seeds, max_rounds=4, default_budget=2)
    assert summary["fetched"] == len(sim.visits)

    assert main(["list-schema", "--warehouse", wh]) == 0
    out = capsys.readouterr().out
    assert "documents" in out and "fetch_log" in out and "snap=" in out
    tables = {line.split()[0] for line in out.splitlines() if " snap=" in line}
    assert {"bloom", "cuckoo"} & tables == {f[2:] for f in flags}


def test_download_by_sql_streams_to_file_sink(spark, tmp_path):
    rows, _seeds = FX.build_site(n_hosts=2, pages_per_chain=2, seed=11)
    site = os.path.join(tempfile.mkdtemp(), "pages.parquet")
    FX.write_site(rows, site)
    save_dir = str(tmp_path / "media")
    out = str(tmp_path / "report")
    assert main([
        "download-by-sql",
        "SELECT url FROM site WHERE url LIKE '%/media/%'",
        "--site", site, "--save-dir", save_dir,
        "--format", "json", "--out", out,
    ]) == 0
    files = os.listdir(save_dir)
    assert files, "no media files written by the sink"
    report = spark.read.json(out)
    ok = report.filter("status = 200")
    assert ok.count() == len(files)
    row = ok.first()
    assert row["media_path"].startswith(save_dir)
    assert row["bytes_fetched"] > 0


def test_download_by_ids_inline_and_file(spark, tmp_path):
    rows, _ = FX.build_site(n_hosts=2, pages_per_chain=2, seed=12)
    site = os.path.join(tempfile.mkdtemp(), "pages.parquet")
    FX.write_site(rows, site)
    media = [r["url"] for r in rows if r["kind"] == "media"][:3]

    save_inline = str(tmp_path / "m_inline")
    assert main([
        "download-by-ids", ",".join(media),
        "--site", site, "--save-dir", save_inline,
        "--format", "parquet", "--out", str(tmp_path / "rep_inline"),
    ]) == 0
    assert len(os.listdir(save_inline)) == len(media)

    ids_file = tmp_path / "ids.txt"
    ids_file.write_text("\n".join(media) + "\n")
    save_file = str(tmp_path / "m_file")
    assert main([
        "download-by-ids", str(ids_file),
        "--site", site, "--save-dir", save_file,
        "--format", "parquet", "--out", str(tmp_path / "rep_file"),
    ]) == 0
    # both input forms hit the same S8 parse -> identical sink contents
    assert sorted(os.listdir(save_file)) == sorted(os.listdir(save_inline))
    rep = spark.read.parquet(str(tmp_path / "rep_file"))
    assert rep.filter("status = 200").count() == len(media)


def test_download_by_host_fetches_all_host_media(spark, tmp_path):
    rows, _ = FX.build_site(n_hosts=2, pages_per_chain=2, seed=13)
    site = os.path.join(tempfile.mkdtemp(), "pages.parquet")
    FX.write_site(rows, site)
    hosts = sorted({r["url"].split("/")[2] for r in rows})
    host = hosts[0]
    expect = [r["url"] for r in rows
              if r["kind"] == "media" and r["url"].split("/")[2] == host]
    save = str(tmp_path / "m_host")
    assert main([
        "download-by-host", host, "--site", site, "--save-dir", save,
        "--format", "parquet", "--out", str(tmp_path / "rep_host"),
    ]) == 0
    assert len(os.listdir(save)) == len(expect) > 0


def test_maintain_compacts_and_expires(capsys, tmp_path):
    wh = str(tmp_path / "wh")
    assert main([
        "crawl", "--synthetic", "--rounds", "5", "--warehouse", wh,
    ]) == 0
    capsys.readouterr()
    assert main(["maintain", "--warehouse", wh, "--keep-last", "1"]) == 0
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert "fetch_log" in summary and "documents" in summary
    # 5 appended rounds + init fold into few dirs; old snapshots dropped
    assert summary["fetch_log"]["data_dirs"] <= 3
    assert summary["fetch_log"]["expired"] >= 1
    # warehouse still readable after maintenance, same row counts
    from spiders_for_all_spark.cli import build_session
    from spiders_for_all_spark.storage import SnapshotStorage

    storage = SnapshotStorage(build_session(), wh)
    assert storage.read("documents").count() > 0
    assert storage.read("fetch_log").count() > 0


def test_download_by_sql_requires_url_column(tmp_path):
    rows, _ = FX.build_site(n_hosts=1, pages_per_chain=1, seed=1)
    site = os.path.join(tempfile.mkdtemp(), "pages.parquet")
    FX.write_site(rows, site)
    assert main([
        "download-by-sql", "SELECT 1 AS x",
        "--site", site, "--save-dir", str(tmp_path / "m"),
    ]) == 2


def test_curate_corpus_freeze(spark, capsys, tmp_path):
    """curate over the sf documents: dedup + decontamination + quality
    floor + seeded sample compose into one written corpus."""
    # eval set = two real docs copied out of the corpus, so decontamination
    # must flag their near-verbatim sources
    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    eval_path = str(tmp_path / "eval")
    docs.limit(2).select("doc_id", "text").write.parquet(eval_path)
    out = str(tmp_path / "curated")
    assert main([
        "curate", "--sf-dir", SF_DIR, "--eval", eval_path,
        "--decon-ngram", "3", "--min-quality", "0.1",
        "--sample-k", "3", "--out", out,
    ]) == 0
    stats = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert stats["in_docs"] == docs.count()
    curated = spark.read.parquet(out)
    n = curated.count()
    assert 0 < n == stats["out_docs"] <= stats["in_docs"]
    # sample-k bound: at most 3 docs per language survive
    per_lang = curated.groupBy("lang").count().collect()
    assert all(r["count"] <= 3 for r in per_lang)
    # the eval docs themselves were flagged out (they collide with
    # themselves via their source doc)
    eval_ids = {r["doc_id"] for r in spark.read.parquet(eval_path)
                .select("doc_id").collect()}
    kept = {r["doc_id"] for r in curated.select(
        curated.doc_id.cast("string").alias("doc_id")).collect()}
    assert not (eval_ids & {str(k) for k in kept})


def test_curate_requires_source(capsys):
    assert main(["curate"]) == 2


def test_curate_pack_manifest(spark, capsys, tmp_path):
    """curate --pack-seq-len writes the packing manifest next to the
    frozen corpus and reports the sequence count."""
    out = str(tmp_path / "frozen")
    assert main([
        "curate", "--sf-dir", SF_DIR, "--min-quality", "0.1",
        "--pack-seq-len", "128", "--out", out,
    ]) == 0
    stats = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert stats["pack_seq_len"] == 128
    man = spark.read.parquet(stats["manifest"])
    import pyspark.sql.functions as F
    per_seq = man.groupBy("seq_id").agg(F.sum("n_tok_in_seq").alias("s"))
    n_seqs = per_seq.count()
    assert stats["n_sequences"] == n_seqs
    # every sequence except at most one is exactly full
    assert per_seq.filter(F.col("s") == 128).count() >= n_seqs - 1


def test_curate_split_and_export_shards(spark, capsys, tmp_path):
    """curate --split --export-shards: the freeze carries a split column
    and the train split lands as one in-order file per shard plus a
    manifest whose fingerprints match the shard files."""
    import glob
    import hashlib

    out = str(tmp_path / "frozen")
    assert main([
        "curate", "--sf-dir", SF_DIR,
        "--split", "train:0.8,val:0.1,test:0.1",
        "--export-shards", "2", "--out", out,
    ]) == 0
    stats = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert stats["shards"] == 2
    frozen = spark.read.parquet(out)
    assert set(
        r["split"] for r in frozen.select("split").distinct().collect()
    ) <= {"train", "val", "test"}
    man = {r["shard"]: r for r in
           spark.read.parquet(stats["shard_manifest"]).collect()}
    n_train = frozen.filter(frozen.split == "train").count()
    assert sum(m["n_docs"] for m in man.values()) == n_train
    for shard in range(2):
        files = glob.glob(f"{stats['shards_out']}/shard={shard}/*.parquet")
        assert len(files) == 1
        rows = spark.read.parquet(files[0]).orderBy("shard_pos").collect()
        fp = hashlib.md5(
            ",".join(str(r["doc_id"]) for r in rows).encode()
        ).hexdigest()
        assert fp == man[shard]["order_fp"]


def test_curate_substring_and_lm_flags(spark, capsys, tmp_path):
    """curate --substring-dedup / --max-lm-bits pass through to the new
    cleaning stages.  The sf corpus's duplicates are whole-doc copies
    that the always-on near-dedup removes BEFORE the substring stage, so
    the frozen text stays intact here — the observable contract is (a)
    post-condition: the frozen corpus has zero remaining duplicated-gram
    removal spans, (b) a tight LM band prunes docs a loose one keeps."""
    from spiders_for_all_spark.operators.cleaning import substring_spans

    out = str(tmp_path / "frozen_sub")
    assert main([
        "curate", "--sf-dir", SF_DIR,
        "--substring-dedup", "8", "--max-lm-bits", "50",
        "--out", out,
    ]) == 0
    stats = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    curated = spark.read.parquet(out)
    assert 0 < stats["out_docs"] <= stats["in_docs"]
    assert substring_spans(curated, k=8).count() == 0

    out2 = str(tmp_path / "frozen_tight")
    assert main([
        "curate", "--sf-dir", SF_DIR,
        "--substring-dedup", "8", "--max-lm-bits", "2.0",
        "--out", out2,
    ]) == 0
    stats2 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert stats2["out_docs"] < stats["out_docs"]


def test_split_spec_validation():
    """--split specs are validated up front: malformed parts and
    over-committed fractions exit with a clear message instead of an
    IndexError traceback or a silently-starved last split (ADVICE r4)."""
    from spiders_for_all_spark.cli import _parse_split_spec

    assert _parse_split_spec("train:0.9,val:0.05,test:0.05") == [
        ("train", 0.9), ("val", 0.05), ("test", 0.05)
    ]
    for bad, msg in [
        ("train:0.9,val", "malformed"),
        ("train", "malformed"),
        (":0.9", "malformed"),
        ("train:", "malformed"),
        ("train:x", "not a number"),
        ("train:0.0", "must be in"),
        ("train:1.5", "must be in"),
        ("train:0.9,val:0.2", "sum"),
    ]:
        with pytest.raises(SystemExit, match=msg):
            _parse_split_spec(bad)


def _catalog_site(tmpdir: str) -> str:
    """Synthetic site serving two seed-catalog endpoints: popular is a
    2-page chain (full page 1 -> page 2 short), rank_all is single-shot."""
    import json as _json

    def body(items, out_links=()):
        return _json.dumps(
            {"code": 0, "message": "ok",
             "data": {"list": items, "out_links": list(out_links)}}
        )

    def items(prefix, n):
        return [
            {"id": f"{prefix}-{k}", "title": f"title {prefix}-{k}",
             "desc": "d", "images": [], "videos": []}
            for k in range(n)
        ]

    from spiders_for_all_spark.sources.seed_catalog import lookup

    pop = lookup("popular")
    ps = pop.page_size
    page1 = pop.seed_url                      # ...popular?page=1&size=<ps>
    page2 = page1.replace("page=1", "page=2")
    rank = lookup("rank_all").seed_url
    rows = [
        FX._page_row(page1, "page", body(items("pop1", ps))),  # full -> p2
        FX._page_row(page2, "page", body(items("pop2", 1))),   # short -> stop
        FX._page_row(rank, "page", body(items("rank", 3))),
    ]
    site = os.path.join(tmpdir, "pages.parquet")
    FX.write_site(rows, site)
    return site


def test_crawl_named_spiders_golden_order(spark, capsys, tmp_path):
    """S3 breadth parity: `crawl --spider popular --spider rank_all`
    resolves the declarative seed catalog (reference registers 27
    fixed-endpoint classes by name+alias, core/spider.py:122-131;
    endpoints spiders/bilibili/spiders.py:79-398) and the round loop
    reproduces the golden visit order: both seeds in round 0, popular's
    page-2 successor in round 1, rank_all single-shot."""
    site = _catalog_site(str(tmp_path))
    wh = str(tmp_path / "wh")
    assert main([
        "crawl", "--site", site, "--spider", "popular",
        "--spider", "rank_all", "--warehouse", wh, "--rounds", "5",
    ]) == 0
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary["fetched"] == 3

    from spiders_for_all_spark.cli import build_session
    from spiders_for_all_spark.storage import SnapshotStorage

    storage = SnapshotStorage(build_session(), wh)
    log = storage.read("fetch_log").select("round", "url").collect()
    by_round: dict[int, set] = {}
    for r in log:
        by_round.setdefault(r["round"], set()).add(r["url"])
    from spiders_for_all_spark.sources.seed_catalog import lookup

    page1 = lookup("popular").seed_url
    assert by_round == {
        0: {page1, lookup("rank_all").seed_url},
        1: {page1.replace("page=1", "page=2")},
    }
    # every fetched page parsed into items (ps + 1 + 3 item docs)
    docs = storage.read("documents")
    assert docs.count() == lookup("popular").page_size + 1 + 3


def test_crawl_spider_alias_resolves_and_dedups(spark, capsys, tmp_path):
    """A spider named by BOTH name and Chinese alias seeds exactly once
    (the reference registry maps both keys to one class)."""
    site = _catalog_site(str(tmp_path))
    wh = str(tmp_path / "wh2")
    assert main([
        "crawl", "--site", site, "--spider", "全站",
        "--spider", "rank_all", "--warehouse", wh, "--rounds", "3",
    ]) == 0
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary["fetched"] == 1  # one seed, single-shot

    with pytest.raises(SystemExit, match="unknown spider 'nope'"):
        main(["crawl", "--site", site, "--spider", "nope"])


def test_spiders_verb_lists_catalog(capsys):
    assert main(["spiders"]) == 0
    out = capsys.readouterr().out
    assert "popular" in out and "rank_all" in out and "全站" in out
    assert len(out.strip().splitlines()) == 27


def test_curate_lm_train_heldout_band(spark, tmp_path, capsys):
    """--lm-train scores the corpus under a HELD-OUT bigram LM: trained on
    an unrelated tiny corpus, every sf transition is training-unseen and
    costs exactly the Laplace floor log2(V) > 4 bits, so a max-lm-bits 4.0
    band drops the whole corpus — while the same corpus without the band
    survives (the flag demonstrably changes the scoring model)."""
    words = " ".join(f"z{c}" for c in "abcdefghijklmnopqrstuvwx")  # 24 words
    train = spark.createDataFrame(
        [("t1", words), ("t2", words)], "doc_id string, text string"
    )
    tp = str(tmp_path / "train_pq")
    train.write.parquet(tp)
    out1 = str(tmp_path / "o1")
    out2 = str(tmp_path / "o2")
    assert main(["curate", "--sf-dir", SF_DIR, "--out", out1]) == 0
    s1 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert main([
        "curate", "--sf-dir", SF_DIR, "--max-lm-bits", "4.0",
        "--lm-train", tp, "--out", out2,
    ]) == 0
    s2 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert s1["out_docs"] > 0
    assert s2["out_docs"] == 0


def test_curate_dsir_floor_binds(spark, tmp_path, capsys):
    """--dsir-target + --min-dsir-logratio gate the freeze on the DSIR
    score join: a floor below every score keeps the scorable corpus, a
    floor above every score drops it all.  (Score DIRECTION — target-like
    docs ranking higher — is pinned by the dsir_scores unit test; with a
    tiny unrelated target the Laplace floor 1/V_target is deliberately
    mild, so absolute signs are not the thing to assert here.)"""
    words = " ".join(f"z{c}" for c in "abcdefghijklmnopqrstuvwx")
    target = spark.createDataFrame(
        [("t1", words), ("t2", words)], "doc_id string, text string"
    )
    tp = str(tmp_path / "dsir_target_pq")
    target.write.parquet(tp)
    out1 = str(tmp_path / "o1")
    out2 = str(tmp_path / "o2")
    assert main([
        "curate", "--sf-dir", SF_DIR, "--dsir-target", tp,
        "--min-dsir-logratio", "-1000", "--out", out1,
    ]) == 0
    s1 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert main([
        "curate", "--sf-dir", SF_DIR, "--dsir-target", tp,
        "--min-dsir-logratio", "1000", "--out", out2,
    ]) == 0
    s2 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert s1["out_docs"] > 0
    assert s2["out_docs"] == 0


def test_curate_token_budget_freezes_prefix(spark, tmp_path, capsys):
    """--token-budget N keeps the seeded md5-order document prefix whose
    tokens fill N: strictly fewer docs than the full freeze, more than
    zero, and deterministic across runs."""
    out1 = str(tmp_path / "full")
    out2 = str(tmp_path / "b1")
    out3 = str(tmp_path / "b2")
    assert main(["curate", "--sf-dir", SF_DIR, "--out", out1]) == 0
    s_full = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert main(["curate", "--sf-dir", SF_DIR, "--token-budget", "500",
                 "--out", out2]) == 0
    s_b = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert 0 < s_b["out_docs"] < s_full["out_docs"]
    assert main(["curate", "--sf-dir", SF_DIR, "--token-budget", "500",
                 "--out", out3]) == 0
    s_b2 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert s_b2["out_docs"] == s_b["out_docs"]
    a = {r["doc_id"] for r in spark.read.parquet(out2).select("doc_id").collect()}
    b = {r["doc_id"] for r in spark.read.parquet(out3).select("doc_id").collect()}
    assert a == b


def test_curate_gopher_flag_binds(capsys, tmp_path):
    """--gopher applies the rule conjunction: the synthetic sf docs are
    all under the 50-word floor, so the flag empties the freeze while the
    default run keeps docs."""
    out1 = str(tmp_path / "nog")
    out2 = str(tmp_path / "g")
    assert main(["curate", "--sf-dir", SF_DIR, "--out", out1]) == 0
    s1 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert main(["curate", "--sf-dir", SF_DIR, "--gopher", "--out", out2]) == 0
    s2 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert s1["out_docs"] > 0 and s2["out_docs"] == 0
