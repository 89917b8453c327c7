from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from spiders_for_all_spark.operators import similarity as SIM
from spiders_for_all_spark.operators import textdedup as TD

DOCS = [
    ("d1", "the quick brown fox jumps over the lazy dog near the river bank"),
    ("d2", "the quick brown fox jumps over the lazy dog near the river bank"),  # exact dup
    ("d3", "the quick brown fox jumps over the lazy dog near the green bank"),  # near dup
    ("d4", "completely different words about spark shuffle partitions and skew"),
    ("d5", "THE  Quick Brown fox jumps over the lazy dog near the river bank"),  # case/ws dup
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id string, text string").cache()


def test_exact_dedup(docs):
    out = TD.exact_dedup(docs).collect()
    groups = {r["doc_id"]: r["n_copies"] for r in out}
    assert groups["d1"] == 3  # d1, d2, d5 normalize identically
    assert groups["d3"] == 1 and groups["d4"] == 1


def test_minhash_lsh_finds_near_dups(docs):
    pairs = {(r["a"], r["b"]) for r in TD.minhash_candidate_pairs(docs).collect()}
    assert ("d1", "d2") in pairs
    assert ("d1", "d3") in pairs or ("d2", "d3") in pairs  # near dup caught
    assert not any("d4" in p for p in pairs)  # unrelated doc not paired


def test_connected_components_clusters(spark):
    """Chain a-b-c plus isolated-pair e-f: two components, min-id reps, and
    a chain deeper than one hop (propagation must iterate)."""
    pairs = spark.createDataFrame(
        [("b", "c"), ("a", "b"), ("e", "f"), ("c", "d")], "a string, b string"
    )
    out = {r["doc_id"]: r["component"] for r in TD.connected_components(pairs).collect()}
    assert out == {"a": "a", "b": "a", "c": "a", "d": "a", "e": "e", "f": "e"}


def test_connected_components_reliable_checkpoint(spark, tmp_path):
    """With a checkpoint dir set, lineage truncation uses reliable
    checkpoint() (survives executor loss on a real cluster) and results
    are unchanged; the dir is restored afterwards so other tests keep the
    localCheckpoint default."""
    sc = spark.sparkContext
    assert sc.getCheckpointDir() is None
    sc.setCheckpointDir(str(tmp_path / "ckpt"))
    try:
        pairs = spark.createDataFrame(
            [("b", "c"), ("a", "b"), ("e", "f"), ("c", "d")],
            "a string, b string",
        )
        out = {
            r["doc_id"]: r["component"]
            for r in TD.connected_components(
                pairs, checkpoint_every=1
            ).collect()
        }
        assert out == {
            "a": "a", "b": "a", "c": "a", "d": "a", "e": "e", "f": "e"
        }
        import os

        assert os.listdir(str(tmp_path / "ckpt")), "checkpoint dir unused"
    finally:
        sc._jsc.sc().setCheckpointDir(None)
        assert sc.getCheckpointDir() is None


def test_connected_components_warns_on_non_convergence(spark):
    """Diameter > max_iter must WARN, not silently return split labels
    (min-label propagation advances one hop per round)."""
    chain = [(f"n{i}", f"n{i+1}") for i in range(6)]
    pairs = spark.createDataFrame(chain, "a string, b string")
    with pytest.warns(RuntimeWarning, match="did not converge"):
        TD.connected_components(pairs, max_iter=2)


def test_connected_components_star_matches_min_label(spark):
    """Large-star/small-star CC must produce the same components as
    min-label propagation on a random graph (fixed seed), and converge on
    a DEEP chain within O(log diameter) rounds where one-hop propagation
    would need the full diameter."""
    import random
    import warnings

    rng = random.Random(42)
    rand_pairs = [
        (f"n{rng.randrange(60):02d}", f"n{rng.randrange(60):02d}")
        for _ in range(80)
    ]
    rand_pairs = [(a, b) for a, b in rand_pairs if a != b]
    pdf = spark.createDataFrame(rand_pairs, "a string, b string")
    ref = {
        r["doc_id"]: r["component"]
        for r in TD.connected_components(pdf, max_iter=60).collect()
    }
    got = {
        r["doc_id"]: r["component"]
        for r in TD.connected_components_star(pdf).collect()
    }
    assert got == ref

    chain = [(f"c{i:03d}", f"c{i+1:03d}") for i in range(64)]
    cdf = spark.createDataFrame(chain, "a string, b string")
    with warnings.catch_warnings():
        warnings.simplefilter("error", RuntimeWarning)  # must NOT warn
        out = {
            r["doc_id"]: r["component"]
            for r in TD.connected_components_star(cdf, max_iter=12).collect()
        }
    assert set(out.values()) == {"c000"}
    assert len(out) == 65


def test_star_pair_count_is_linear_in_bucket_size(spark):
    """A boilerplate doc duplicated n times lands every copy in the same
    LSH buckets; pair emission must be O(n) — each copy paired with the
    bucket min — not the all-pairs join's O(n²/2).  (At 100 TB a 1M-copy
    template would otherwise emit 5·10¹¹ pairs from one bucket.)"""
    n = 2000
    text = (
        "common boilerplate navigation footer text repeated verbatim on "
        "every page of the site"
    )
    docs = spark.createDataFrame(
        [(f"c{i:05d}", text) for i in range(n)], "doc_id string, text string"
    )
    pairs = TD.minhash_candidate_pairs(docs)
    assert pairs.count() == n - 1
    first = pairs.agg(F.min("a"), F.max("a")).first()
    assert first[0] == first[1] == "c00000"  # every pair anchored at the min


def test_incremental_probe_repair_edge_keeps_components(spark):
    """When a LATER batch introduces a new bucket minimum, the probe emits
    a repair edge (new_min, old_min) re-linking the existing star — the
    union of increments stays connected-component-equal to the one-shot
    star even though the pair SETS differ."""
    text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    docs = spark.createDataFrame(
        [("d5", text), ("d7", text), ("d1", text), ("d2", text)],
        "doc_id string, text string",
    )
    b1 = docs.filter(F.col("doc_id").isin("d5", "d7"))
    b2 = docs.filter(F.col("doc_id").isin("d1", "d2"))
    bands1 = TD.minhash_index_rows(b1)
    p1 = TD.minhash_index_probe(bands1)
    p2 = TD.minhash_index_probe(TD.minhash_index_rows(b2), index=bands1)
    union = p1.unionByName(p2)
    got_pairs = {(r["a"], r["b"]) for r in union.collect()}
    assert ("d1", "d5") in got_pairs  # the repair edge: new min -> old min
    one_shot = TD.minhash_candidate_pairs(docs)
    assert got_pairs != {(r["a"], r["b"]) for r in one_shot.collect()}
    cc_got = {
        r["doc_id"]: r["component"]
        for r in TD.connected_components(union).collect()
    }
    cc_want = {
        r["doc_id"]: r["component"]
        for r in TD.connected_components(one_shot).collect()
    }
    assert cc_got == cc_want == {k: "d1" for k in ("d1", "d2", "d5", "d7")}


def test_incremental_index_equals_one_shot(spark, docs):
    """Two-batch incremental probe reproduces the one-shot candidate-pair
    set (batch1 self-probe ∪ batch2-vs-index probe), with the corpus side
    broadcast-pruned — and with broadcast off the pairs are identical (the
    knob changes the plan, never the answer).  Set equality (not just
    CC-equality) holds here because batch 1 carries every bucket's
    eventual minimum; the repair-edge test above covers the other case."""
    one_shot = {(r["a"], r["b"]) for r in TD.minhash_candidate_pairs(docs).collect()}
    b1 = docs.filter(F.col("doc_id").isin("d1", "d2"))
    b2 = docs.filter(~F.col("doc_id").isin("d1", "d2"))
    bands1 = TD.minhash_index_rows(b1)
    bands2 = TD.minhash_index_rows(b2)
    p1 = TD.minhash_index_probe(bands1)
    p2 = TD.minhash_index_probe(bands2, index=bands1)
    got = {(r["a"], r["b"]) for r in p1.unionByName(p2).collect()}
    assert got == one_shot
    p2_nob = TD.minhash_index_probe(bands2, index=bands1, broadcast_keys=False)
    got_nob = {(r["a"], r["b"]) for r in p1.unionByName(p2_nob).collect()}
    assert got_nob == one_shot


def test_incremental_probe_broadcasts_batch_keys(docs):
    """The index-pruning semi-join must be a BROADCAST of the batch's keys
    (the corpus index is streamed, never shuffled) — the plan property the
    100 TB story rests on."""
    bands1 = TD.minhash_index_rows(docs.filter(F.col("doc_id") == "d1"))
    bands2 = TD.minhash_index_rows(docs.filter(F.col("doc_id") == "d2"))
    plan = (
        TD.minhash_index_probe(bands2, index=bands1)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan


def test_incremental_dedup_round_through_storage(spark, tmp_path):
    """Three increments through SnapshotStorage: each round stages an
    O(batch) append to the minhash_index table (flipped via commit_multi),
    pairs accumulate to the one-shot set, and the committed index equals
    the full corpus band table."""
    from spiders_for_all_spark.storage import SnapshotStorage

    docs = spark.createDataFrame(DOCS, "doc_id string, text string")
    storage = SnapshotStorage(spark, str(tmp_path / "wh"))
    batches = [("d1", "d2"), ("d3",), ("d4", "d5")]
    seen_pairs: set = set()
    for ids in batches:
        batch = docs.filter(F.col("doc_id").isin(*ids))
        pairs, staged = TD.incremental_dedup_round(storage, batch)
        seen_pairs |= {(r["a"], r["b"]) for r in pairs.collect()}
        storage.commit_multi([staged])
    one_shot = {(r["a"], r["b"]) for r in TD.minhash_candidate_pairs(docs).collect()}
    assert seen_pairs == one_shot
    committed = storage.read("minhash_index")
    full_bands = TD.minhash_index_rows(docs)
    assert committed.count() == full_bands.count()
    assert committed.exceptAll(full_bands).count() == 0


def test_minhash_dup_clusters(docs):
    out = {r["doc_id"]: r["component"] for r in TD.minhash_dup_clusters(docs).collect()}
    # d1/d2/d5 exact-dup family (+ d3 near dup) share one component, rep=d1
    assert out["d2"] == "d1" and out["d5"] == "d1" and out["d3"] == "d1"
    assert "d4" not in out  # unpaired doc is not a graph node


def test_ngram_jaccard_scores(spark, docs):
    pairs = spark.createDataFrame(
        [("d1", "d2"), ("d1", "d3"), ("d1", "d4")], "a string, b string"
    )
    out = {(r["a"], r["b"]): r["jaccard"] for r in TD.ngram_jaccard_pairs(docs, pairs).collect()}
    assert out[("d1", "d2")] == 1.0
    assert 0.3 < out[("d1", "d3")] < 1.0
    assert out[("d1", "d4")] == 0.0


def test_simhash_groups_exact_dups(docs):
    out = TD.simhash_dup_groups(docs).collect()
    by_rep = {r["representative"]: r["n_docs"] for r in out}
    assert by_rep["d1"] >= 3  # d1/d2/d5 identical -> same simhash


@pytest.fixture(scope="module")
def emb(spark):
    import random

    rng = random.Random(1)
    rows = []
    base = [rng.uniform(-1, 1) for _ in range(8)]
    for i in range(20):
        if i < 3:  # 3 near-identical vectors
            v = [x + rng.uniform(-0.01, 0.01) for x in base]
        else:
            v = [rng.uniform(-1, 1) for _ in range(8)]
        rows.append((i, [float(x) for x in v]))
    return spark.createDataFrame(rows, "vec_id int, embedding array<float>").cache()


def test_embedding_near_dups(emb):
    pairs = TD.embedding_near_dups(emb, threshold=0.99, n_planes=4, dim=8).collect()
    found = {(r["a"], r["b"]) for r in pairs}
    assert ("0", "1") in {(str(a), str(b)) for a, b in found} or (0, 1) in found


def test_brute_force_topk(emb):
    qv = [r["embedding"] for r in emb.filter("vec_id = 0").collect()][0]
    top = SIM.brute_force_topk(emb, list(qv), k=4).collect()
    ids = [r["vec_id"] for r in top]
    assert ids[0] == 0 and top[0]["cos"] == 1.0
    assert set(ids[:3]) == {0, 1, 2}  # the near-identical cluster leads


def test_lsh_ann_matches_brute_force_head(emb):
    qv = [float(x) for x in [r["embedding"] for r in emb.filter("vec_id = 0").collect()][0]]
    exact = [r["vec_id"] for r in SIM.brute_force_topk(emb, qv, k=3).collect()]
    approx = [r["vec_id"] for r in SIM.lsh_ann_topk(emb, qv, k=3, n_planes=4, dim=8).collect()]
    # the near-dup cluster must be recalled (same bucket as the query)
    assert set(exact) == set(approx) == {0, 1, 2}


def test_ivf_ann_recalls_cluster(emb):
    """kmeans_fit (Lloyd's as DataFrame ops) + IVF nprobe search must
    recall the near-identical cluster the brute-force head finds."""
    qv = [float(x) for x in emb.filter("vec_id = 0").first()["embedding"]]
    cents = SIM.kmeans_fit(emb, k=4, max_iter=3, vec_col="embedding")
    assert len(cents) == 4 and len(cents[0]) == 8
    exact = [r["vec_id"] for r in SIM.brute_force_topk(emb, qv, k=3).collect()]
    approx = [
        r["vec_id"]
        for r in SIM.ivf_ann_topk(emb, qv, cents, k=3, nprobe=2).collect()
    ]
    assert set(exact) == set(approx) == {0, 1, 2}


def test_ivf_materialized_prunes_partitions(spark, emb, tmp_path):
    """The materialized IVF layout turns the probe into a partition-pruned
    scan: `cid IN (...)` must land in the scan's PartitionFilters."""
    cents = SIM.kmeans_fit(emb, k=4, max_iter=2)
    path = SIM.materialize_ivf_lists(emb, str(tmp_path / "ivf"), cents)
    qv = [float(x) for x in emb.filter("vec_id = 0").first()["embedding"]]
    probes = SIM.ivf_probe_lists(qv, cents, nprobe=2)
    df = spark.read.parquet(path).filter(F.col("cid").isin(*probes))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cid" in plan.split("PartitionFilters", 1)[1][:200]
    got = {r["vec_id"] for r in df.select("vec_id").collect()}
    want = {
        r["vec_id"]
        for r in SIM.ivf_assign(emb, cents).filter(
            F.col("cid").isin(*probes)
        ).select("vec_id").collect()
    }
    assert got == want and got

    # assignment values: nearest centroid by cosine, ties -> lowest cid;
    # with_cos adds the rounded cosine to it; cid stays non-nullable
    two = spark.createDataFrame(
        [(1, [0.9, 0.1]), (2, [0.1, 0.9]), (3, [0.7, 0.7])],
        "vec_id int, embedding array<float>",
    )
    a = SIM.ivf_assign(two, [[1.0, 0.0], [0.0, 1.0]], with_cos=True)
    assert a.columns == ["vec_id", "embedding", "cid", "centroid_cos"]
    assert not a.schema["cid"].nullable
    got = {r["vec_id"]: (r["cid"], r["centroid_cos"]) for r in a.collect()}
    assert got == {
        1: (0, pytest.approx(0.993884, abs=1e-6)),
        2: (1, pytest.approx(0.993884, abs=1e-6)),
        3: (0, pytest.approx(0.707107, abs=1e-6)),
    }


def test_topk_per_query_window(spark, emb):
    queries = spark.createDataFrame(
        [(0, [1.0] * 8), (1, [-1.0] * 8)], "q_id int, q_vec array<float>"
    )
    out = SIM.brute_force_topk_per_query(emb, queries, k=3)
    counts = out.groupBy("q_id").count().collect()
    assert all(r["count"] == 3 for r in counts)


def test_minhash_pairs_scratch_spill_identical(spark, docs, tmp_path):
    """With scratch_dir set the band stream materializes once (both pair-
    join sides read the spill — the corpus is shingled exactly once) and
    the pair set is bit-identical to the no-spill plan."""
    import os

    sd = str(tmp_path / "scratch")
    plain = {(r["a"], r["b"]) for r in TD.minhash_candidate_pairs(docs).collect()}
    spilled = {
        (r["a"], r["b"])
        for r in TD.minhash_candidate_pairs(docs, scratch_dir=sd).collect()
    }
    assert spilled == plain
    assert any(d.startswith("minhash-bands") for d in os.listdir(sd))
    clusters = {
        r["doc_id"]: r["component"]
        for r in TD.minhash_dup_clusters(docs, scratch_dir=sd).collect()
    }
    assert clusters == {
        r["doc_id"]: r["component"]
        for r in TD.minhash_dup_clusters(docs).collect()
    }


@pytest.fixture(scope="module")
def sem_emb(spark):
    """Two orthogonal clusters, each with an in-cluster near-dup pair."""
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),   # cluster 0 keeper
        (1, [0.99, 0.01, 0.0, 0.0]), # near-dup of 0 -> dropped
        (2, [0.6, 0.1, 0.78, 0.0]),  # cluster 0, below threshold -> kept
        (3, [0.0, 1.0, 0.0, 0.0]),   # cluster 1 keeper
        (4, [0.01, 0.99, 0.0, 0.0]), # near-dup of 3 -> dropped
    ]
    return spark.createDataFrame(
        rows, "vec_id int, embedding array<float>"
    ).cache()


def test_semantic_dedup_drops_in_cluster_near_dups(sem_emb):
    cents = [[1.0, 0.0, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0]]
    out = {r["vec_id"]: r for r in SIM.semantic_dedup(
        sem_emb, cents, threshold=0.9
    ).collect()}
    assert len(out) == 5  # verdict row for every input vector
    assert {i: out[i]["kept"] for i in range(5)} == {
        0: True, 1: False, 2: True, 3: True, 4: False
    }
    assert {i: out[i]["cid"] for i in range(5)} == {0: 0, 1: 0, 2: 0, 3: 1, 4: 1}
    # prototypicality signal: exact centroid match scores 1.0, the far
    # in-cluster member scores lower
    assert out[0]["centroid_cos"] == 1.0
    assert out[2]["centroid_cos"] < out[1]["centroid_cos"]


def test_semantic_dedup_lowest_id_survives_chain(spark):
    """A transitive chain a~b~c in one cluster keeps ONLY the lowest id
    (everyone with a lower-id near peer drops, matching the oracle)."""
    rows = [(i, [1.0, 0.001 * i, 0.0, 0.0]) for i in range(4)]
    emb = spark.createDataFrame(rows, "vec_id int, embedding array<float>")
    out = {r["vec_id"]: r["kept"] for r in SIM.semantic_dedup(
        emb, [[1.0, 0.0, 0.0, 0.0]], threshold=0.9
    ).collect()}
    assert out == {0: True, 1: False, 2: False, 3: False}


def test_semantic_dedup_incremental_corpus_wins(spark):
    """A batch vector near a committed corpus vector drops even when its
    id is LOWER (the corpus was committed first); batch-internal pairs
    use the lower-id rule; novel vectors survive; the corpus is never
    re-judged (verdicts only for the batch)."""
    cents = [[1.0, 0.0, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0]]
    corpus = spark.createDataFrame(
        [(100, [1.0, 0.0, 0.0, 0.0]), (101, [0.0, 1.0, 0.0, 0.0])],
        "vec_id int, embedding array<float>",
    )
    index = SIM.ivf_assign(corpus, cents)
    batch = spark.createDataFrame(
        [
            (1, [0.99, 0.01, 0.0, 0.0]),   # near corpus 100, lower id -> drops
            (2, [0.0, 0.1, 0.99, 0.0]),    # novel direction -> kept
            (3, [0.0, 0.11, 0.985, 0.0]),  # near batch 2 (lower id) -> drops
        ],
        "vec_id int, embedding array<float>",
    )
    out = {r["vec_id"]: r["kept"] for r in SIM.semantic_dedup_incremental(
        index, batch, cents, threshold=0.9
    ).collect()}
    assert out == {1: False, 2: True, 3: False}


def test_semantic_dedup_incremental_matches_one_shot_on_empty_corpus(spark, sem_emb):
    """With an empty committed corpus the incremental probe IS the
    one-shot semantic_dedup (same verdicts)."""
    cents = [[1.0, 0.0, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0]]
    empty = sem_emb.filter("vec_id < 0")
    index = SIM.ivf_assign(empty, cents)
    inc = {r["vec_id"]: r["kept"] for r in SIM.semantic_dedup_incremental(
        index, sem_emb, cents, threshold=0.9
    ).collect()}
    one = {r["vec_id"]: r["kept"] for r in SIM.semantic_dedup(
        sem_emb, cents, threshold=0.9
    ).collect()}
    assert inc == one


def test_prototype_prune_drops_most_prototypical_quarter(spark):
    """8-member cluster at 25%: the 2 vectors closest to the centroid
    drop; integer ppm floor ((8*250000) div 1e6 = 2); ranks unique."""
    rows = [(i, [1.0, 0.05 * i, 0.0, 0.0]) for i in range(8)]
    emb = spark.createDataFrame(rows, "vec_id int, embedding array<float>")
    out = {r["vec_id"]: r for r in SIM.prototype_prune(
        emb, [[1.0, 0.0, 0.0, 0.0]], frac_ppm=250_000
    ).collect()}
    # vec 0 is exactly the centroid (rank 1), vec 1 next -> both dropped
    assert out[0]["proto_rank"] == 1 and out[0]["kept"] is False
    assert out[1]["proto_rank"] == 2 and out[1]["kept"] is False
    assert all(out[i]["kept"] for i in range(2, 8))
    assert sorted(r["proto_rank"] for r in out.values()) == list(range(1, 9))


def test_prototype_prune_small_cluster_floor_keeps_all(spark):
    """3-member cluster at 25%: (3*250000) div 1e6 = 0 -> nothing drops
    (the integer floor never over-prunes small clusters)."""
    rows = [(i, [1.0, 0.05 * i, 0.0, 0.0]) for i in range(3)]
    emb = spark.createDataFrame(rows, "vec_id int, embedding array<float>")
    out = SIM.prototype_prune(
        emb, [[1.0, 0.0, 0.0, 0.0]], frac_ppm=250_000
    ).collect()
    assert all(r["kept"] for r in out)


def test_pair_kernel_matches_interpreted_pair_scan(spark):
    """r06 blocked-NumPy pair kernel == the old Catalyst pair scan.

    Randomized embeddings (seeded) plus constructed pairs that land
    EXACTLY on the HALF_UP rounding boundary of the 6-dp cosine; the
    dropped set from semantic_dedup must equal the brute-force
    interpreted form (l2_normalize + one dot per pair + F.round >= thr),
    across block counts that do and do not split the clusters."""
    import random

    from pyspark.sql import functions as F

    from spiders_for_all_spark.functions.vectors import dot, l2_normalize

    rng = random.Random(1234)
    dim = 8
    rows = []
    for i in range(120):
        base = [rng.uniform(-1, 1) for _ in range(dim)]
        rows.append((i, [float(x) for x in base]))
        if i % 4 == 0:  # a deliberate near-dup of i at a higher id
            rows.append(
                (1000 + i, [float(x + rng.uniform(-1e-3, 1e-3)) for x in base])
            )
    # boundary construction: cos(a, b) with round(.,6) ties near 0.4
    rows.append((5000, [1.0] + [0.0] * (dim - 1)))
    for j, c in enumerate([0.3999995, 0.39999949999, 0.4000005, 0.3999985]):
        s = (1.0 - c * c) ** 0.5
        rows.append((5001 + j, [float(c), float(s)] + [0.0] * (dim - 2)))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cents = [r["embedding"] for r in emb.filter("vec_id < 2").collect()]

    a = SIM.ivf_assign(emb, [list(map(float, c)) for c in cents])
    p = a.select(
        F.col("vec_id").alias("_pid"),
        l2_normalize(F.col("embedding")).alias("_nv"),
        "cid",
    )
    expected = {
        r["vec_id"]
        for r in p.alias("l")
        .join(p.alias("r"), "cid")
        .filter(F.col("l._pid") < F.col("r._pid"))
        .filter(F.round(dot(F.col("l._nv"), F.col("r._nv")), 6) >= 0.4)
        .select(F.col("r._pid").alias("vec_id"))
        .distinct()
        .collect()
    }
    for nb in (1, 3, 7):
        got = {
            r["vec_id"]
            for r in SIM._pair_hit_ids(
                a.select(
                    "vec_id",
                    F.col("embedding").alias("_vec"),
                    "cid",
                    F.lit(False).alias("_lo_only"),
                ),
                0.4,
                "vec_id",
                nb,
            ).collect()
        }
        assert got == expected, f"nb={nb}"
