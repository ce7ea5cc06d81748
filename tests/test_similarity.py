"""Recall tests for similarity search: LSH ANN vs brute-force baseline,
planted near-duplicate embeddings."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from kafka_data_explorer_cdc_spark.io import load
from kafka_data_explorer_cdc_spark.operators import similarity as S


@pytest.fixture(scope="module")
def planted_vecs(spark, sf_dir):
    """Embeddings + near-identical twins (tiny deterministic noise) of
    the first 20 vectors, ids offset by 100000."""
    rng = random.Random(99)
    em = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    base = em.filter(F.col("vec_id") < 20).collect()
    twins = [
        (
            r["vec_id"] + 100000,
            [x + (rng.random() - 0.5) * 0.01 for x in r["embedding"]],
        )
        for r in base
    ]
    extra = spark.createDataFrame(twins, "vec_id long, embedding array<float>")
    return em.unionByName(extra)


def test_brute_force_finds_planted_twin(spark, planted_vecs):
    queries = planted_vecs.filter(F.col("vec_id") < 20)
    topk = S.brute_force_cosine_topk(planted_vecs, queries, k=1)
    rows = topk.collect()
    assert len(rows) == 20
    for r in rows:
        assert r["c_id"] == r["q_id"] + 100000, r
        assert r["cosine"] > 0.99


def test_lsh_topk_recall_on_planted(spark, planted_vecs):
    queries = planted_vecs.filter(F.col("vec_id") < 20)
    ann = S.lsh_cosine_topk(planted_vecs, queries, k=1, bits=8, tables=4)
    hits = {
        r["q_id"]
        for r in ann.collect()
        if r["c_id"] == r["q_id"] + 100000 and r["rank"] == 1
    }
    recall = len(hits) / 20
    assert recall >= 0.8, f"ANN recall@1 on planted twins: {recall}"


def test_embedding_near_dup_pairs_planted(spark, planted_vecs):
    pairs = S.embedding_near_dup_pairs(planted_vecs, threshold=0.95, tables=4)
    got = {(r["id1"], r["id2"]) for r in pairs.collect()}
    expected = {(q, q + 100000) for q in range(20)}
    recall = len(got & expected) / len(expected)
    assert recall >= 0.8, f"near-dup pair recall {recall}"
    # precision: every emitted pair truly has cosine >= threshold
    assert pairs.filter(F.col("cosine") < 0.95).count() == 0


def test_lsh_recall_vs_brute_force_real_data(spark, sf_dir):
    """On the real (random-ish) embeddings, more tables must monotonically
    help; assert the 4-table config reaches a sane floor for recall@5."""
    em = load(spark, sf_dir, "embeddings")
    queries = em.filter(F.col("vec_id") < 10)
    truth = {
        (r["q_id"], r["c_id"])
        for r in S.brute_force_cosine_topk(em, queries, k=5).collect()
    }
    ann = {
        (r["q_id"], r["c_id"])
        for r in S.lsh_cosine_topk(em, queries, k=5, bits=4, tables=4).collect()
    }
    recall = len(ann & truth) / len(truth)
    assert recall >= 0.2, f"ANN recall@5 on random embeddings: {recall}"


def test_ivf_recall_vs_brute_force(spark, sf_dir):
    """IVF with nprobe=4/16 cells must recover most true neighbors;
    with nprobe=n_cells (probe everything) it must equal brute force
    exactly — the pruning knob trades recall, never correctness. An
    index built once by ``ivf_build`` and injected answers exactly as
    the self-building call, and the probed hard-negative miner at
    nprobe=n_cells equals the exact one."""
    from kafka_data_explorer_cdc_spark.io import load
    from kafka_data_explorer_cdc_spark.operators.similarity import (
        brute_force_cosine_topk,
        hard_negative_ivf_topk,
        hard_negative_topk,
        ivf_build,
        ivf_cosine_topk,
    )

    em = load(spark, sf_dir, "embeddings")
    queries = em.filter(F.col("vec_id") < 20)
    truth = {
        (r["q_id"], r["c_id"])
        for r in brute_force_cosine_topk(em, queries, k=5).collect()
    }
    # synthetic embeddings are near-orthogonal (the IVF-adversarial
    # case: no cluster structure), so probe half the cells for the
    # recall gate; real clustered corpora do far better at low nprobe
    got = {
        (r["q_id"], r["c_id"])
        for r in ivf_cosine_topk(em, queries, k=5, n_cells=16, nprobe=8).collect()
    }
    assert len(got & truth) / len(truth) >= 0.5, "recall@5 too low"

    full = {
        (r["q_id"], r["c_id"])
        for r in ivf_cosine_topk(em, queries, k=5, n_cells=16, nprobe=16).collect()
    }
    assert full == truth, "nprobe=n_cells must reproduce brute force exactly"

    C, cells = ivf_build(em, 16)
    for nprobe in (8, 16):
        built = ivf_cosine_topk(em, queries, k=5, n_cells=16, nprobe=nprobe)
        injected = ivf_cosine_topk(
            em, queries, k=5, nprobe=nprobe, centroids=C, cells=cells
        )
        assert sorted(injected.collect()) == sorted(built.collect()), nprobe
    cells.unpersist()

    anchors = em.filter(F.col("vec_id") % 25 == 0)
    exact = {
        (r["q_id"], r["c_id"], r["rank"])
        for r in hard_negative_topk(em, anchors, k=3).collect()
    }
    probed = {
        (r["q_id"], r["c_id"], r["rank"])
        for r in hard_negative_ivf_topk(
            em, anchors, k=3, n_cells=16, nprobe=16
        ).collect()
    }
    assert probed == exact, "nprobe=n_cells must reproduce the exact miner"


def test_blocked_topk_rank_identical_to_brute_force(spark, sf_dir):
    """The block-local pre-reduction must be EXACT: same ids, same
    ranks as the naive brute force; cosines equal to float tolerance
    (summation-order ulps only)."""
    from kafka_data_explorer_cdc_spark.io import load
    from kafka_data_explorer_cdc_spark.operators.similarity import (
        blocked_cosine_topk,
        brute_force_cosine_topk,
    )

    em = load(spark, sf_dir, "embeddings")
    queries = em.filter(F.col("vec_id") < 20)
    naive = {
        (r["q_id"], r["rank"]): (r["c_id"], r["cosine"])
        for r in brute_force_cosine_topk(em, queries, k=5).collect()
    }
    blocked = {
        (r["q_id"], r["rank"]): (r["c_id"], r["cosine"])
        for r in blocked_cosine_topk(em, queries, k=5).collect()
    }
    assert naive.keys() == blocked.keys()
    for key in naive:
        assert naive[key][0] == blocked[key][0], f"id mismatch at {key}"
        assert abs(naive[key][1] - blocked[key][1]) < 1e-9


def test_pq_codes_path_equals_inline_pq(spark, sf_dir):
    """The codes-at-rest serving path (encode once, ADC over codes
    only, join-back re-rank) must return the same top-k id set as the
    inline pq_cosine_topk — same codebooks, same math, different cost
    placement."""
    corpus = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    queries = corpus.filter(F.col("vec_id") < 20)
    inline = {
        (r["q_id"], r["c_id"])
        for r in S.pq_cosine_topk(corpus, queries, k=5, rerank=20).collect()
    }
    at_rest = {
        (r["q_id"], r["c_id"])
        for r in S.pq_codes_cosine_topk(
            corpus, queries, k=5, rerank=20
        ).collect()
    }
    assert at_rest == inline and at_rest


def test_ivf_pq_exact_degenerate_and_twins(spark, sf_dir, planted_vecs):
    """IVF-PQ: (1) nprobe=n_cells + rerank>=corpus must reproduce brute
    force exactly; (2) planted twins (same cell as their original,
    probed first) must be found at a realistic nprobe/rerank."""
    corpus = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    queries = corpus.filter(F.col("vec_id") < 20)
    truth = {
        (r["q_id"], r["c_id"])
        for r in S.brute_force_cosine_topk(corpus, queries, k=5).collect()
    }
    full = {
        (r["q_id"], r["c_id"])
        for r in S.ivf_pq_cosine_topk(
            corpus, queries, k=5, n_cells=16, nprobe=16, rerank=10_100
        ).collect()
    }
    assert full == truth, "exactness knobs must reproduce brute force"
    twins_q = planted_vecs.filter(F.col("vec_id") < 20)
    got = S.ivf_pq_cosine_topk(
        planted_vecs, twins_q, k=1, n_cells=16, nprobe=8, rerank=20
    ).collect()
    hits = sum(1 for r in got if r["c_id"] == r["q_id"] + 100000)
    assert hits >= 18, f"planted-twin recall {hits}/20"


def test_pq_topk_recall_and_exact_degenerate(spark, sf_dir, planted_vecs):
    """PQ/ADC: (1) with rerank >= corpus size the scan degenerates to
    exact brute force (quantization chooses candidates, never scores);
    (2) at a realistic rerank the planted near-identical twins — whose
    codes collapse to the same codewords — must be found; (3) recall@5
    vs brute force stays useful even on near-orthogonal vectors."""
    em = load(spark, sf_dir, "embeddings")
    queries = em.filter(F.col("vec_id") < 20)
    truth = {
        (r["q_id"], r["c_id"])
        for r in S.brute_force_cosine_topk(em, queries, k=5).collect()
    }
    # (1) exact-degenerate: rerank covers every batch
    full = {
        (r["q_id"], r["c_id"])
        for r in S.pq_cosine_topk(em, queries, k=5, rerank=10**6).collect()
    }
    assert full == truth, "rerank>=corpus must reproduce brute force"
    # (2) planted twins at realistic rerank
    twins_q = planted_vecs.filter(F.col("vec_id") < 20)
    got = S.pq_cosine_topk(planted_vecs, twins_q, k=1, rerank=20).collect()
    hits = sum(1 for r in got if r["c_id"] == r["q_id"] + 100000)
    assert hits >= 18, f"planted-twin recall {hits}/20"
    # (3) recall@5 on the raw near-orthogonal corpus
    approx = {
        (r["q_id"], r["c_id"])
        for r in S.pq_cosine_topk(em, queries, k=5, rerank=50).collect()
    }
    assert len(approx & truth) / len(truth) >= 0.5, "recall@5 too low"


def test_semantic_dedup_removes_planted_keeps_organic(spark, planted_vecs):
    """SemDeDup: the noisy planted twins (cosine ~0.9999 to their
    originals) must be removed with their original as representative;
    organic vectors (max pairwise cosine ~0.60) all survive. Also: the
    keep-set plus dup_of mapping partitions the corpus exactly."""
    res = S.semantic_dedup(planted_vecs, n_cells=8, threshold=0.95)
    rows = res.collect()
    removed = {r["id"]: r["dup_of"] for r in rows if not r["keep"]}
    kept = {r["id"] for r in rows if r["keep"]}
    # every planted twin removed, representative = its original
    missed = [i for i in range(100000, 100020) if i not in removed]
    assert len(missed) <= 2, f"twins not deduped: {missed}"
    for tid, rep in removed.items():
        if tid >= 100000:
            assert rep == tid - 100000
    # organic corpus intact
    assert all(i in kept for i in {r["id"] for r in rows} if i < 100000)
    assert len(kept) + len(removed) == len(rows)


def test_sq8_recall_and_code_range(spark, sf_dir):
    """SQ8: 8-bit quantization should barely perturb the ranking —
    recall@5 vs brute force stays high on real embeddings — and the
    at-rest codes must actually be int8-ranged (the 4x-compression
    claim is the operator's point)."""
    em = load(spark, sf_dir, "embeddings")
    queries = em.filter(F.col("vec_id") < 10)
    truth = {
        (r["q_id"], r["c_id"])
        for r in S.brute_force_cosine_topk(em, queries, k=5).collect()
    }
    ann = S.sq8_cosine_topk(em, queries, k=5, shortlist=20)
    got = {(r["q_id"], r["c_id"]) for r in ann.collect()}
    recall = len(got & truth) / len(truth)
    assert recall >= 0.8, f"SQ8 recall@5: {recall}"


def test_logreg_train_separable(spark):
    """operators/ml.py logreg_train: on a linearly separable toy set the
    loss strictly decreases and training accuracy reaches 1.0; weights
    are deterministic across repartitionings (the quantized-sum
    contract)."""
    import random

    from pyspark.sql import functions as F

    from kafka_data_explorer_cdc_spark.operators.ml import logreg_train

    rng = random.Random(7)
    rows = []
    for i in range(200):
        y = i % 2
        center = 2.0 if y else -2.0
        rows.append(([rng.gauss(center, 0.3) for _ in range(4)], y))
    df = spark.createDataFrame(rows, "embedding array<double>, y int")

    scored, losses, w = logreg_train(df, "y", n_iter=5, lr=1.0)
    assert all(b < a for a, b in zip(losses, losses[1:]))
    acc = scored.agg(
        F.avg(((F.col("p") >= 0.5).cast("int") == F.col("y")).cast("int"))
    ).first()[0]
    assert acc == 1.0

    _, losses2, w2 = logreg_train(df.repartition(7), "y", n_iter=5, lr=1.0)
    assert w == w2 and losses == losses2


def test_bitext_margin_mines_planted_pair(spark):
    """operators/similarity.py bitext_margin_pairs: a planted
    translation pair (near-identical vectors across the two sides)
    must be mined rank-1 with a margin above every organic pair's, and
    the margin ordering must be invariant to target-side partitioning
    (the order-free quantized-kNN-mean contract)."""
    import random

    from kafka_data_explorer_cdc_spark.operators.similarity import (
        bitext_margin_pairs,
    )

    rng = random.Random(11)
    dim = 16

    def vec():
        return [rng.gauss(0, 1) for _ in range(dim)]

    planted = vec()
    src_rows = [(0, [x + rng.gauss(0, 0.01) for x in planted])] + [
        (i, vec()) for i in range(1, 21)
    ]
    tgt_rows = [(100, [x + rng.gauss(0, 0.01) for x in planted])] + [
        (100 + i, vec()) for i in range(1, 21)
    ]
    src = spark.createDataFrame(
        src_rows, "vec_id long, embedding array<float>"
    )
    tgt = spark.createDataFrame(
        tgt_rows, "vec_id long, embedding array<float>"
    )

    mined = bitext_margin_pairs(src, tgt, k=4, threshold=1.05)
    rows = {r["src_id"]: r for r in mined.collect()}
    assert rows[0]["tgt_id"] == 100
    assert rows[0]["mined"] is True
    assert rows[0]["margin"] == max(r["margin"] for r in rows.values())

    again = {
        r["src_id"]: r
        for r in bitext_margin_pairs(
            src, tgt.repartition(7), k=4, threshold=1.05
        ).collect()
    }
    assert {k: (v["tgt_id"], v["margin"]) for k, v in rows.items()} == {
        k: (v["tgt_id"], v["margin"]) for k, v in again.items()
    }


def test_mmr_prefers_diversity_over_redundancy(spark):
    """MMR's defining behavior: after picking the best candidate, its
    near-duplicate (relevance rank 2) must LOSE to a less relevant but
    diverse candidate — plain top-k would return the twin second."""
    from kafka_data_explorer_cdc_spark.operators.similarity import (
        brute_force_cosine_topk,
        mmr_rerank,
    )

    rows = [
        (0, [1.0, 0.0, 0.0]),          # query
        (1, [0.99, 0.14, 0.0]),        # most relevant
        (2, [0.98, 0.2, 0.0]),         # near-duplicate of 1
        (3, [0.6, 0.0, 0.8]),          # diverse, less relevant
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = df.filter("vec_id = 0")
    topk = [
        r.c_id
        for r in brute_force_cosine_topk(df, q, k=3)
        .orderBy("rank")
        .collect()
    ]
    assert topk == [1, 2, 3]  # redundancy wins under pure relevance
    picks = [
        r.c_id
        for r in mmr_rerank(df, q, k=3, m=3, lam=0.3)
        .orderBy("pick_order")
        .collect()
    ]
    assert picks[0] == 1
    assert picks[1] == 3, picks  # diversity beats the near-duplicate
    assert picks[2] == 2


def test_optimize_ivf_index_rejects_already_optimized(spark, tmp_path):
    """Round-10 ADVICE: the child-id minting
    (split_base + sub_cells*parent + j) is injective only over COARSE
    cell ids < split_base — re-running the pass on an already-optimized
    index would decode hot children to the wrong parent and can collide
    minted ids, so it must refuse loudly."""
    from kafka_data_explorer_cdc_spark.operators.similarity import (
        optimize_ivf_index,
    )

    rows = [(i, [float(i), 1.0], 100 + (i % 2)) for i in range(8)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, cell int")
    idx_dir = str(tmp_path / "idx")
    df.write.partitionBy("cell").parquet(idx_dir)
    with pytest.raises(ValueError, match="cell ids >= split_base"):
        optimize_ivf_index(
            spark, idx_dir, str(tmp_path / "out"), split_base=100
        )


def test_kmeans_lloyd_contract(spark):
    """operators/similarity.py kmeans_lloyd (round-13 literal-codebook
    assign): on a toy set the k=1 run must agree with the closed-form
    Lloyd arithmetic (centroid = mean, SSE = quantized sum of squared
    distances to the INITIAL centroid), SSE decreases on separated
    clusters, and (assignments, sse, centroids) are invariant to
    repartitioning — the quantized-sum determinism contract."""
    import random

    from kafka_data_explorer_cdc_spark.operators.similarity import (
        _centroids,
        kmeans_lloyd,
    )

    rng = random.Random(13)
    rows = []
    for i in range(60):
        center = 4.0 if i % 2 else -4.0
        rows.append((i, [rng.gauss(center, 0.25) for _ in range(3)]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    # k=1, n_iter=1: pure-Python differential for the arithmetic
    C0 = _centroids(df, 1, "vec_id", "embedding")
    assign, sse, C = kmeans_lloyd(df, k=1, n_iter=1)
    vecs = {r[0]: r[1] for r in rows}
    exp_sse = 0
    for v in vecs.values():
        d2 = sum((a - b) * (a - b) for a, b in zip(v, C0[0]))
        exp_sse += int(d2 * 1e9 // 1)
    assert sse == [exp_sse]
    mean = [
        sum(v[j] for v in vecs.values()) / len(vecs) for j in range(3)
    ]
    assert all(abs(C[0][j] - mean[j]) < 1e-9 for j in range(3))
    assert assign.count() == 60

    # k=2 on well-separated clusters: SSE non-increasing, and the two
    # planted clusters are recovered exactly (every even id in one
    # cell, every odd id in the other). Centroid means use F.avg, so
    # exact bit-equality across partitionings is NOT part of the
    # contract (only the per-iteration SSE terms are quantized); the
    # semantic outcome below is partitioning-independent here because
    # the clusters are 16 sigma apart.
    a1, s1, _c1 = kmeans_lloyd(df, k=2, n_iter=3)
    assert len(s1) == 3 and all(b <= a for a, b in zip(s1, s1[1:]))
    cells = {r["id"]: r["cid"] for r in a1.collect()}
    even = {cells[i] for i in range(0, 60, 2)}
    odd = {cells[i] for i in range(1, 60, 2)}
    assert len(even) == 1 and len(odd) == 1 and even != odd
