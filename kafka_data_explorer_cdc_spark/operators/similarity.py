"""Similarity search over embedding columns.

Every path shares three decisions, each written once:

- **Score** — :func:`_cosine`: the ``_dot`` fold over the product of
  the two norms, folded JVM-side with ``zip_with`` + ``aggregate`` in
  the same element order as DuckDB's ``list_reduce``, so double
  cosines reproduce bit-for-bit in the oracle.
- **Rank** — :func:`_topk`: ``row_number()`` per ``q_id`` by score
  descending, ties to the smaller ``c_id``, kept while ``rank <= k``.
- **IVF index** — :func:`ivf_build` (or :func:`bitext_ivf_build`)
  assigns each corpus vector its :func:`_nearest_cell`;
  :func:`_ivf_probe` fans each query out to its ``nprobe`` nearest
  cells for the equi-join on ``cell``.

The candidate generators differ: brute force crosses the corpus with
broadcast queries; LSH joins on hyperplane signatures; IVF joins on
probed cells; PQ, SQ8 and the blocked kernel pre-reduce per Arrow
batch. Approximate candidates are always re-scored exactly, and their
recall is measured against brute force, never hash-compared.

Cache ownership: ``ivf_build``/``bitext_ivf_build`` document "caller
owns the unpersist", and the collecting gate queries honor it; the
plan-returning operators (``ivf_cosine_topk`` et al. when they build
internally, ``pq_codes_cosine_topk``'s encoded table,
``sq8_cosine_topk``'s codes) persist intermediates their returned plan
consumes and CANNOT unpersist them — a long-lived session must
``spark.catalog.clearCache()`` after materializing (the bench/driver
does this between invocations; round-13 verdict, persist hygiene).
"""

from __future__ import annotations

from functools import partial

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast, pandas_udf
from pyspark.storagelevel import StorageLevel

from ..io import ensure_parallelism


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm_sq(a):
    return F.aggregate(
        a, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")
    )


def _cosine(a, b, a_norm=None, b_norm=None):
    """Cosine of two vector columns. Pass a norm the plan already
    computed; a missing one is folded inline as ``sqrt(_norm_sq(v))``."""
    dot = _dot(a, b)
    if a_norm is None:
        a_norm = F.sqrt(_norm_sq(a))
    if b_norm is None:
        b_norm = F.sqrt(_norm_sq(b))
    return dot / (a_norm * b_norm)


def _topk(scored: DataFrame, k: int, score: str = "cosine") -> DataFrame:
    """The per-query rank rule: a long ``rank`` from ``row_number()``
    over ``q_id`` by ``score`` descending, ties to the smaller
    ``c_id``; keeps ``rank <= k``."""
    w = Window.partitionBy("q_id").orderBy(F.desc(score), F.asc("c_id"))
    return scored.withColumn("rank", F.row_number().over(w).cast("long")).filter(
        F.col("rank") <= k
    )


def with_norm(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    return df.withColumn("norm", F.sqrt(_norm_sq(F.col(vec_col))))


def hard_negative_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Hard-negative mining for contrastive training: for each query,
    the k most-cosine-similar corpus vectors whose LABEL DIFFERS — the
    negatives a triplet/InfoNCE loss learns most from (vs d57's random
    negatives). Same scale shape as the exact kernel: queries
    broadcast, corpus never shuffled, label filter applied BEFORE the
    ranking window so the per-partition top-k pre-reduction carries
    only cross-label candidates. At 100 TB swap the exact scorer for
    an IVF probe (d07y) and keep the label-mismatch filter on the
    candidate stream."""
    q = with_norm(
        queries.select(
            F.col(id_col).alias("q_id"),
            F.col(label_col).alias("q_label"),
            F.col(vec_col).alias("q_vec"),
        ),
        "q_vec",
    ).withColumnRenamed("norm", "q_norm")
    c = with_norm(
        ensure_parallelism(corpus).select(
            F.col(id_col).alias("c_id"),
            F.col(label_col).alias("c_label"),
            F.col(vec_col).alias("c_vec"),
        ),
        "c_vec",
    ).withColumnRenamed("norm", "c_norm")
    scored = (
        c.crossJoin(broadcast(q))
        .filter(F.col("c_label") != F.col("q_label"))
        .withColumn(
            "cosine",
            _cosine(F.col("q_vec"), F.col("c_vec"), F.col("q_norm"), F.col("c_norm")),
        )
    )
    return _topk(scored, k).select(
        "q_id", "q_label", "c_id", "c_label", "cosine", "rank"
    )


def hard_negative_ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 3,
    n_cells: int = 16,
    nprobe: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    centroids: np.ndarray | None = None,
    cells: DataFrame | None = None,
) -> DataFrame:
    """IVF-probed hard-negative mining — the 100 TB path the exact
    kernel (:func:`hard_negative_topk`) documents: corpus vectors are
    bucketed into ``n_cells`` centroid cells ONCE, each anchor probes
    only its ``nprobe`` nearest cells, and the label-mismatch filter
    runs on the cell-pruned candidate stream before the exact-cosine
    re-rank. Scan fraction ~``nprobe/n_cells`` of the corpus per
    anchor instead of all of it; with the corpus parquet clustered BY
    cell the probe becomes partition pruning.

    Exactness knob: ``nprobe == n_cells`` probes every cell, making
    the candidate set the full cross-label block — output identical
    to :func:`hard_negative_topk`. Below that, recall is
    probabilistic and gated by measurement (d89), never hash-compared.

    ``centroids``/``cells`` (from :func:`ivf_build` with
    ``label_col``) inject the one-time build state — multi-probe
    gates build the index once, probe it per setting. Pass both or
    neither; without both, :func:`ivf_build` builds the index here.
    """
    if centroids is None or cells is None:
        centroids, cells = ivf_build(corpus, n_cells, id_col, vec_col, label_col)
    q = _ivf_probe(
        queries.select(
            F.col(id_col).alias("q_id"),
            F.col(label_col).alias("q_label"),
            F.col(vec_col).alias("q_vec"),
        ),
        centroids,
        nprobe,
    )
    cand = cells.join(broadcast(q), "cell").filter(
        F.col("c_label") != F.col("q_label")
    )
    scored = cand.withColumn("cosine", _cosine(F.col("q_vec"), F.col("c_vec")))
    return _topk(scored, k).select(
        "q_id", "q_label", "c_id", "c_label", "cosine", "rank"
    )


def brute_force_cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k: for each query vector, the k nearest corpus vectors
    by cosine (self-match excluded), deterministic tie-break on id."""
    q = with_norm(
        queries.select(
            F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_vec")
        ),
        "q_vec",
    ).withColumnRenamed("norm", "q_norm")
    c = with_norm(
        ensure_parallelism(corpus).select(
            F.col(id_col).alias("c_id"), F.col(vec_col).alias("c_vec")
        ),
        "c_vec",
    ).withColumnRenamed("norm", "c_norm")
    scored = (
        c.crossJoin(broadcast(q))
        .filter(F.col("c_id") != F.col("q_id"))
        .withColumn(
            "cosine",
            _cosine(F.col("q_vec"), F.col("c_vec"), F.col("q_norm"), F.col("c_norm")),
        )
    )
    return _topk(scored, k).select("q_id", "c_id", "cosine", "rank")


def multi_signature(
    df: DataFrame,
    planes_list: list[list[list[float]]],
    vec_col: str,
    out_col: str = "sigs",
) -> DataFrame:
    """Signatures for ALL hash tables in one Arrow pass: a single
    pandas-UDF stage computing ``tables`` matmuls per batch, returning
    ``array<long>`` (one signature per table). Collapsing the per-table
    UDF stages this way cut the LSH query 3.5× locally — Python worker
    round-trips, not math, dominate multi-table signature plans."""
    Ps = [np.asarray(p, dtype="float64") for p in planes_list]
    pows = [2.0 ** np.arange(P.shape[0]) for P in Ps]

    @pandas_udf("array<long>")
    def _sigs(v: pd.Series) -> pd.Series:
        M = np.vstack(v.values).astype("float64")
        S = np.stack(
            [((M @ P.T) > 0) @ pw for P, pw in zip(Ps, pows)], axis=1
        ).astype("int64")
        return pd.Series(list(S), index=v.index)

    return df.withColumn(out_col, _sigs(F.col(vec_col)))


def make_planes(dim: int, bits: int, seed: int = 1234) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes (no numpy RNG state —
    a simple LCG keeps the planes reproducible everywhere)."""
    planes = []
    state = seed & 0x7FFFFFFF
    for _ in range(bits):
        row = []
        for _ in range(dim):
            state = (1103515245 * state + 12345) % (1 << 31)
            row.append((state / float(1 << 31)) * 2.0 - 1.0)
        planes.append(row)
    return planes


def lsh_cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    bits: int = 8,
    tables: int = 2,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ANN top-k: ``tables`` independent signature tables → candidate
    equi-join on (table, signature) → exact re-rank. All signatures for
    both sides compute in ONE Arrow pass per side (multi_signature);
    the per-table bucket joins collapse into a single equi-join on the
    posexploded (tbl, sig) pairs. Recall measured vs brute force in
    tests (never exact-compared)."""
    planes_list = [
        make_planes(dim, bits, seed=1234 + 7919 * t) for t in range(tables)
    ]
    c = multi_signature(
        ensure_parallelism(corpus).select(
            F.col(id_col).alias("c_id"), F.col(vec_col).alias("c_vec")
        ),
        planes_list,
        "c_vec",
    )
    q = multi_signature(
        queries.select(F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_vec")),
        planes_list,
        "q_vec",
    )
    ce = c.select("c_id", "c_vec", F.posexplode("sigs").alias("tbl", "sig"))
    qe = q.select("q_id", "q_vec", F.posexplode("sigs").alias("tbl", "sig"))
    cand = (
        ce.join(broadcast(qe), ["tbl", "sig"])
        .dropDuplicates(["q_id", "c_id"])
        .filter(F.col("c_id") != F.col("q_id"))
    )
    scored = cand.withColumn("cosine", _cosine(F.col("q_vec"), F.col("c_vec")))
    return _topk(scored, k).select("q_id", "c_id", "cosine", "rank")


def embedding_near_dup_pairs(
    df: DataFrame,
    threshold: float = 0.95,
    bits: int = 8,
    tables: int = 4,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via LSH buckets + exact
    cosine verification — the scale path for semantic dedup. All
    ``tables`` signatures compute in one Arrow pass; the per-table
    self-joins collapse into one equi-join on (tbl, sig); the signature
    table persists because the self-join reads it twice."""
    sig = multi_signature(
        ensure_parallelism(df).select(
            F.col(id_col).alias("id"), F.col(vec_col).alias("vec")
        ),
        [make_planes(dim, bits, seed=4321 + 104729 * t) for t in range(tables)],
        "vec",
    ).select(
        "id", "vec", F.posexplode("sigs").alias("tbl", "sig")
    ).persist(StorageLevel.MEMORY_AND_DISK)
    l, r = sig.alias("l"), sig.alias("r")
    pairs = (
        l.join(
            r,
            (F.col("l.tbl") == F.col("r.tbl"))
            & (F.col("l.sig") == F.col("r.sig"))
            & (F.col("l.id") < F.col("r.id")),
        )
        .select(
            F.col("l.id").alias("id1"),
            F.col("l.vec").alias("v1"),
            F.col("r.id").alias("id2"),
            F.col("r.vec").alias("v2"),
        )
        .dropDuplicates(["id1", "id2"])
    )
    return (
        pairs.withColumn("cosine", _cosine(F.col("v1"), F.col("v2")))
        .filter(F.col("cosine") >= threshold)
        .select("id1", "id2", "cosine")
    )


def _unit_rows(vectors) -> np.ndarray:
    """The vectors stacked as float64 rows, each scaled to unit L2
    norm."""
    M = np.vstack(vectors).astype("float64")
    return M / np.linalg.norm(M, axis=1, keepdims=True)


def _query_matrix(
    queries: DataFrame, id_col: str, vec_col: str
) -> tuple[np.ndarray, np.ndarray]:
    """The query ids and unit query rows on the driver — a collect
    bounded by the query set (the broadcast contract), never the
    corpus."""
    qrows = queries.select(id_col, vec_col).collect()
    q_ids = np.array([r[0] for r in qrows], dtype="int64")
    return q_ids, _unit_rows([r[1] for r in qrows])


def _centroids(
    corpus: DataFrame, n_cells: int, id_col: str, vec_col: str
) -> np.ndarray:
    """Deterministic coarse-quantizer centroids: an evenly-spread,
    hash-ordered sample of corpus vectors. A k-means refinement would
    drop in here; for bucketing correctness (and testability) any
    fixed, well-spread codebook works. The collect is bounded by
    ``n_cells`` (the codebook is always tiny relative to the corpus —
    at 100 TB you sample ~2^14 centroids, a few MB on the driver)."""
    rows = (
        corpus.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"))
        .withColumn("__h", F.xxhash64("id"))
        .orderBy("__h")
        .limit(n_cells)
        .collect()
    )
    return np.array([r["vec"] for r in rows], dtype="float64")


def _cell_assigner(C: np.ndarray, nprobe: int):
    """pandas UDF: top-``nprobe`` nearest cells (by cosine) per vector,
    one Arrow-batched matmul against the normalized codebook."""
    Cn = _unit_rows(C)

    @pandas_udf("array<int>")
    def assign(v: pd.Series) -> pd.Series:
        sims = _unit_rows(v.values) @ Cn.T
        top = np.argsort(-sims, axis=1)[:, :nprobe]
        return pd.Series(list(top.astype("int32")), index=v.index)

    return assign


def _nearest_cell(C: np.ndarray, v):
    """The IVF cell of vector column ``v``: the row of codebook ``C``
    with the highest cosine."""
    return _cell_assigner(C, 1)(v).getItem(0)


def _ivf_probe(q: DataFrame, C: np.ndarray, nprobe: int) -> DataFrame:
    """The IVF probe: query side ``q`` (vector column ``q_vec``) with
    one row per probed cell in ``cell`` — its ``nprobe`` nearest rows
    of ``C``. Callers equi-join it on ``cell`` with a cell-assigned
    corpus and add their own candidate filter. ``nprobe == len(C)``
    probes every cell, so the join is the full candidate block."""
    return q.withColumn(
        "cell", F.explode(_cell_assigner(C, nprobe)(F.col("q_vec")))
    )


def _ivf_topk(cells: DataFrame, q: DataFrame, k: int) -> DataFrame:
    """Exact-cosine top-``k`` over the IVF candidates: cell-assigned
    corpus ``cells`` joined with probed queries ``q`` (from
    :func:`_ivf_probe`) on ``cell``, self-match excluded."""
    cand = cells.join(broadcast(q), "cell").filter(F.col("c_id") != F.col("q_id"))
    return _topk(cand.withColumn("cosine", _cosine(F.col("q_vec"), F.col("c_vec"))), k)


def ivf_build(
    corpus: DataFrame,
    n_cells: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str | None = None,
) -> tuple[np.ndarray, DataFrame]:
    """One-time IVF build state — centroids plus the cell-assigned
    corpus (persisted; caller owns the unpersist). Gate queries that
    probe the SAME index at several ``nprobe`` settings (d07y, d89,
    d92x: the recall probe and the exactness knob) build it once and
    pass it to every :func:`ivf_cosine_topk` /
    :func:`hard_negative_ivf_topk` call instead of re-running the
    centroid scan and the Arrow cell-assignment pass per call —
    exactly what a real deployment does: the index is built once,
    probed many times. Values are bit-identical to the per-call build
    (deterministic hash-ordered centroids, same assigner)."""
    corpus = ensure_parallelism(corpus)
    C = _centroids(corpus, n_cells, id_col, vec_col)
    cols = [
        F.col(id_col).alias("c_id"),
        F.col(vec_col).alias("c_vec"),
    ]
    if label_col is not None:
        cols.insert(1, F.col(label_col).alias("c_label"))
    cells = (
        corpus.select(*cols)
        .withColumn("cell", _nearest_cell(C, F.col("c_vec")))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    return C, cells


def ivf_cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_cells: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: np.ndarray | None = None,
    cells: DataFrame | None = None,
) -> DataFrame:
    """IVF (inverted-file) ANN top-k — the partition-pruned scale path.

    Build: every corpus vector is assigned to its nearest centroid cell
    (one matmul per Arrow batch). Probe: each query fans out to its
    ``nprobe`` nearest cells only, candidates come from an equi-join on
    ``cell``, and exact cosine re-ranks them. With ``n_cells`` cells
    and ``nprobe`` probes the scan fraction is ~``nprobe/n_cells`` of
    the corpus per query — the knob that turns brute-force O(N·Q) into
    O(N·Q·nprobe/n_cells). At rest, partitioning/bucketing the corpus
    table BY cell turns the probe into partition pruning: only probed
    cells are even read.

    Recall is probabilistic (vectors near cell boundaries can hide in
    unprobed cells) — measured against brute force in tests, never
    hash-compared.

    ``centroids``/``cells`` (from :func:`ivf_build`) inject the
    one-time build state so multi-probe gates don't rebuild the index
    per call. Pass both or neither; without both, :func:`ivf_build`
    builds the index here."""
    if centroids is None or cells is None:
        centroids, cells = ivf_build(corpus, n_cells, id_col, vec_col)
    q = _ivf_probe(
        queries.select(F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_vec")),
        centroids,
        nprobe,
    )
    return _ivf_topk(cells, q, k).select("q_id", "c_id", "cosine", "rank")


def blocked_cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k with block-local pre-reduction — the shuffle-minimal
    form of brute force.

    The naive plan (d07) shuffles all |corpus|×|queries| scored rows
    into the ranking window. Here each Arrow batch computes its scores
    as one numpy matmul and keeps only its local top-k per query, so
    the shuffle carries ≤ batches×k×|queries| candidate rows — at 100 TB
    that is the difference between shuffling the corpus and shuffling a
    few thousand rows. The final window re-ranks candidates exactly.

    Queries are collected to the driver and shipped in the closure —
    bounded by the query set (same contract as broadcast), NOT the
    corpus. Results are rank-identical to d07; cosines differ only in
    the last float ulp (numpy pairwise summation vs sequential fold),
    so this variant is verified by rank-equality tests, not hash match.
    """
    q_ids, Qn = _query_matrix(queries, id_col, vec_col)

    def local_topk(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf[id_col].values.astype("int64")
            sims = _unit_rows(pdf[vec_col].values) @ Qn.T  # (n_corpus_batch, n_queries)
            sims[ids[:, None] == q_ids[None, :]] = -np.inf  # self-match
            kk = min(k, sims.shape[0])
            top = np.argpartition(-sims, kk - 1, axis=0)[:kk]  # (kk, Q)
            out_q, out_c, out_s = [], [], []
            for j in range(sims.shape[1]):
                sel = top[:, j]
                out_q.extend([q_ids[j]] * len(sel))
                out_c.extend(ids[sel])
                out_s.extend(sims[sel, j])
            yield pd.DataFrame(
                {"q_id": out_q, "c_id": out_c, "cosine": out_s}
            )

    cand = ensure_parallelism(corpus).mapInPandas(
        local_topk, "q_id long, c_id long, cosine double"
    )
    return _topk(cand, k).select("q_id", "c_id", "cosine", "rank")


def pq_train(
    corpus: DataFrame,
    m: int = 8,
    ksub: int = 16,
    n_train: int = 256,
    iters: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> np.ndarray:
    """Product-quantization codebooks: per-subspace k-means over a
    deterministic (hash-ordered) training sample of L2-normalized
    corpus vectors. Returns (m, ksub, dsub) centroids.

    Deterministic by construction — fixed sample, first-``ksub`` init,
    fixed Lloyd iteration count, numpy first-index argmin tiebreak — so
    repeated builds produce identical codebooks (reproducible encodes
    across runs/engines matter more than the last % of quantization
    error). The collect is bounded by ``n_train`` vectors (a few KB);
    at 100 TB you train on a sample exactly like this, never the
    corpus."""
    rows = (
        corpus.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"))
        .withColumn("__h", F.xxhash64("id"))
        .orderBy("__h")
        .limit(n_train)
        .collect()
    )
    Xn = _unit_rows([r["vec"] for r in rows])
    d = Xn.shape[1]
    if d % m:
        raise ValueError(f"pq_train: dim {d} not divisible by m={m}")
    dsub = d // m
    books = []
    for j in range(m):
        S_ = Xn[:, j * dsub : (j + 1) * dsub]
        C = S_[:ksub].copy()
        for _ in range(iters):
            a = _nearest_codeword(S_, C)
            for c in range(ksub):
                pts = S_[a == c]
                if len(pts):
                    C[c] = pts.mean(0)
        books.append(C)
    return np.stack(books)


def _nearest_codeword(S_: np.ndarray, C: np.ndarray) -> np.ndarray:
    """Per row of ``S_``, the index of the nearest row of ``C`` by
    squared L2 (first index on ties)."""
    d2 = (S_**2).sum(1)[:, None] - 2.0 * S_ @ C.T + (C**2).sum(1)[None, :]
    return d2.argmin(1)


def _pq_codes(Mn: np.ndarray, B: np.ndarray) -> np.ndarray:
    """PQ codes of unit rows ``Mn``: per subspace ``j``, the nearest
    codeword of ``B[j]``."""
    m, _, dsub = B.shape
    codes = np.empty((len(Mn), m), dtype="int32")
    for j in range(m):
        codes[:, j] = _nearest_codeword(Mn[:, j * dsub : (j + 1) * dsub], B[j])
    return codes


def pq_cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    m: int = 8,
    ksub: int = 16,
    rerank: int = 20,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    codebooks: np.ndarray | None = None,
) -> DataFrame:
    """Product-quantization ANN top-k — the memory-bound scale path.

    Each corpus vector compresses to ``m`` codebook indices (m bytes at
    ksub≤256 — 32× smaller than 64-d float32), and a query scores a
    vector with ``m`` table lookups instead of a d-dim dot product: the
    asymmetric-distance (ADC) scan. Per Arrow batch: encode, score ALL
    queries via LUT gather (one numpy take per subspace), keep the
    local top-``rerank`` per query, compute EXACT cosine only for those
    survivors — so the shuffle carries ≤ batches×rerank×|queries| rows
    with exact scores, and the final window re-ranks exactly (same
    candidates-approx/scores-exact discipline as the LSH and IVF
    paths). ``rerank ≥ batch size`` degenerates to exact brute force —
    the knob trades recall against scan cost, never against score
    correctness. At rest, the codes column is precomputed once and the
    scan never touches raw vectors until re-rank.

    Recall is probabilistic (quantization error can evict a true
    neighbor from the rerank pool) — measured against brute force in
    tests, never hash-compared.

    ``codebooks`` (from :func:`pq_train`) injects the one-time build
    so multi-rerank gates (d07v's recall probe + exact-degenerate
    knob, d07u's path-equivalence pair) train once, scan per setting
    — the deterministic trainer makes the injected array identical
    to the per-call one."""
    B = (
        pq_train(corpus, m=m, ksub=ksub, id_col=id_col, vec_col=vec_col)
        if codebooks is None
        else codebooks
    )
    dsub = B.shape[2]
    q_ids, Qn = _query_matrix(queries, id_col, vec_col)
    # LUT[q, j, c] = <query_q subvector j, codeword c> ; cosine ≈ Σ_j LUT
    LUT = np.einsum("qjd,jcd->qjc", Qn.reshape(len(Qn), m, dsub), B)

    def scan(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf[id_col].values.astype("int64")
            Mn = _unit_rows(pdf[vec_col].values)
            codes = _pq_codes(Mn, B)
            # approx[q, i] = Σ_j LUT[q, j, codes[i, j]]
            approx = np.zeros((len(q_ids), len(ids)))
            for j in range(m):
                approx += LUT[:, j, codes[:, j]]
            approx[ids[None, :] == q_ids[:, None]] = -np.inf  # self-match
            r = min(rerank, approx.shape[1])
            top = np.argpartition(-approx, r - 1, axis=1)[:, :r]  # (Q, r)
            out_q, out_c, out_s = [], [], []
            for qi in range(len(q_ids)):
                sel = top[qi]
                # drop self-matches here too: the -inf mask only keeps
                # self out of the approx ranking, and with rerank >= n
                # the exact re-score would resurrect it at cosine 1.0
                sel = sel[ids[sel] != q_ids[qi]]
                exact = Mn[sel] @ Qn[qi]  # exact cosine for survivors
                out_q.extend([q_ids[qi]] * len(sel))
                out_c.extend(ids[sel])
                out_s.extend(exact)
            yield pd.DataFrame({"q_id": out_q, "c_id": out_c, "cosine": out_s})

    cand = ensure_parallelism(corpus).mapInPandas(
        scan, "q_id long, c_id long, cosine double"
    )
    return _topk(cand, k).select("q_id", "c_id", "cosine", "rank")


def pq_encode(
    corpus: DataFrame,
    B: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_assign=None,
) -> DataFrame:
    """Encode every corpus vector to its ``m`` PQ codebook indices —
    the ONE-TIME build step of the at-rest design: the output
    (id[, cell], codes) table is what a 100 TB deployment persists
    (partitioned/bucketed by ``cell``), and the serving scan reads m
    bytes per vector instead of d floats (32x less IO at m=8, d=64
    float32). Raw vectors are touched again only at re-rank, by id.

    ``cell_assign`` (optional function from the vector column to its
    IVF coarse cell, such as ``partial(_nearest_cell, C)``) adds the
    cell in the same pass."""

    def enc(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            codes = _pq_codes(_unit_rows(pdf[vec_col].values), B)
            yield pd.DataFrame(
                {"id": pdf[id_col].values, "codes": list(codes)}
            )

    out = ensure_parallelism(corpus).mapInPandas(
        enc, "id long, codes array<int>"
    )
    if cell_assign is not None:
        cells = corpus.select(
            F.col(id_col).alias("id"),
            cell_assign(F.col(vec_col)).alias("cell"),
        )
        out = out.join(cells, "id")
    return out


def _adc_scan_topk(
    encoded: DataFrame,
    corpus: DataFrame,
    queries: DataFrame,
    B: np.ndarray,
    k: int,
    rerank: int,
    id_col: str,
    vec_col: str,
    C: np.ndarray | None = None,
    nprobe: int | None = None,
):
    """Codes-only ADC scan + exact join-back re-rank, shared by the
    flat-PQ and IVF-PQ serving paths.

    The scan consumes the (id[, cell], codes) table ONLY — raw vectors
    never enter it. Per Arrow batch: gather approx scores for all
    queries from the per-query LUT, keep the local top-``rerank`` per
    query, emit (q_id, c_id) survivors. Survivors (≤ batches × rerank ×
    |queries| rows) then equi-join BACK to the corpus by id for the
    exact cosine — candidates approximate, scores exact, and on a real
    deployment that join-back is a point-lookup fan-out against the
    vector store, not a second scan. With IVF centroids ``C``
    (IVF-PQ), a query only scores rows in its ``nprobe`` nearest
    cells — at rest the cell is a partition key and unprobed cells are
    never read; here the mask prunes inside the batch."""
    m, _, dsub = B.shape
    q_ids, Qn = _query_matrix(queries, id_col, vec_col)
    LUT = np.einsum("qjd,jcd->qjc", Qn.reshape(len(Qn), m, dsub), B)
    has_cells = C is not None
    if has_cells:
        # one column per cell, probed or not: a batch row can live in
        # a cell no query probes
        probed = np.zeros((len(q_ids), len(C)), dtype=bool)
        top = np.argsort(-(Qn @ _unit_rows(C).T), axis=1)[:, :nprobe]
        np.put_along_axis(probed, top, True, axis=1)

    def scan(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf["id"].values.astype("int64")
            codes = np.vstack(pdf["codes"].values).astype("int64")
            approx = np.zeros((len(q_ids), len(ids)))
            for j in range(m):
                approx += LUT[:, j, codes[:, j]]
            approx[ids[None, :] == q_ids[:, None]] = -np.inf
            if has_cells:
                cells = pdf["cell"].values.astype("int64")
                approx[~probed[:, cells]] = -np.inf
            r = min(rerank, approx.shape[1])
            top = np.argpartition(-approx, r - 1, axis=1)[:, :r]
            out_q, out_c = [], []
            for qi in range(len(q_ids)):
                sel = top[qi][approx[qi, top[qi]] > -np.inf]
                out_q.extend([q_ids[qi]] * len(sel))
                out_c.extend(ids[sel])
            yield pd.DataFrame({"q_id": out_q, "c_id": out_c})

    survivors = encoded.mapInPandas(scan, "q_id long, c_id long")
    c_side = corpus.select(
        F.col(id_col).alias("c_id"),
        F.col(vec_col).alias("c_vec"),
        F.sqrt(_norm_sq(F.col(vec_col))).alias("c_nrm"),
    )
    q_side = queries.select(
        F.col(id_col).alias("q_id"),
        F.col(vec_col).alias("q_vec"),
        F.sqrt(_norm_sq(F.col(vec_col))).alias("q_nrm"),
    )
    scored = (
        survivors.join(c_side, "c_id")
        .join(broadcast(q_side), "q_id")
        .withColumn(
            "cosine",
            _cosine(F.col("q_vec"), F.col("c_vec"), F.col("q_nrm"), F.col("c_nrm")),
        )
    )
    return _topk(scored, k).select("q_id", "c_id", "cosine", "rank")


def pq_codes_cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    m: int = 8,
    ksub: int = 16,
    rerank: int = 20,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    codebooks: np.ndarray | None = None,
) -> DataFrame:
    """Flat PQ ANN over a PRECOMPUTED codes table — the at-rest design
    the d07v docstring promises: encode once (persisted, standing in
    for the parquet codes table), serve every query from the codes-only
    ADC scan, fetch raw vectors only for the re-rank survivors.
    Candidate quality is identical to :func:`pq_cosine_topk` (same
    codebooks, same ADC math); the difference is WHERE the encode cost
    sits — build-time, not per-query. ``codebooks`` injects a
    pre-trained :func:`pq_train` array (path-equivalence gates share
    one training pass)."""
    B = (
        pq_train(corpus, m=m, ksub=ksub, id_col=id_col, vec_col=vec_col)
        if codebooks is None
        else codebooks
    )
    encoded = pq_encode(corpus, B, id_col=id_col, vec_col=vec_col).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    return _adc_scan_topk(
        encoded, corpus, queries, B, k, rerank, id_col, vec_col
    )


def ivf_pq_cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_cells: int = 16,
    nprobe: int = 8,
    m: int = 8,
    ksub: int = 16,
    rerank: int = 20,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-PQ — the composition that actually serves 100 TB: the IVF
    coarse quantizer prunes the scan to ~nprobe/n_cells of the corpus
    (partition pruning at rest: the codes table is partitioned by
    cell), PQ compresses what remains to m bytes per vector (32x IO),
    and the exact re-rank touches only rerank×|queries| raw vectors.
    Both components are the already-tested operators — same centroids
    as :func:`ivf_cosine_topk`, same codebooks as
    :func:`pq_cosine_topk`."""
    C = _centroids(corpus, n_cells, id_col, vec_col)
    B = pq_train(corpus, m=m, ksub=ksub, id_col=id_col, vec_col=vec_col)
    encoded = pq_encode(
        corpus, B, id_col=id_col, vec_col=vec_col,
        cell_assign=partial(_nearest_cell, C),
    ).persist(StorageLevel.MEMORY_AND_DISK)
    return _adc_scan_topk(
        encoded, corpus, queries, B, k, rerank, id_col, vec_col, C, nprobe
    )


def semantic_dedup(
    corpus: DataFrame,
    n_cells: int = 16,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): cluster the embedding space coarsely, then
    search for near-duplicates ONLY within each cluster — the
    all-pairs comparison collapses from O(n²) to Σ O(|cluster|²),
    and each cluster's pair-join is an equi-join on ``cell`` that
    shuffles once and parallelizes per cluster.

    Removal rule (deterministic): an item is a duplicate iff some
    SMALLER id in its cluster has cosine >= ``threshold`` with it; the
    surviving smallest id is the group representative. Returns
    ``(id, keep boolean, dup_of nullable)`` where ``dup_of`` is the
    smallest qualifying smaller id.

    Scale notes: the centroid collect is bounded by ``n_cells`` (at
    100 TB you raise n_cells to keep |cluster| ~ constant, exactly the
    IVF knob); cosine is scale-invariant so the cell assignment and the
    verification agree for scaled twins. Recall is probabilistic near
    cluster boundaries (a near-dup pair split across cells is missed) —
    like every LSH/IVF operator here it is gated by planted-pair
    probes, never hash-compared raw."""
    corpus = ensure_parallelism(corpus)
    C = _centroids(corpus, n_cells, id_col, vec_col)
    cells = corpus.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("vec")
    ).withColumn("cell", _nearest_cell(C, F.col("vec"))).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    a = cells.select(
        F.col("cell"),
        F.col("id").alias("id_small"),
        F.col("vec").alias("vec_small"),
    )
    b = cells.select(
        F.col("cell"),
        F.col("id").alias("id_big"),
        F.col("vec").alias("vec_big"),
    )
    pairs = a.join(b, "cell").filter(F.col("id_small") < F.col("id_big"))
    near = pairs.withColumn(
        "cosine", _cosine(F.col("vec_small"), F.col("vec_big"))
    ).filter(F.col("cosine") >= threshold)
    dup_of = near.groupBy("id_big").agg(F.min("id_small").alias("dup_of"))
    return (
        cells.select("id")
        .join(dup_of, cells["id"] == dup_of["id_big"], "left")
        .select(
            "id",
            F.col("dup_of").isNull().alias("keep"),
            "dup_of",
        )
    )


def sq8_cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    shortlist: int = 20,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Scalar-quantized (SQ8) ANN: per-dimension int8 codes at rest,
    approximate scan on the codes, exact re-rank of the shortlist —
    the third quantization family next to PQ (d07v/u) and IVF-PQ
    (d07t), and the one FAISS ships as ``SQ8``: 4x smaller than
    float32 at rest with near-exact recall, no codebook training.

    Quantizer: ``code_d = round((x_d - min_d) / scale_d) - 128`` with
    per-dim [min, max] over the corpus and ``scale = range/255``. The
    2 x dim stats are the entire "codebook" — a bounded driver collect
    (dim rows; same class as PQ's centroid collect, documented there).
    The scan dequantizes codes on the fly (pure codegen arithmetic),
    takes the top-``shortlist`` per query by approximate cosine, and
    re-ranks ONLY those against raw vectors — at 100 TB the raw float
    column is touched for shortlist x |queries| rows, everything else
    reads the int8 column."""
    stats = (
        corpus.select(F.posexplode(F.col(vec_col)).alias("pos", "x"))
        .groupBy("pos")
        .agg(F.min("x").alias("mn"), F.max("x").alias("mx"))
        .orderBy("pos")
        .collect()
    )
    mins = [float(r.mn) for r in stats]
    scales = [max((float(r.mx) - float(r.mn)) / 255.0, 1e-12) for r in stats]
    mins_arr = F.array(*[F.lit(m) for m in mins])
    sc_arr = F.array(*[F.lit(s) for s in scales])

    def enc(col):
        shifted = F.zip_with(col, mins_arr, lambda x, m: x.cast("double") - m)
        return F.zip_with(
            shifted, sc_arr, lambda y, s: (F.round(y / s) - 128).cast("tinyint")
        )

    def deq(codes):
        scaled = F.zip_with(
            codes, sc_arr, lambda c, s: (c.cast("double") + 128.0) * s
        )
        return F.zip_with(scaled, mins_arr, lambda y, m: y + m)

    # the at-rest artifact: id + int8 codes (stands in for the parquet
    # codes table a real deployment would persist alongside the corpus)
    codes = corpus.select(
        F.col(id_col).alias("c_id"), enc(F.col(vec_col)).alias("c_codes")
    ).persist(StorageLevel.MEMORY_AND_DISK)
    qb = queries.select(
        F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_vec")
    ).withColumn("q_norm", F.sqrt(_norm_sq(F.col("q_vec"))))
    cd = ensure_parallelism(codes).withColumn("c_deq", deq(F.col("c_codes")))
    cd = cd.withColumn("c_dnorm", F.sqrt(_norm_sq(F.col("c_deq"))))
    approx = (
        cd.crossJoin(broadcast(qb))
        .filter(F.col("c_id") != F.col("q_id"))
        .withColumn(
            "ascore",
            _cosine(
                F.col("q_vec"), F.col("c_deq"), F.col("q_norm"), F.col("c_dnorm")
            ),
        )
    )
    shortl = _topk(approx, shortlist, "ascore").select("q_id", "c_id")
    c_raw = corpus.select(
        F.col(id_col).alias("c_id"), F.col(vec_col).alias("c_vec")
    )
    scored = (
        shortl.join(c_raw, "c_id")
        .join(broadcast(qb), "q_id")
        .withColumn("c_norm", F.sqrt(_norm_sq(F.col("c_vec"))))
        .withColumn(
            "cosine",
            _cosine(F.col("q_vec"), F.col("c_vec"), F.col("q_norm"), F.col("c_norm")),
        )
    )
    return _topk(scored, k).select("q_id", "c_id", "cosine", "rank")


def kmeans_lloyd(
    df: DataFrame,
    k: int = 8,
    n_iter: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Distributed Lloyd k-means over an embedding column — the
    training step for the IVF coarse quantizer (``_centroids`` is the
    untrained sample this refines; FAISS trains its IVF lists exactly
    this way). Returns ``(assignments, sse_per_iter, centroids)``
    where assignments is a DataFrame (id, cid, d2).

    Execution shape per iteration (everything distributed except ONE
    bounded collect):

    - **assign**: per-row ``array_min`` over k ``struct(d2, cid)``
      literal-codebook cells; the squared-L2 is a JVM
      ``zip_with``/``aggregate`` fold (no Python, no join, no
      shuffle); tie-break on cid is pinned, so assignment is
      deterministic.
    - **update**: posexplode dims → mean per (cid, dim) — a k·d-row
      aggregate COLLECTED to the driver (bounded: k·d doubles, the
      codebook itself; same bound as every codebook collect in this
      module). Empty clusters keep their previous centroid.
    - **sse**: per-row d2 nano-quantized to int64 before the order-free
      sum, so the monotonicity sequence is bit-stable across runs and
      partitionings.

    At 100 TB: k~2^14, d~10^3 → the codebook is ~100 MB broadcast and
    the per-iteration shuffle is one k·d-key aggregate — the textbook
    scalable shape (cost is n·k·d multiply-adds per iteration, all in
    codegen; mini-batch or sampled variants drop in by filtering df).

    Plan shape (optimization round 13): the assign step folds the
    codebook into the row expression — ``array_min`` over k
    ``struct(d2, cid)`` literals — instead of a corpus×codebook
    crossJoin + groupBy(id) argmin, which shuffled n·k rows per
    iteration for a reduction that needs no data movement at all
    (guide §2.4: remove shuffles outright). The per-vector d2 is the
    SAME elementwise ``zip_with`` fold as before (bit-identical
    assignment, same (d2, cid) tie-break as the old
    ``min(struct(d2, cid))``), and the SSE quantization and centroid
    means are unchanged — one iteration is now ONE action (a single
    k·d-group aggregate carrying both the new codebook and the SSE
    term) instead of three (persist + SSE collect + join/explode
    collect). For codebooks too large to inline as literals (the
    2^14-cell regime) the broadcast-join form this replaced is the
    fallback; at k≲2^7 the expression form wins at every scale because
    the shuffle it removes grows with n."""
    C = _centroids(df, k, id_col, vec_col).copy()
    base = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"))
    sse: list[int] = []
    g = None

    def _best(codebook) -> F.Column:
        cells = []
        for cid in range(len(codebook)):
            cvec = F.array(*[F.lit(float(x)) for x in codebook[cid]])
            d2 = F.aggregate(
                F.zip_with(
                    "vec",
                    cvec,
                    lambda a, b: (a.cast("double") - b)
                    * (a.cast("double") - b),
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            cells.append(
                F.struct(d2.alias("d2"), F.lit(cid).cast("int").alias("cid"))
            )
        return F.array_min(F.array(*cells))

    for _ in range(n_iter):
        g = base.withColumn("best", _best(C))
        # ONE pass: per-(cid, dim) mean for the next codebook, plus the
        # iteration SSE smuggled through the pos=0 groups (every vector
        # contributes its quantized d2 exactly once there — identical
        # to the old whole-frame sum).
        upd = (
            g.select(
                F.col("best.cid").alias("cid"),
                F.floor(F.col("best.d2") * 1000000000)
                .cast("bigint")
                .alias("q"),
                F.posexplode("vec").alias("pos", "val"),
            )
            .groupBy("cid", "pos")
            .agg(
                F.avg(F.col("val").cast("double")).alias("m"),
                F.sum(F.when(F.col("pos") == 0, F.col("q"))).alias("q0"),
            )
            .collect()  # bounded: k*d rows — the next codebook
        )
        sse.append(int(sum(r["q0"] for r in upd if r["q0"] is not None)))
        for r in upd:
            C[r["cid"]][r["pos"]] = r["m"]
    assignments = g.select(
        "id", F.col("best.cid").alias("cid"), F.col("best.d2").alias("d2")
    )
    return assignments, sse, C


def _bitext_targets(tgt: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """The bitext target side as ``(tgt_id, c_vec, c_norm)``."""
    return with_norm(
        ensure_parallelism(tgt).select(
            F.col(id_col).alias("tgt_id"), F.col(vec_col).alias("c_vec")
        ),
        "c_vec",
    ).withColumnRenamed("norm", "c_norm")


def bitext_ivf_build(
    tgt: DataFrame,
    n_cells: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[np.ndarray, DataFrame]:
    """One-time target-side IVF build for :func:`bitext_margin_pairs`:
    centroids plus the normed, cell-assigned target frame (persisted;
    caller owns the unpersist). The frame is byte-identical to the one
    each ``ivf=`` call would build internally — the d90 gate probes
    one index twice (recall probe + exactness knob) instead of
    rebuilding it per setting."""
    c = _bitext_targets(tgt, id_col, vec_col)
    C = _centroids(c, n_cells, "tgt_id", "c_vec")
    cells = c.withColumn("cell", _nearest_cell(C, F.col("c_vec"))).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    return C, cells


def bitext_margin_pairs(
    src: DataFrame,
    tgt: DataFrame,
    k: int = 4,
    threshold: float = 1.05,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    ivf: tuple[int, int] | None = None,
    ivf_centroids: np.ndarray | None = None,
    ivf_cells: DataFrame | None = None,
) -> DataFrame:
    """Margin-based bitext mining (Artetxe & Schwenk, ACL 2019 — the
    CCMatrix/LASER parallel-corpus miner): for every source-side
    vector, its best target-side candidate scored by the RATIO margin

        margin(x, y) = cos(x, y) / ((fwd_k(x) + bwd_k(y)) / 2)

    where ``fwd_k(x)`` is the mean cosine of x's k nearest targets and
    ``bwd_k(y)`` the mean cosine of y's k nearest sources. The margin
    normalizes away "hub" vectors that are close to everything — raw
    cosine thresholds are not comparable across query density, which
    is why production bitext pipelines mine on margin, not cosine.

    Exactness/portability: the kNN means are computed from cosines
    quantized to 1e-9 (integer sums — order-free), so the final margin
    is one identical double formula in Spark and DuckDB.

    Scale shape: the source side broadcasts against a never-shuffled
    target scan; the scored block is persisted once and reused for the
    forward means, backward means, and final re-rank (three
    aggregations over one materialization). The per-side kNN means are
    tiny (|src| and |tgt| rows) and broadcast back onto the block. At
    100 TB both "nearest" scans swap to the IVF probe (ivf_cosine_topk)
    per side — the margin formula and rank logic are unchanged, only
    the candidate generator narrows from the full bipartite block to
    cell-pruned candidates.

    ``ivf=(n_cells, nprobe)`` activates exactly that swap: the target
    side is bucketed into ``n_cells`` centroid cells once, each source
    vector probes its ``nprobe`` nearest cells, and the scored block —
    and therefore the kNN means feeding the margin — is computed over
    the cell-pruned candidates only. ``nprobe == n_cells`` probes
    every cell, making the candidate block the full bipartite product:
    output identical to the exact path (the d90 exactness knob).
    Below that, recall is measured (d90 gate), never hash-compared.

    ``ivf_centroids``/``ivf_cells`` inject the one-time target-side
    build (centroids from :func:`bitext_ivf_build`, which also returns
    the cell-assigned normed target frame) so the d90 gate's two probe
    settings share one centroid scan and one Arrow assignment pass.
    Pass both or neither; without both, :func:`bitext_ivf_build`
    builds the index here."""
    q = with_norm(
        src.select(
            F.col(id_col).alias("src_id"), F.col(vec_col).alias("q_vec")
        ),
        "q_vec",
    ).withColumnRenamed("norm", "q_norm")
    if ivf is not None:
        n_cells, nprobe = ivf
        if ivf_centroids is None or ivf_cells is None:
            ivf_centroids, ivf_cells = bitext_ivf_build(
                tgt, n_cells, id_col, vec_col
            )
        block = ivf_cells.join(
            broadcast(_ivf_probe(q, ivf_centroids, nprobe)), "cell"
        )
    else:
        block = _bitext_targets(tgt, id_col, vec_col).crossJoin(broadcast(q))
    scored = (
        block.withColumn(
            "cosine",
            _cosine(F.col("q_vec"), F.col("c_vec"), F.col("q_norm"), F.col("c_norm")),
        )
        .select("src_id", "tgt_id", "cosine")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    c9 = F.round(F.col("cosine") * 1e9, 0).cast("bigint")
    w_fwd = Window.partitionBy("src_id").orderBy(
        F.desc("cosine"), F.asc("tgt_id")
    )
    fwd = (
        scored.withColumn("rn", F.row_number().over(w_fwd))
        .filter(F.col("rn") <= k)
        .groupBy("src_id")
        .agg(F.sum(c9).alias("s9"))
        .select(
            "src_id",
            (F.col("s9").cast("double") / (k * 1e9)).alias("fwd_avg"),
        )
    )
    w_bwd = Window.partitionBy("tgt_id").orderBy(
        F.desc("cosine"), F.asc("src_id")
    )
    bwd = (
        scored.withColumn("rn", F.row_number().over(w_bwd))
        .filter(F.col("rn") <= k)
        .groupBy("tgt_id")
        .agg(F.sum(c9).alias("s9"))
        .select(
            "tgt_id",
            (F.col("s9").cast("double") / (k * 1e9)).alias("bwd_avg"),
        )
    )
    m = (
        scored.join(broadcast(fwd), "src_id")
        .join(broadcast(bwd), "tgt_id")
        .withColumn(
            "margin",
            F.col("cosine") / ((F.col("fwd_avg") + F.col("bwd_avg")) / 2),
        )
    )
    w_top = Window.partitionBy("src_id").orderBy(
        F.desc("margin"), F.asc("tgt_id")
    )
    return (
        m.withColumn("rn", F.row_number().over(w_top))
        .filter(F.col("rn") == 1)
        .select(
            "src_id",
            "tgt_id",
            F.round("cosine", 6).alias("cosine"),
            F.round("margin", 6).alias("margin"),
            (F.col("margin") >= threshold).alias("mined"),
        )
    )


def mmr_rerank(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    m: int = 20,
    lam: float = 0.7,
    mu: float | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein
    1998): per query, greedily select k of the m exact-cosine
    candidates maximizing ``lam * rel(c) - (1-lam) * max_{s in
    selected} sim(c, s)`` — the diversity-aware retrieval head RAG
    pipelines bolt onto a top-k kernel so five near-identical chunks
    don't crowd out coverage.

    Split of labor (the k54 contract): everything PARALLEL is JVM —
    the exact top-m candidate kernel (brute_force_cosine_topk; swap
    the IVF kernel at 100 TB), hits-only embedding hydration, and the
    m*(m-1) candidate-pair cosines per query (zip_with/aggregate
    folds, bit-identical to the DuckDB list folds) — while the
    intrinsically SEQUENTIAL greedy walk runs per query in an Arrow
    cogrouped applyInPandas over the tiny (m rows + m^2 sims) per-query
    state. The walk itself only compares and scales scalars (no
    re-summation), so float semantics stay engine-portable.

    Shuffle story: candidates are k-bounded (m*Q rows), sims m^2*Q —
    both independent of corpus size; one hash exchange on q_id feeds
    the cogroup. Ties break on candidate id ascending.

    ``mu`` is the diversity-penalty weight, default ``1.0 - lam``.
    Pass it EXPLICITLY when an external oracle replays the walk with a
    literal coefficient: computing ``1.0 - 0.7`` yields
    0.30000000000000004 while the literal ``0.3`` is
    0.29999999999999999 — a one-ulp divergence that can flip a greedy
    argmax on a near-tie between engines (the d79 contract is
    pick-for-pick agreement, so both sides must score with the SAME
    double)."""
    import pandas as pd

    if mu is None:
        mu = 1.0 - lam

    from pyspark.sql.types import LongType, StructField, StructType

    cand = brute_force_cosine_topk(
        corpus, queries, k=m, id_col=id_col, vec_col=vec_col
    ).select("q_id", "c_id", F.col("cosine").alias("rel"))
    cvec = with_norm(
        corpus.select(F.col(id_col).alias("c_id"), F.col(vec_col).alias("cv")),
        "cv",
    )
    hyd = cand.join(cvec, "c_id")
    a, b = hyd.alias("a"), hyd.alias("b")
    sims = (
        a.join(
            b,
            (F.col("a.q_id") == F.col("b.q_id"))
            & (F.col("a.c_id") != F.col("b.c_id")),
        )
        .select(
            F.col("a.q_id").alias("q_id"),
            F.col("a.c_id").alias("a_id"),
            F.col("b.c_id").alias("b_id"),
            _cosine(
                F.col("a.cv"), F.col("b.cv"), F.col("a.norm"), F.col("b.norm")
            ).alias("sim"),
        )
    )
    schema = StructType(
        [
            StructField("q_id", LongType()),
            StructField("pick_order", LongType()),
            StructField("c_id", LongType()),
        ]
    )

    def walk(cand_pdf: pd.DataFrame, sims_pdf: pd.DataFrame) -> pd.DataFrame:
        if cand_pdf.empty:
            return pd.DataFrame(columns=["q_id", "pick_order", "c_id"])
        qid = int(cand_pdf["q_id"].iloc[0])
        rel = dict(zip(cand_pdf["c_id"], cand_pdf["rel"]))
        sim = {
            (x, y): s
            for x, y, s in zip(
                sims_pdf["a_id"], sims_pdf["b_id"], sims_pdf["sim"]
            )
        }
        remaining = sorted(rel)
        picked: list[int] = []
        while remaining and len(picked) < k:
            best, best_score = None, None
            for c in remaining:  # ascending id = deterministic ties
                ms = max((sim[(c, s)] for s in picked), default=0.0)
                score = lam * rel[c] - mu * ms
                if best_score is None or score > best_score:
                    best, best_score = c, score
            picked.append(best)
            remaining.remove(best)
        return pd.DataFrame(
            {
                "q_id": [qid] * len(picked),
                "pick_order": range(1, len(picked) + 1),
                "c_id": picked,
            }
        )

    return (
        cand.groupBy("q_id")
        .cogroup(sims.groupBy("q_id"))
        .applyInPandas(walk, schema)
    )


def ivf_leaf_parent(cell, split_base: int = 100, sub_cells: int = 2):
    """Column expr: the coarse (parent) cell a leaf cell belongs to —
    identity for unsplit cells, the decoded parent for child ids
    minted by :func:`optimize_ivf_index` (pass the SAME ``sub_cells``
    used at split time — the child-id arithmetic depends on it)."""
    return F.when(
        cell >= split_base,
        ((cell - split_base) / sub_cells).cast("int"),
    ).otherwise(cell.cast("int"))


def optimize_ivf_index(
    spark,
    index_dir: str,
    out_dir: str,
    hot_factor: float = 1.5,
    sub_cells: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str = "cell",
    split_base: int = 100,
) -> DataFrame:
    """Hot-cell maintenance for an at-rest IVF index (the d91 layout):
    real vector-store indexes degrade by CELL SKEW — a hot inverted
    list grows unbounded, so probing it scans ever more vectors and
    its directory accumulates small append files (s49's ingest path).
    This is b68's skew diagnosis + b63's compaction pointed at ANN:

    1. audit per-cell row counts (bounded collect: one row per cell);
    2. every cell above ``hot_factor`` x mean — plus the single
       hottest cell, so maintenance is never a no-op — is SPLIT by
       training ``sub_cells`` sub-centroids on the hot cell's vectors
       ONLY (the FAISS re-train-locally recipe; cold lists are never
       read for training);
    3. the whole index is rewritten ``repartition(cell)`` +
       ``partitionBy(cell)`` — exactly one file per inverted list
       (compaction), child lists under minted leaf ids
       ``split_base + sub_cells*parent + j``.

    Returns the (parent, leaf) map the probe side joins through:
    a probe that would have read a split parent reads ALL its children
    — the children partition the parent's rows, so candidate sets (and
    therefore results) are IDENTICAL pre/post: maintenance is lossless
    by construction, and the d93 gate verifies it. Steering the probe
    to the single nearest CHILD instead is the documented recall knob,
    same contract as nprobe.

    Scale: training reads only hot cells; the rewrite is one shuffle
    of the index (in production: rewrite only split parents' dirs);
    the leaf map is O(n_cells) and broadcasts."""
    idx = spark.read.parquet(index_dir)
    counts = idx.groupBy(cell_col).count().collect()
    if not counts:
        raise ValueError("optimize_ivf_index: empty index")
    # Single-pass contract: the child-id minting
    # (split_base + sub_cells*parent + j) and ivf_leaf_parent's
    # one-level decode are only injective over COARSE cell ids
    # < split_base. Re-running the pass on an already-optimized index
    # (or an index whose coarse ids overflow split_base) would decode
    # a hot child to the wrong parent and can collide minted ids —
    # refuse loudly instead of silently corrupting the leaf map.
    over = sorted(
        int(r[cell_col]) for r in counts if int(r[cell_col]) >= split_base
    )
    if over:
        raise ValueError(
            "optimize_ivf_index: input contains cell ids >= split_base "
            f"({over[:5]}{'...' if len(over) > 5 else ''} >= {split_base}); "
            "the pass is single-level — it cannot be re-run on an "
            "already-optimized index (raise split_base or re-train the "
            "coarse quantizer instead)"
        )
    mean = sum(r["count"] for r in counts) / len(counts)
    hot = {r[cell_col] for r in counts if r["count"] > hot_factor * mean}
    hot.add(max(counts, key=lambda r: (r["count"], -r[cell_col]))[cell_col])
    leaf_rows = [
        (int(r[cell_col]), int(r[cell_col]))
        for r in counts
        if r[cell_col] not in hot
    ]
    out = idx.filter(~F.col(cell_col).isin([int(c) for c in hot]))
    for c in sorted(int(x) for x in hot):
        sub = idx.filter(F.col(cell_col) == c)
        C_sub = _centroids(sub, sub_cells, id_col, vec_col)
        child0 = split_base + sub_cells * c
        recoded = sub.withColumn(
            cell_col,
            (F.lit(child0) + _nearest_cell(C_sub, F.col(vec_col))).cast("int"),
        )
        out = out.unionByName(recoded)
        leaf_rows += [(c, child0 + j) for j in range(len(C_sub))]
    (
        out.repartition(F.col(cell_col))
        .write.mode("overwrite")
        .partitionBy(cell_col)
        .parquet(out_dir)
    )
    return spark.createDataFrame(leaf_rows, "parent int, leaf int")
