"""Planted-duplicate recall tests for the approximate dedup pipelines
(FIXTURES.md: approx operators are checked by recall, never hash-equality).
"""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from kafka_data_explorer_cdc_spark.io import load
from kafka_data_explorer_cdc_spark.operators import dedup as D


@pytest.fixture(scope="module")
def planted(spark, sf_dir):
    """Corpus = sf0.001 documents + near-dup copies of 20 of them
    (each with ~5% of tokens replaced), ids offset by 100000."""
    rng = random.Random(17)
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    base = docs.filter(F.col("doc_id") < 20).collect()
    mutated = []
    for r in base:
        toks = r["text"].split(" ")
        n_mut = max(1, len(toks) // 20)
        for _ in range(n_mut):
            toks[rng.randrange(len(toks))] = "zzzmut"
        mutated.append((r["doc_id"] + 100000, " ".join(toks)))
    extra = spark.createDataFrame(mutated, "doc_id long, text string")
    corpus = docs.unionByName(extra)
    expected_pairs = {(r["doc_id"], r["doc_id"] + 100000) for r in base}
    return corpus, expected_pairs


def test_minhash_lsh_recall_and_precision(spark, planted):
    corpus, expected = planted
    pairs = D.minhash_lsh_dedup_pairs(corpus, threshold=0.5)
    got = {(r["id1"], r["id2"]) for r in pairs.collect()}
    recall = len(got & expected) / len(expected)
    assert recall >= 0.8, f"planted-dup recall {recall}"
    # precision is exact by construction: every returned pair passed the
    # exact-Jaccard verification; assert the threshold actually held
    assert pairs.filter(F.col("jaccard") < 0.5).count() == 0


def test_simhash_finds_planted_dups(spark, planted):
    corpus, expected = planted
    fps = D.simhash(corpus)
    # radius 8 needs >8 chunks for lossless candidates (pigeonhole);
    # 9x7-bit chunks are fine on a small corpus (128 buckets/chunk),
    # while the 4x16-bit default pairs with radius <= 3 at scale
    pairs = D.simhash_near_pairs(fps, max_hamming=8, chunks=9)
    got = {(r["id1"], r["id2"]) for r in pairs.collect()}
    recall = len(got & expected) / len(expected)
    assert recall >= 0.8, f"simhash planted-dup recall {recall}"


def test_simhash_radius_chunk_invariant(spark, planted):
    """max_hamming >= chunks would silently lose recall — must raise."""
    corpus, _ = planted
    fps = D.simhash(corpus)
    with pytest.raises(ValueError, match="max_hamming < chunks"):
        D.simhash_near_pairs(fps, max_hamming=8, chunks=4)


def test_hot_bucket_cap_bounds_candidates(spark):
    """One corpus-wide shingle must not produce a quadratic candidate
    set: every doc shares a common 5-token prefix (hot shingles,
    df = n_docs), then diverges into unique tokens. Uncapped, the
    shingle self-join yields C(n,2) pairs; capped, zero."""
    n = 200
    rows = [
        (i, f"common alpha beta gamma delta u{i}a u{i}b u{i}c u{i}d")
        for i in range(n)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sh = D.shingle_docs(docs, "doc_id", "text", n=3)

    report = D.bucket_cap_report(sh, ["shingle"], max_bucket=50)
    hot = {r["shingle"] for r in report.collect()}
    assert "common alpha beta" in hot and len(hot) == 3

    capped = D.cap_bucket_width(sh, ["shingle"], max_bucket=50)
    pairs = (
        capped.alias("a")
        .join(
            capped.alias("b"),
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select("a.id", "b.id")
    )
    assert pairs.count() == 0

    # and the LSH pipeline end-to-end with an aggressive cap still runs
    out = D.minhash_lsh_dedup_pairs(docs, threshold=0.5, max_bucket=50)
    assert out.count() == 0


def test_simhash_fingerprint_stability(spark, planted):
    """Same text ⇒ same fingerprint regardless of partitioning."""
    corpus, _ = planted
    fp1 = {r["id"]: r["simhash"] for r in D.simhash(corpus).collect()}
    fp2 = {
        r["id"]: r["simhash"]
        for r in D.simhash(corpus.repartition(13)).collect()
    }
    assert fp1 == fp2


def test_exact_dedup_survivor_deterministic(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    doubled = docs.unionByName(
        docs.withColumn("doc_id", F.col("doc_id") + 500000)
    )
    out = D.exact_dedup(doubled, ["text"], "doc_id", normalize=True)
    # every survivor must be from the original (lowest-id) half,
    # and each normalized text appears exactly once
    assert out.filter(F.col("doc_id") >= 500000).count() == 0
    norm = F.lower(F.trim(F.col("text")))
    assert (
        out.groupBy(norm).count().filter(F.col("count") > 1).count() == 0
    )


def test_ensure_parallelism_noop_on_well_split_input(spark, sf_dir, tmp_path):
    """On a properly-split corpus (many files ≈ many scan partitions)
    ensure_parallelism must NOT inject a repartition — the guard exists
    for single-file local fixtures, and at scale the extra full shuffle
    would be pure waste."""
    from kafka_data_explorer_cdc_spark.io import ensure_parallelism, load

    # Spark packs small files into defaultParallelism scan partitions,
    # so "well split" is relative to the host's core count
    cores = spark.sparkContext.defaultParallelism
    docs = load(spark, sf_dir, "documents")
    out = str(tmp_path / "docs_split")
    docs.repartition(64).write.parquet(out)
    split = spark.read.parquet(out)
    n_before = split.rdd.getNumPartitions()
    assert n_before >= cores, "fixture should scan as many partitions"
    result = ensure_parallelism(split)
    assert result is split, "well-split input must pass through untouched"

    single = load(spark, sf_dir, "documents")
    assert single.rdd.getNumPartitions() < cores
    boosted = ensure_parallelism(single)
    assert boosted is not single
    assert boosted.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism


def test_ensure_parallelism_nonlocal_uri_uses_hadoop_probe(
    spark, sf_dir, monkeypatch
):
    """The split-count estimate must survive non-local URIs (HDFS/S3 —
    the actual 100 TB targets): round 13's probe called
    os.path.getsize on the URI path, so on an object store every call
    threw OSError and silently fell back to the `.rdd` planning tax at
    all 51 call sites (round-13 verdict item 3). Mock: route the local
    ``file:`` scheme through the Hadoop FileSystem branch (exactly what
    any remote scheme takes) and FORBID the `.rdd` fallback — the
    estimate must come from the JVM probe alone and still fire the
    under-split repartition."""
    import os
    import urllib.parse

    from pyspark.sql import DataFrame

    from kafka_data_explorer_cdc_spark import io as kio

    docs = kio.load(spark, sf_dir, "documents")  # one small file
    uri = docs.inputFiles()[0]
    local_size = os.path.getsize(
        urllib.parse.unquote(urllib.parse.urlparse(uri).path)
    )
    monkeypatch.setattr(kio, "_LOCAL_SCHEMES", ())  # file: is now "remote"
    assert kio._probe_file_size(spark, uri) == local_size

    def _no_rdd(self):
        raise AssertionError(
            ".rdd fallback must not fire when the Hadoop probe works"
        )

    monkeypatch.setattr(DataFrame, "rdd", property(_no_rdd))
    boosted = kio.ensure_parallelism(docs)
    assert boosted is not docs, "under-split single file must repartition"


def test_mega_cluster_survives_bucket_cap(spark):
    """An exact-duplicate cluster WIDER than max_bucket must not vanish.
    Identical signatures previously made every band bucket the cluster
    touched hot, so the cap silently dropped the most-duplicated content
    — the prime dedup target. Identical-signature star extraction keeps
    the cluster (O(n) star pairs to the representative) while only the
    representative enters banding."""
    n = 120  # cluster width >> max_bucket
    rows = [
        (i, "the same exact duplicated document body repeated verbatim here")
        for i in range(n)
    ]
    rows += [
        (1000 + i, f"unique text body number {i} with tokens t{i}x t{i}y t{i}z")
        for i in range(20)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = D.minhash_lsh_dedup_pairs(docs, threshold=0.5, max_bucket=10)
    got = {(r["id1"], r["id2"]) for r in out.collect()}
    # star form: every cluster member pairs with representative 0 ...
    assert {(0, i) for i in range(1, n)} <= got
    # ... and nothing below-threshold leaks in from the unique tail
    ids_in_pairs = {i for p in got for i in p}
    assert ids_in_pairs == set(range(n))
    # all verified pairs are exact duplicates here
    assert out.filter(F.col("jaccard") < 1.0).count() == 0


def test_connected_components_multihop(spark):
    """A 6-node path graph (diameter 5) must fully converge to one
    component — exercises multiple propagation rounds, not just the
    1-hop star case the dedup pair graphs usually present. Plus a
    disjoint triangle and an isolated pair."""
    from kafka_data_explorer_cdc_spark.operators.graph import (
        connected_components,
    )

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6),  # path 1-6
         (10, 11), (11, 12), (10, 12),            # triangle
         (20, 21)],                               # pair
        "id1 long, id2 long",
    )
    got = {
        r["id"]: r["comp"] for r in connected_components(edges).collect()
    }
    assert got == {
        1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 6: 1,
        10: 10, 11: 10, 12: 10,
        20: 20, 21: 20,
    }


def test_star_cc_path_graph_log_rounds(spark):
    """Large-star/small-star on a 50-node path (diameter 49, the
    adversarial shape for label propagation) must converge to one
    component in O(log n) rounds — the round count is the point of the
    algorithm, so it's asserted, not just the labels."""
    import math

    from kafka_data_explorer_cdc_spark.operators.graph import (
        connected_components_star,
    )

    n = 50
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id1 long, id2 long"
    )
    stats: dict = {}
    got = {
        r["id"]: r["comp"]
        for r in connected_components_star(edges, _stats=stats).collect()
    }
    assert got == {i: 0 for i in range(n)}
    # 2·log2(n) + slack; label propagation would need 49 rounds
    bound = 2 * math.ceil(math.log2(n)) + 2
    assert stats["rounds"] <= bound, stats


def test_star_cc_matches_label_propagation(spark):
    """Both algorithms implement the same contract — identical labels
    on a mixed graph (cliques + stars + a path + singleton-free)."""
    import random

    from kafka_data_explorer_cdc_spark.operators.graph import (
        connected_components,
        connected_components_star,
    )

    rng = random.Random(7)
    edges = []
    # cliques of 4 at bases 0,100,200; stars at 300,400; path at 500
    for base in (0, 100, 200):
        ids = [base + i for i in range(4)]
        edges += [(a, b) for a in ids for b in ids if a < b]
    for base in (300, 400):
        edges += [(base, base + i) for i in range(1, 6)]
    edges += [(500 + i, 500 + i + 1) for i in range(10)]
    # random cross edges inside the 0..11 id space of one clique group
    edges += [(rng.randrange(4), 200 + rng.randrange(4)) for _ in range(2)]
    df = spark.createDataFrame(edges, "id1 long, id2 long")
    lab = {r["id"]: r["comp"] for r in connected_components(df).collect()}
    star = {r["id"]: r["comp"] for r in connected_components_star(df).collect()}
    assert lab == star


def test_label_cc_cap_falls_back_with_warning(spark):
    """Hitting max_iter must NOT return partially-propagated labels
    (ADVICE r4): it warns and restarts on the star algorithm, so the
    caller still gets fully-converged components."""
    import pytest as _pytest

    from kafka_data_explorer_cdc_spark.operators.graph import (
        connected_components,
    )

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(19)], "id1 long, id2 long"
    )
    with _pytest.warns(RuntimeWarning, match="falling.*back"):
        got = {
            r["id"]: r["comp"]
            for r in connected_components(edges, max_iter=3).collect()
        }
    assert got == {i: 0 for i in range(20)}


def test_prefix_filter_jaccard_prunes_and_is_complete(spark):
    """d50's operator: (a) the candidate index is the PREFIX only —
    strictly smaller than the full inverted index for docs above the
    threshold-determined prefix length; (b) a planted near-identical
    pair (J >= 0.5) survives prefix filtering even when its shared
    tokens include the corpus-hottest ones; (c) result equals the
    brute-force pair set."""
    from itertools import combinations

    from pyspark.sql import functions as F

    from kafka_data_explorer_cdc_spark.operators.dedup import (
        prefix_filter_jaccard_pairs,
        shingle_docs,
    )

    # 8 docs over a tiny vocab; docs 0/1 are near-identical (J >= 0.5);
    # the filler docs all share hot tokens "the end" so the hottest
    # shingles carry no pair signal.
    base = "alpha beta gamma delta epsilon zeta eta theta"
    rows = [
        (0, base),
        (1, base + " iota"),
        (2, "the end of the end of line one"),
        (3, "the end of the end of line two"),
        (4, "the end of the end of line three"),
        (5, "completely different words entirely here now"),
        (6, "the end comes for every doc the end"),
        (7, "more the end of filler the end of"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sh = shingle_docs(docs, "doc_id", "text", n=3)
    got = {
        (r["id1"], r["id2"]): r["jaccard"]
        for r in prefix_filter_jaccard_pairs(sh, 0.5).collect()
    }

    # brute force over the same shingle sets
    sets = {
        r["id"]: set(r["s"])
        for r in sh.groupBy("id").agg(F.collect_set("shingle").alias("s")).collect()
    }
    want = {}
    for a, b in combinations(sorted(sets), 2):
        j = len(sets[a] & sets[b]) / len(sets[a] | sets[b])
        if j >= 0.5:
            want[(a, b)] = j
    assert set(got) == set(want) and (0, 1) in got
    for k in want:
        assert abs(got[k] - want[k]) < 1e-12

    # prefix really prunes: total indexed rows < total shingle rows
    n_full = sh.count()
    t = 0.5
    dfc = sh.groupBy("shingle").agg(F.count("*").alias("df"))
    from pyspark.sql import Window as W

    ranked = sh.join(dfc, "shingle").select(
        "id",
        F.row_number()
        .over(W.partitionBy("id").orderBy("df", "shingle"))
        .alias("rn"),
        F.count("*").over(W.partitionBy("id")).alias("n"),
    )
    n_prefix = ranked.filter(
        F.col("rn") <= F.col("n") - F.ceil(F.col("n") * F.lit(t)) + 1
    ).count()
    assert n_prefix < n_full


def test_luhn_known_vectors(spark):
    """luhn_valid_expr against published test vectors (valid cards and
    their off-by-one corruptions)."""
    from pyspark.sql import functions as F

    from kafka_data_explorer_cdc_spark.operators.text import luhn_valid_expr

    cases = [
        ("4539578763621486", True),
        ("4539578763621487", False),
        ("4111111111111111", True),
        ("4111111111111112", False),
        ("5500005555555559", True),
        ("1234567812345678", False),
    ]
    df = spark.createDataFrame(cases, "pan string, want boolean")
    got = df.select(
        "pan", "want", F.expr(luhn_valid_expr("pan")).alias("ok")
    ).collect()
    for r in got:
        assert r.ok == r.want, r.pan


def test_jaro_winkler_matches_duckdb_semantics(spark):
    """The Python JW kernel must agree with DuckDB's
    jaro_winkler_similarity bit-for-bit on the probes that pin every
    semantic branch: textbook pairs, floored transpositions (3-cycle),
    zero-match window collapse, prefix cap at 4, and the 0.7 boost
    gate crossed only by float excess. Expected values are DuckDB
    1.0.0 outputs (this file re-derives them live so an oracle-side
    engine upgrade that shifts semantics fails HERE, not in a 270-way
    diff)."""
    import duckdb

    from kafka_data_explorer_cdc_spark.operators.dedup import (
        jaro_winkler_pandas,
    )

    pairs = [
        ("martha", "marhta"),
        ("DWAYNE", "DUANE"),
        ("DIXON", "DICKSONX"),
        ("CRATE", "TRACE"),
        ("abcdef", "bcadef"),  # 3-cycle: floored transpositions
        ("ab", "ba"),  # window 0 -> no matches
        ("aaxxxxxx", "aayyyyyy"),  # jaro 0.5: boost gate must NOT fire
        ("abcdefgh", "abcdefxy"),  # common prefix 6: cap at 4
        ("abcxx", "abcyyy"),  # jaro == 0.7 + 1ulp: gate fires
        ("same", "same"),
        ("", "x"),
        (None, "x"),  # null contract: NULL in -> NULL out (not 0.0)
        ("x", None),
        (None, None),
    ]
    con = duckdb.connect()
    want = {
        (a, b): con.execute(
            "SELECT jaro_winkler_similarity(?, ?)", [a, b]
        ).fetchone()[0]
        for a, b in pairs
    }
    df = spark.createDataFrame(pairs, "a string, b string")
    got = {
        (r.a, r.b): r.jw
        for r in df.select(
            "a", "b", jaro_winkler_pandas(F.col("a"), F.col("b")).alias("jw")
        ).collect()
    }
    for p in pairs:
        assert got[p] == want[p], (p, got[p], want[p])


def test_motif_find_semantics(spark):
    """motif_find: positive terms chain equi-joins, negated terms
    compile to anti-joins, and the two documented error classes
    (disconnected term, unbound negation variable) raise instead of
    silently cross-joining. Graph: 1->2->3, 1->3 (closed), 3->4 (open
    wedge 2->3->4), 4->5, 5->4 (reciprocal)."""
    import pytest

    from kafka_data_explorer_cdc_spark.operators.graph import motif_find

    e = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5), (5, 4)],
        "src long, dst long",
    )
    ffl = motif_find(e, "(a)-[]->(b); (b)-[]->(c); (a)-[]->(c)")
    assert [(r.a, r.b, r.c) for r in ffl.collect()] == [(1, 2, 3)]
    open_w = motif_find(e, "(a)-[]->(b); (b)-[]->(c); !(a)-[]->(c)").filter(
        "a != c"
    )
    got = sorted((r.a, r.b, r.c) for r in open_w.collect())
    assert got == [(1, 3, 4), (2, 3, 4), (3, 4, 5)]
    recip = motif_find(e, "(a)-[]->(b); (b)-[]->(a)").filter("a < b")
    assert [(r.a, r.b) for r in recip.collect()] == [(4, 5)]
    with pytest.raises(ValueError, match="disconnected"):
        motif_find(e, "(a)-[]->(b); (x)-[]->(y)")
    with pytest.raises(ValueError, match="unbound"):
        motif_find(e, "(a)-[]->(b); !(a)-[]->(z)")
    with pytest.raises(ValueError, match="unparsable"):
        motif_find(e, "(a)-->(b)")


def test_cdc_chunking_kernel_matches_expressions(spark, sf_dir):
    """The vectorized CDC chunking kernel (d84's production path) must
    be bit-identical to the pure-expression spec for every document:
    same chunk counts, same max length, same folded fingerprint."""
    from kafka_data_explorer_cdc_spark.io import load
    from kafka_data_explorer_cdc_spark.operators.dedup import cdc_chunk_stats
    from kafka_data_explorer_cdc_spark.operators.text import (
        POLY_MOD,
        cdc_chunk_exprs,
    )

    docs = load(spark, sf_dir, "documents").limit(80)
    got = {
        r.doc_id: (r.n_chunks, r.max_chunk_len, r.chunks_fp)
        for r in cdc_chunk_stats(docs).collect()
    }
    e = cdc_chunk_exprs("text")
    ends = F.expr(e["ends"])
    lens = F.expr(
        f"zip_with(concat(array(0), slice({e['ends']}, 1, "
        f"size({e['ends']}) - 1)), {e['ends']}, (s, x) -> x - s)"
    )
    fp = F.expr(
        f"aggregate({e['chunk_fps']}, 0L, (a, x) -> (a * 37 + x) % {POLY_MOD})"
    )
    want = {
        r.doc_id: (r.n_chunks, r.max_chunk_len, r.chunks_fp)
        for r in docs.select(
            "doc_id",
            F.size(ends).cast("long").alias("n_chunks"),
            F.array_max(lens).cast("long").alias("max_chunk_len"),
            fp.alias("chunks_fp"),
        ).collect()
    }
    assert got == want


def test_d102_ks_detects_planted_drift(spark):
    """The KS gate must reject when the two cohorts genuinely differ:
    plant a location shift and check D and the rejection flip."""
    from pyspark.sql import functions as F

    from kafka_data_explorer_cdc_spark.queries import REGISTRY
    import tempfile, os

    # cohort A ~ lengths 100..299 (src0), cohort B ~ 300..499 (src1)
    rows = [(i, "x", "en", f"src{i % 2}", 100 + (i % 200) + 200 * (i % 2))
            for i in range(400)]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    d = tempfile.mkdtemp(prefix="ksdrift_")
    df.write.mode("overwrite").parquet(os.path.join(d, "documents.parquet"))
    out = REGISTRY["d102_ks_corpus_drift"].fn(spark, d).collect()[0]
    assert out["n1"] == 200 and out["n2"] == 200
    assert out["d_stat"] > 0.9  # almost-disjoint supports
    assert bool(out["reject_05"]) is True


def test_d103_dsir_targetlike_doc_wins(spark):
    """DSIR's whole point: a raw-pool document whose n-grams look like
    the TARGET distribution must outrank raw-pool documents that look
    like the rest of the pool — plant exactly that contrast."""
    from pyspark.sql import functions as F

    from kafka_data_explorer_cdc_spark.queries import REGISTRY
    import tempfile, os

    tgt_text = "alpha beta alpha beta alpha beta alpha beta"
    raw_text = "gamma delta gamma delta gamma delta gamma delta"
    rows = (
        # target cohort (lang=en): alpha-beta heavy
        [(i, tgt_text, "en", "src0", len(tgt_text)) for i in range(3)]
        # raw pool: mostly gamma-delta...
        + [(10 + i, raw_text, "fr", "src1", len(raw_text)) for i in range(3)]
        # ...except one target-looking raw doc
        + [(99, tgt_text, "fr", "src1", len(tgt_text))]
    )
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    d = tempfile.mkdtemp(prefix="dsir_")
    df.write.mode("overwrite").parquet(os.path.join(d, "documents.parquet"))
    out = REGISTRY["d103_nb_quality_classifier"].fn(spark, d).collect()
    score = {r["doc_id"]: r["dsir_score"] for r in out}
    # the target-looking raw doc scores strictly above every raw-looking doc
    assert score[99] > max(score[10], score[11], score[12])
    # and matches the target docs' own score (identical text)
    assert abs(score[99] - score[0]) < 1e-9
    # raw-looking docs carry negative weight (they look like the pool)
    assert score[10] < 0


def test_d104_mink_flags_formulaic_doc(spark):
    """Min-K%: a document built from the corpus's most common bigrams
    must look more member-like (lower Min-K NLL) than one made of
    word transitions that appear nowhere else."""
    from kafka_data_explorer_cdc_spark.queries import REGISTRY
    import tempfile, os

    common = "the cat sat on the mat and " * 8
    rows = [(i, common, "en", "src0", len(common)) for i in range(6)]
    rare = "zq xv jk wq vz kx qj " * 8
    rows.append((99, rare, "en", "src1", len(rare)))
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    d = tempfile.mkdtemp(prefix="mink_")
    df.write.mode("overwrite").parquet(os.path.join(d, "documents.parquet"))
    out = REGISTRY["d104_mink_membership_audit"].fn(spark, d).collect()
    score = {r["doc_id"]: r["mink20_nll"] for r in out}
    assert score[99] == max(score.values())  # gibberish = least member-like
    assert score[0] < score[99]


def test_d106_calibration_scurve_on_planted_bands(spark):
    """The calibration table must trace a real S-curve: planted pairs
    at controlled Jaccard levels — low-J bands mostly undetected,
    high-J bands mostly detected, empirical within sane distance of
    the analytic collision probability."""
    from kafka_data_explorer_cdc_spark.queries import REGISTRY
    import tempfile, os

    words = [f"w{i:03d}" for i in range(60)]
    rows = []
    did = 0
    # 30 pairs per overlap level: doc A uses words[0:30], doc B shares
    # the first k words and pads with a disjoint per-pair vocabulary
    for k, reps in ((8, 30), (15, 30), (22, 30), (29, 30)):
        for p in range(reps):
            a = " ".join(words[:30])
            b = " ".join(words[:k] + [f"u{did}_{i}" for i in range(30 - k)])
            rows.append((did, a, "en", "src0", len(a))); did += 1
            rows.append((did, b, "en", "src0", len(b))); did += 1
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    d = tempfile.mkdtemp(prefix="lshcal_")
    df.write.mode("overwrite").parquet(os.path.join(d, "documents.parquet"))
    out = REGISTRY["d106_lsh_calibration"].fn(spark, d).collect()
    by_band = {r["band10"]: r for r in out}
    assert len(by_band) >= 3  # curve is non-vacuous
    lo = min(by_band)
    hi = max(by_band)
    assert hi >= 8 and lo <= 4
    # S-curve: detection climbs with J
    assert by_band[lo]["detect_rate"] < by_band[hi]["detect_rate"]
    assert by_band[hi]["detect_rate"] >= 0.9
    # empirical tracks theory within a coarse band (finite perms)
    for r in out:
        if r["n_pairs"] >= 20:
            assert abs(r["detect_rate"] - r["theory_rate"]) <= 0.35, (
                r["band10"], r["detect_rate"], r["theory_rate"])
