"""Dedupe + similarity operator tests: planted-duplicate recovery, MinHash
recall vs exact Jaccard (zero false positives by construction), SimHash
invariants, cosine vs numpy, LSH-ANN recall vs brute force."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from scrape_spark.operators.dedupe import (
    exact_dedup,
    exact_dedup_groups,
    jaccard_pairs,
    minhash_neardup_pairs,
    simhash_neardup_pairs,
)
from scrape_spark.operators.similarity import ann_topk, ann_topk_lsh, cosine

BASE_WORDS = (
    "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima "
    "mike november oscar papa quebec romeo sierra tango uniform victor whiskey"
).split()


def _mk_docs(spark, n=60, seed=3):
    """n base docs + exact dups of every 10th + near-dups (one word swapped)
    of every 7th."""
    rng = np.random.RandomState(seed)
    rows = []
    for i in range(n):
        words = [BASE_WORDS[rng.randint(len(BASE_WORDS))] for _ in range(30)]
        rows.append((i, " ".join(words)))
    base = dict(rows)
    nid = n
    expected_exact, expected_near = [], []
    for i in range(0, n, 10):
        rows.append((nid, base[i] + "  "))  # whitespace-only change ⇒ exact dup
        expected_exact.append((i, nid))
        nid += 1
    for i in range(0, n, 7):
        w = base[i].split()
        w[5] = "zulu"
        rows.append((nid, " ".join(w)))
        expected_near.append((i, nid))
        nid += 1
    return spark.createDataFrame(rows, ["doc_id", "text"]), expected_exact, expected_near


def test_exact_dedup_planted(spark):
    df, exact_pairs, _ = _mk_docs(spark)
    groups = exact_dedup_groups(df, "doc_id", "text")
    dup_groups = {r.keep_id: r.n_docs for r in groups.filter("n_docs > 1").collect()}
    assert set(dup_groups) == {i for i, _ in exact_pairs}
    kept = exact_dedup(df, "doc_id", "text")
    assert kept.count() == df.count() - len(exact_pairs)


def test_minhash_no_false_positives_and_high_recall(spark):
    df, _, _ = _mk_docs(spark)
    exact = {
        (r.i, r.j)
        for r in jaccard_pairs(df, "doc_id", "text", 0.7, ngram=3).collect()
    }
    assert exact, "corpus must contain high-jaccard pairs"
    got = {
        (r.i, r.j)
        for r in minhash_neardup_pairs(
            df, "doc_id", "text", threshold=0.7, k=32, bands=8
        ).collect()
    }
    # verification stage ⇒ no false positives
    assert got <= exact
    # banding S-curve at (32, 8) ⇒ near-total recall at jaccard ≥ 0.7
    recall = len(got & exact) / len(exact)
    assert recall >= 0.9, recall


def test_simhash_exact_dup_is_zero_hamming(spark):
    df, exact_pairs, _ = _mk_docs(spark)
    pairs = {
        (r.i, r.j): r.hamming
        for r in simhash_neardup_pairs(df, "doc_id", "text", max_hamming=8).collect()
    }
    for i, j in exact_pairs:
        assert pairs.get((i, j)) == 0, (i, j)


def test_simhash_banding_has_zero_false_negatives(spark):
    """Pigeonhole: default bands (= max_hamming + 1) must yield EXACTLY the
    pairs an exhaustive hamming scan finds — banding is a pure speedup."""
    from scrape_spark.operators.dedupe import simhash

    df, _, _ = _mk_docs(spark, n=40)
    max_h = 6
    sh = df.select(F.col("doc_id").alias("d"), simhash("text").alias("sh")).cache()
    a, b = sh.alias("a"), sh.alias("b")
    exact = {
        (r.i, r.j)
        for r in a.join(b, F.col("a.d") < F.col("b.d"))
        .select(
            F.col("a.d").alias("i"), F.col("b.d").alias("j"),
            F.bit_count(F.col("a.sh").bitwiseXOR(F.col("b.sh"))).alias("hm"),
        )
        .filter(F.col("hm") <= max_h)
        .collect()
    }
    banded = {
        (r.i, r.j)
        for r in simhash_neardup_pairs(df, "doc_id", "text", max_hamming=max_h).collect()
    }
    assert banded == exact


def test_cosine_matches_numpy(spark):
    rng = np.random.RandomState(0)
    a, b = rng.standard_normal(16), rng.standard_normal(16)
    df = spark.createDataFrame(
        [(a.tolist(), b.tolist())], ["va", "vb"]
    )
    got = df.select(cosine(F.col("va"), F.col("vb")).alias("c")).collect()[0].c
    want = float(a @ b / (np.sqrt(a @ a) * np.sqrt(b @ b)))
    assert got == pytest.approx(want, abs=1e-12)


@pytest.fixture(scope="module")
def embeddings(spark):
    df = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").cache()
    df.count()
    return df


def test_ann_lsh_recall(spark, embeddings):
    queries = embeddings.filter(F.col("vec_id") < 10)
    exact = {
        (r.q_id, r.n_id) for r in ann_topk(embeddings, queries, k=5).collect()
    }
    approx = {
        (r.q_id, r.n_id)
        for r in ann_topk_lsh(
            embeddings, queries, k=5, n_planes=6, n_tables=10, multiprobe=True,
            min_corpus_rows=0,  # force the LSH path despite the tiny corpus
        ).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.8, recall  # floor for 10-table 6-plane multiprobe LSH


def test_ann_ivf_recall_and_gate(spark, embeddings):
    from scrape_spark.operators.similarity import ann_topk_ivf

    queries = embeddings.filter(F.col("vec_id") < 10)
    exact = {(r.q_id, r.n_id) for r in ann_topk(embeddings, queries, k=5).collect()}
    approx = {
        (r.q_id, r.n_id)
        for r in ann_topk_ivf(
            embeddings, queries, k=5, n_lists=16, n_probe=8, min_corpus_rows=0
        ).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.7, recall  # probing half the lists on a tiny hostile corpus
    # below the gate, IVF IS brute force
    gated = {tuple(r) for r in ann_topk_ivf(embeddings, queries, k=5).collect()}
    assert gated == {tuple(r) for r in ann_topk(embeddings, queries, k=5).collect()}


def test_ann_lsh_size_gate_falls_back_to_exact(spark, embeddings):
    """Below the crossover the gated LSH call returns the exact brute-force
    answer (identical rows), so the scale path never loses where brute wins."""
    queries = embeddings.filter(F.col("vec_id") < 5)
    exact = {tuple(r) for r in ann_topk(embeddings, queries, k=3).collect()}
    gated = {tuple(r) for r in ann_topk_lsh(embeddings, queries, k=3).collect()}
    assert gated == exact


def test_embedding_neardup_blocked_equals_naive(spark, embeddings):
    from scrape_spark.operators.similarity import embedding_neardup_pairs
    from tests.helpers import embedding_neardup_pairs_naive

    naive = {(r.i, r.j, r.sim_r) for r in
             embedding_neardup_pairs_naive(embeddings, threshold=0.4).collect()}
    assert naive, "corpus must contain qualifying pairs"
    for nb in (1, 7):  # single-block degenerate + multi-block hash split
        blocked = {(r.i, r.j, r.sim_r) for r in
                   embedding_neardup_pairs(
                       embeddings, threshold=0.4,
                       block_rows=(10_000 if nb == 1 else 30),
                   ).collect()}
        assert blocked == naive, f"nb={nb}"


def test_ann_topk_is_exact_and_ordered(spark, embeddings):
    out = ann_topk(embeddings, embeddings.filter(F.col("vec_id") == 0), k=5).collect()
    assert [r.rk for r in out] == [1, 2, 3, 4, 5]
    sims = [r.sim_r for r in out]
    assert sims == sorted(sims, reverse=True)


def test_connected_components_matches_union_find(spark):
    """Distributed min-label + pointer-jump CC must equal a driver-side
    union-find on random graphs (dense clusters AND long chains — chains
    are the depth case pointer jumping exists for)."""
    import random

    from scrape_spark.operators.dedupe import connected_components

    rng = random.Random(42)
    edges = [(rng.randrange(200), rng.randrange(200)) for _ in range(120)]
    edges += [(1000 + i, 1000 + i + 1) for i in range(60)]  # one 61-node chain
    edges = [(a, b) for a, b in edges if a != b]

    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for a, b in edges:
        union(a, b)
    want = {n: find(n) for n in parent}

    df = spark.createDataFrame(edges, ["i", "j"])
    got = {
        r.node: r.component
        for r in connected_components(df, "i", "j").collect()
    }
    assert got == want


def test_drop_near_duplicates_keeps_representatives(spark):
    from scrape_spark.operators.dedupe import drop_near_duplicates

    docs = spark.createDataFrame([(i, f"t{i}") for i in range(10)], ["doc_id", "text"])
    pairs = spark.createDataFrame([(1, 2), (2, 3), (7, 8)], ["i", "j"])
    kept = {r.doc_id for r in drop_near_duplicates(docs, "doc_id", pairs).collect()}
    assert kept == {0, 1, 4, 5, 6, 7, 9}  # 2,3 fold into 1; 8 folds into 7
