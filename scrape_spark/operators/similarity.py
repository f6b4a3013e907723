"""Similarity search over embedding columns (array<float>).

- ``cosine``: explicit-formula cosine in double precision via JVM
  zip_with/aggregate folds (sequential left-to-right sums → bit-stable and
  engine-comparable; no UDF, no Python).
- ``ann_topk``: brute-force exact top-k — the correctness baseline. The
  query side is broadcast; the corpus stays distributed; per-query top-k is
  a window rank. At 100 TB the window shuffle is bounded by
  |queries| × |corpus partition| candidates.
- ``ann_topk_lsh``: the scale path — multi-table random-hyperplane sign
  buckets (deterministic seeded planes, adaptive plane count), candidates =
  bucket collisions under query-directed multiprobe, then exact cosine rank
  within candidates. Approximate recall, exact precision on what it returns
  (recall tested); size-gated to brute force below the measured crossover.
- ``ann_topk_ivf``: the second canonical ANN scale path — IVF inverted
  lists from driver-trained spherical k-means, one-GEMM assignment,
  n_probe-list candidate equi-join, exact cosine rank; size-gated like LSH.
- ``embedding_neardup_pairs``: all pairs above a cosine threshold (the
  embedding variant of near-dup dedupe).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm2(a: Column) -> Column:
    return F.aggregate(
        F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, v: acc + v
    )


def cosine(a: Column, b: Column) -> Column:
    """dot / (sqrt(||a||²) * sqrt(||b||²)) in double precision."""
    ad = F.transform(a, lambda x: x.cast("double"))
    bd = F.transform(b, lambda x: x.cast("double"))
    return _dot(ad, bd) / (F.sqrt(_norm2(ad)) * F.sqrt(_norm2(bd)))


def ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact brute-force top-k neighbors per query (excluding self), ranked
    by (cosine DESC, neighbor id ASC) — fully deterministic."""
    q = queries.select(
        F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_vec")
    )
    c = corpus.select(F.col(id_col).alias("n_id"), F.col(vec_col).alias("n_vec"))
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("n_id") != F.col("q_id"))
        .withColumn("sim", cosine(F.col("q_vec"), F.col("n_vec")))
    )
    w = Window.partitionBy("q_id").orderBy(F.col("sim").desc(), F.col("n_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("q_id", "n_id", "rk", F.round("sim", 6).alias("sim_r"))
    )


def ann_topk_lsh(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_planes: int | None = None,
    n_tables: int = 10,
    multiprobe: bool = True,
    min_corpus_rows: int = 150_000,
) -> DataFrame:
    """Approximate top-k via multi-table hyperplane LSH: a candidate shares a
    sign bucket with the query in ANY of n_tables independent tables (plus
    1-bit-flipped buckets when multiprobe). Candidates are then ranked by
    exact cosine — approximate recall, exact precision. The bucket equi-join
    replaces the cross join: per table the probe fan-out is
    |queries| × (n_planes+1), so work scales with bucket occupancy, not
    |corpus| × |queries|.

    Size gate: building n_tables signature sets costs ~n_tables × |corpus|
    plane dots up front, so LSH only beats exact brute force once the corpus
    amortizes that setup (measured crossover on this host — see
    BENCH_NOTES.md). Below ``min_corpus_rows`` this falls back to the exact
    ``ann_topk`` (better AND faster there); pass 0 to force the LSH path
    (tests do).

    All n_tables signatures are computed in ONE vectorized Arrow pass per
    row (a single (n×dim)·(dim×tables·planes) numpy GEMM, sign-packed into
    per-table bucket ids) and fanned out with posexplode — one corpus scan
    total, vs the naive one-scan-per-table union shape which was 12× slower
    at 5-20k rows."""
    # count the corpus ONLY when a decision needs it (the size gate, or
    # adaptive plane sizing) — a forced-LSH call with explicit n_planes
    # pays zero extra jobs
    n_corpus = corpus.count() if (min_corpus_rows or n_planes is None) else None
    if min_corpus_rows and n_corpus < min_corpus_rows:
        return ann_topk(corpus, queries, k=k, id_col=id_col, vec_col=vec_col)
    if n_planes is None:
        # scale bucket count with n so per-bucket occupancy (the candidate
        # cost driver) stays ~500 rows regardless of corpus size
        n_planes = int(max(4, min(16, np.ceil(np.log2(max(2.0, n_corpus / 500))))))

    from pyspark.sql.functions import pandas_udf

    planes = np.hstack(
        [
            np.random.RandomState(7 + 101 * t).standard_normal((n_planes, dim)).T
            for t in range(n_tables)
        ]
    )  # (dim, n_tables * n_planes)
    weights = (1 << np.arange(n_planes)).astype(np.int64)

    @pandas_udf("array<long>")
    def all_buckets(v: pd.Series) -> pd.Series:
        V = np.vstack([np.asarray(x, dtype=np.float64) for x in v])
        bits = (V @ planes) > 0  # (n, T*p)
        B = bits.reshape(len(V), n_tables, n_planes) @ weights  # (n, T)
        return pd.Series(list(B))

    c = corpus.select(
        F.col(id_col).alias("n_id"),
        F.col(vec_col).alias("n_vec"),
        F.posexplode(all_buckets(F.col(vec_col))).alias("table", "bucket"),
    )
    # Query-directed multiprobe (Lv et al., VLDB'07): probe the base bucket
    # plus the buckets reachable by flipping the bits whose hyperplane margin
    # |v·plane| is smallest — those are the likeliest homes of near neighbors.
    # 32 directed probes (all subsets of the 5 lowest-margin bits) measured
    # recall 0.96 @ 300k rows / 0.88 @ 1M rows on hostile (random Gaussian)
    # data, vs 0.64-0.70 for blind 1-bit flips at similar cost.
    n_flip = min(5, n_planes) if multiprobe else 0

    @pandas_udf("array<array<long>>")
    def probe_sets(v: pd.Series) -> pd.Series:
        V = np.vstack([np.asarray(x, dtype=np.float64) for x in v])
        D = (V @ planes).reshape(len(V), n_tables, n_planes)
        out = []
        for row in D:
            tables = []
            for t in range(n_tables):
                base = int(((row[t] > 0) @ weights))
                flips = np.argsort(np.abs(row[t]))[:n_flip]
                probes = [base]
                for mask in range(1, 1 << len(flips)):
                    b = base
                    for bit in range(len(flips)):
                        if mask >> bit & 1:
                            b ^= 1 << int(flips[bit])
                    probes.append(b)
                tables.append(probes)
            out.append(tables)
        return pd.Series(out)

    q_probes = (
        queries.select(
            F.col(id_col).alias("q_id"),
            F.col(vec_col).alias("q_vec"),
            F.posexplode(probe_sets(F.col(vec_col))).alias("table", "probes"),
        )
        .select("q_id", "q_vec", "table", F.explode("probes").alias("bucket"))
    )
    cand = (
        c.join(F.broadcast(q_probes), ["table", "bucket"])
        .filter(F.col("n_id") != F.col("q_id"))
        .dropDuplicates(["q_id", "n_id"])
    )
    scored = cand.withColumn("sim", cosine(F.col("q_vec"), F.col("n_vec")))
    w = Window.partitionBy("q_id").orderBy(F.col("sim").desc(), F.col("n_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("q_id", "n_id", "rk", F.round("sim", 6).alias("sim_r"))
    )


def ann_topk_ivf(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_lists: int | None = None,
    n_probe: int | None = None,
    train_sample: int = 20_000,
    kmeans_iters: int = 10,
    seed: int = 7,
    min_corpus_rows: int = 150_000,
) -> DataFrame:
    """Approximate top-k via an IVF (inverted-file) index — the other
    canonical ANN scale path alongside LSH:

    1. TRAIN: spherical k-means on a bounded, deterministic corpus sample,
       driver-side numpy (IVF training is always a small-sample job — the
       centroid matrix is a few KB and broadcasts as plan literals).
    2. ASSIGN: every corpus vector to its nearest centroid — one Arrow GEMM
       pass (n×dim · dim×lists, argmax), emitted as a `list_id` column.
    3. PROBE: each query computes its n_probe nearest centroids, candidates
       come from ONE equi-join on list_id (work ∝ n_probe/n_lists of the
       corpus, not all of it), then exact cosine ranks them.

    Defaults scale with the corpus: n_lists ≈ √n (the classic IVF sizing),
    n_probe = n_lists/4 — measured recall 0.90 @ 300k rows / ~0.75 @ 1M on
    hostile random-Gaussian data at ~0.7× brute-force time (n_probe =
    n_lists/2 buys 0.96 recall for ~20% more time). Below
    ``min_corpus_rows`` falls back to the exact brute force, same gate
    rationale as ann_topk_lsh."""
    from pyspark.sql.functions import pandas_udf

    n_corpus = corpus.count() if (min_corpus_rows or n_lists is None) else None
    if min_corpus_rows and n_corpus < min_corpus_rows:
        return ann_topk(corpus, queries, k=k, id_col=id_col, vec_col=vec_col)
    if n_lists is None:
        n_lists = int(max(4, min(4096, round(np.sqrt(n_corpus)))))
    if n_probe is None:
        n_probe = max(1, n_lists // 4)

    # --- train on a deterministic UNBIASED sample (driver-side k-means) ---
    # Order by a hash of the id, not the id itself: on real corpora id order
    # correlates with content (crawl order, per-domain id ranges), and a
    # plain id-prefix sample would train centroids on a biased slice —
    # collapsing recall for the rest of the corpus. xxhash64 keeps the
    # sample deterministic while decorrelating it from id order.
    sample = np.vstack(
        [
            np.asarray(r[0], dtype=np.float64)
            for r in corpus.select(F.col(vec_col), F.col(id_col))
            .orderBy(F.xxhash64(F.col(id_col)), F.col(id_col))
            .limit(train_sample)
            .collect()
        ]
    )
    sample /= np.linalg.norm(sample, axis=1, keepdims=True) + 1e-12
    rng = np.random.RandomState(seed)
    cents = sample[rng.choice(len(sample), size=min(n_lists, len(sample)), replace=False)]
    for _ in range(kmeans_iters):
        assign = np.argmax(sample @ cents.T, axis=1)  # spherical: max cosine
        for c in range(len(cents)):
            m = assign == c
            if m.any():
                v = sample[m].mean(axis=0)
                cents[c] = v / (np.linalg.norm(v) + 1e-12)
    cents_t = cents.T.copy()  # (dim, lists)

    @pandas_udf("int")
    def nearest_list(v: pd.Series) -> pd.Series:
        V = np.vstack([np.asarray(x, dtype=np.float64) for x in v])
        V /= np.linalg.norm(V, axis=1, keepdims=True) + 1e-12
        return pd.Series(np.argmax(V @ cents_t, axis=1).astype(np.int32))

    @pandas_udf("array<int>")
    def probe_lists(v: pd.Series) -> pd.Series:
        V = np.vstack([np.asarray(x, dtype=np.float64) for x in v])
        V /= np.linalg.norm(V, axis=1, keepdims=True) + 1e-12
        S = V @ cents_t
        top = np.argsort(-S, axis=1)[:, :n_probe].astype(np.int32)
        return pd.Series(list(top))

    c = corpus.select(
        F.col(id_col).alias("n_id"),
        F.col(vec_col).alias("n_vec"),
        nearest_list(F.col(vec_col)).alias("list_id"),
    )
    q = queries.select(
        F.col(id_col).alias("q_id"),
        F.col(vec_col).alias("q_vec"),
        F.explode(probe_lists(F.col(vec_col))).alias("list_id"),
    )
    cand = c.join(F.broadcast(q), "list_id").filter(F.col("n_id") != F.col("q_id"))
    scored = cand.withColumn("sim", cosine(F.col("q_vec"), F.col("n_vec")))
    w = Window.partitionBy("q_id").orderBy(F.col("sim").desc(), F.col("n_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("q_id", "n_id", "rk", F.round("sim", 6).alias("sim_r"))
    )


def normalized(vec_col: Column) -> Column:
    """Unit-normalize in double precision: x / sqrt(Σx²), sequential fold."""
    vd = F.transform(vec_col, lambda x: x.cast("double"))
    n = F.sqrt(_norm2(vd))
    return F.transform(vd, lambda x: x / n)


def embedding_neardup_pairs(
    df: DataFrame,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_rows: int = 4096,
) -> DataFrame:
    """All pairs (i < j) with cosine > threshold — EXACT, via distributed
    blocked matrix multiply (the classic block-pair decomposition of an
    all-pairs similarity join; cf. Spark MLlib's columnSimilarities which
    takes the same shape for the exact case).

    Plan: unit-normalize once (JVM fold, same formula as the SQL oracle) →
    hash vectors into B row-blocks of ~``block_rows`` each, packing every
    block into ONE Arrow row (ids + row-major matrix) → enumerate the
    B(B+1)/2 unordered block pairs as a tiny exploded key table → two
    equi-joins attach the block payloads → one vectorized numpy GEMM per
    block pair inside mapInPandas, emitting only pairs above threshold.

    Why this survives 100×: the quadratic work of an exact all-pairs join is
    irreducible, but here it is (a) organized as B² independent tasks whose
    size is capped by ``block_rows`` regardless of n, (b) executed as dense
    GEMM (~10⁹ dot-components/s/core) instead of per-pair Catalyst folds
    (~10⁷/s), and (c) shuffles O(n·B) block bytes, never materializing the
    n² pair rows — only qualifying pairs exit the UDF. For genuinely
    planet-scale corpora where even B² tasks are too many, the approximate
    path is `ann_topk_lsh` / minhash-banded candidates with a recall target.
    """
    spark = df.sparkSession
    n = df.count()
    n_blocks = max(1, -(-n // block_rows))

    base = df.select(
        F.col(id_col).alias("__id"),
        normalized(F.col(vec_col)).alias("__vn"),
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_blocks)).cast("int").alias("g"),
    )

    pack_schema = "g int, ids array<long>, mat array<double>"

    def _pack(pdf: pd.DataFrame) -> pd.DataFrame:
        # Canonical row order inside each block: the a/b join branches below
        # are two independent evaluations of this plan, and on a real
        # multi-executor cluster shuffle-read arrival order is
        # nondeterministic — without a sort the diagonal blocks' positional
        # upper-triangle mask could miss/duplicate pairs (and emit i==j).
        pdf = pdf.sort_values("__id")
        ids = pdf["__id"].to_numpy()
        mat = np.vstack([np.asarray(v, dtype=np.float64) for v in pdf["__vn"]])
        return pd.DataFrame(
            {"g": [int(pdf["g"].iloc[0])], "ids": [ids.tolist()], "mat": [mat.ravel().tolist()]}
        )

    # Materialize the packed blocks ONCE (lazy local checkpoint): the a/b
    # join branches below are two independent consumers of this plan, and
    # without the checkpoint each re-ran the normalize+shuffle+pack Python
    # stage (measured 1.7 s → 1.25 s at sf0.1; the win grows with n since
    # the pack stage is O(n·dim)). Same pattern as connected_components —
    # on a cluster swap for a reliable checkpoint if executor loss matters.
    blocks = base.groupBy("g").applyInPandas(_pack, schema=pack_schema).localCheckpoint(
        eager=False
    )

    # unordered block-pair keys (ga <= gb): B(B+1)/2 rows, pure JVM
    pair_keys = (
        spark.range(n_blocks)
        .select(
            F.col("id").cast("int").alias("ga"),
            F.explode(F.sequence(F.col("id").cast("int"), F.lit(n_blocks - 1))).alias("gb"),
        )
    )
    a = blocks.select(F.col("g").alias("ga"), F.col("ids").alias("ids_a"), F.col("mat").alias("mat_a"))
    b = blocks.select(F.col("g").alias("gb"), F.col("ids").alias("ids_b"), F.col("mat").alias("mat_b"))
    tasks = pair_keys.join(a, "ga").join(b, "gb").repartition(
        min(n_blocks * (n_blocks + 1) // 2, 2 * spark.sparkContext.defaultParallelism)
    )

    thr = float(threshold)

    def _gemm(batches):
        for pdf in batches:
            out_i, out_j, out_s = [], [], []
            for r in pdf.itertuples(index=False):
                ia = np.asarray(r.ids_a, dtype=np.int64)
                ib = np.asarray(r.ids_b, dtype=np.int64)
                A = np.asarray(r.mat_a, dtype=np.float64).reshape(len(ia), -1)
                Bm = np.asarray(r.mat_b, dtype=np.float64).reshape(len(ib), -1)
                S = A @ Bm.T
                sel = S > thr
                if r.ga == r.gb:
                    # upper triangle only: each unordered pair once, no self-pairs
                    sel &= np.arange(len(ia))[:, None] < np.arange(len(ib))[None, :]
                ki, kj = np.nonzero(sel)
                if len(ki) == 0:
                    continue
                ii, jj = ia[ki], ib[kj]
                out_i.append(np.minimum(ii, jj))
                out_j.append(np.maximum(ii, jj))
                out_s.append(S[ki, kj])
            if out_i:
                yield pd.DataFrame(
                    {
                        "i": np.concatenate(out_i),
                        "j": np.concatenate(out_j),
                        "sim": np.concatenate(out_s),
                    }
                )

    pairs = tasks.mapInPandas(_gemm, schema="i long, j long, sim double")
    return pairs.select("i", "j", F.round("sim", 6).alias("sim_r"))
