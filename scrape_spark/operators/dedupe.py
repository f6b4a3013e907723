"""Deduplication operators for training-data pipelines: exact, n-gram
Jaccard, MinHash+LSH, SimHash, embedding-cosine near-dup.

Scale design notes (the whole point of each variant):
- **exact**: one shuffle — groupBy fingerprint. At 100 TB use it first; it
  kills the bulk cheaply.
- **jaccard_pairs**: exact set-similarity via an inverted-index self-join
  (explode token → join on token → count pairs). Quadratic in the worst
  case; intended for verification and small blocks, which is exactly how
  the MinHash verifier uses it.
- **minhash_lsh**: the scale path. Signatures are built with *nested JVM
  transforms* (no Python): shingle → xxhash64 → k affine permutations →
  array_min. Banding turns near-dup detection into an equi-join on
  (band_idx, band_hash) — one shuffle keyed by band hash, skew-safe since
  bucket sizes are bounded by collision rate, then candidates are verified
  with exact Jaccard so the output has NO false positives (recall is the
  only approximation, tested).
- **simhash**: 48-bit sign-sum fingerprint (fits a BIGINT), banded for
  candidate generation, verified by Hamming distance via bit_count(xor).
- **embedding near-dup**: exact cosine threshold pairs; brute-force
  self-join here, LSH-bucketed variant in similarity.py for scale.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from scrape_spark.functions.textstats import fingerprint, shingles, word_set

# ---------------------------------------------------------------------------
# one row per key
# ---------------------------------------------------------------------------

def first_per_key(
    df: DataFrame, keys: list[str], order: list[Column | str]
) -> DataFrame:
    """df (same columns) with one row per ``keys``: the first under the
    ``order`` sort expressions. Every keep-one-row-per-key rule in the
    package goes through here — the store's last-write-wins resolve and
    MERGE dedupe, WARC recapture collapse, frontier dedupe and exact dedupe.

    A ``row_number() == 1`` window rather than ``max_by``/``min`` over a
    struct: Spark prunes the columns a consumer never selects through the
    window (a key-only read of a multi-generation store scans the key and
    sort columns, not the whole row), and plans a partial
    ``WindowGroupLimit`` before the key exchange. An exchange already
    clustered on a subset of ``keys`` is reused."""
    w = Window.partitionBy(*keys).orderBy(*order)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


# ---------------------------------------------------------------------------
# exact dedupe
# ---------------------------------------------------------------------------

def exact_dedup_groups(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Groups of byte-equal (normalized) documents: fingerprint → members.
    One map-side-combinable shuffle."""
    return (
        df.select(F.col(id_col).alias("doc_id"), fingerprint(text_col).alias("fp"))
        .groupBy("fp")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("keep_id"),
        )
    )


def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Keep one representative (min id) per fingerprint group.

    The fingerprint is materialized as a column BEFORE the window: with the
    expression inline as the partition key, every column it reads (the full
    document text) must survive to the exchange even when the consumer
    never selects it; as a projected column, Catalyst prunes the text off
    the shuffle when downstream doesn't need it (guide §2.3: project before
    the exchange). Measured 0.93 s → 0.77 s on the driver's export query."""
    return first_per_key(
        df.withColumn("__fp", fingerprint(text_col)), ["__fp"], [F.col(id_col)]
    ).drop("__fp")


# ---------------------------------------------------------------------------
# exact set-similarity pairs (inverted index self-join)
# ---------------------------------------------------------------------------

def jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.9,
    ngram: int = 1,
) -> DataFrame:
    """All pairs (i < j) with Jaccard(token-set_i, token-set_j) > threshold.
    ngram=1 → word sets; ngram>=2 → shingle sets. Jaccard is a small-integer
    ratio → bit-identical across engines.

    EXACT result through an SSJoin-style prefix filter: any pair with
    jac ≥ t has overlap c ≥ t·u ≥ ⌈t·n⌉ for each side's size n, so by
    pigeonhole the two docs must share a token inside their first
    n − ⌈t·n⌉ + 1 tokens under ANY fixed global token order. Ordering tokens
    rarest-first (ascending document frequency, then token) makes those
    prefix tokens the most selective join keys — the inverted-index
    self-join shrinks from Σ df² over all tokens to Σ df² over prefix
    tokens. Candidates are then verified with the full sets."""
    tok = word_set(text_col) if ngram == 1 else shingles(text_col, ngram)
    base = df.select(F.col(id_col).alias("doc_id"), tok.alias("toks")).cache()

    # r6 shape (measured 1.9× on sf0.1, identical output): document
    # frequency comes from a window count over the 64-bit token hash —
    # one exchange of the inverted index instead of two (the groupBy+join
    # form re-shuffled inv to attach df) — and the candidate self-join keys
    # on the hash, not the token string (smaller shuffle rows, long
    # compares). Correctness is unchanged: the global prefix order is
    # (df, tok) — hash collisions only merge df counts (a consistent,
    # still-total order; selectivity heuristic, not correctness) — and a
    # collision in the join can only ADD candidates, which the exact
    # verification below already removes. c/u are computed from the real
    # shingle arrays, so the output stays bit-identical to the oracle's.
    inv = base.select("doc_id", F.explode("toks").alias("tok")).withColumn(
        "h", F.xxhash64("tok")
    )
    ranked = (
        inv.withColumn("df", F.count(F.lit(1)).over(Window.partitionBy("h")))
        .groupBy("doc_id")
        .agg(F.array_sort(F.collect_list(F.struct("df", "tok", "h"))).alias("ordered"))
    )
    n = F.size("ordered")
    prefix_len = n - F.ceil(F.lit(threshold) * n).cast("int") + F.lit(1)
    # dynamic prefix: keep position < prefix_len via posexplode
    prefix = ranked.select(
        "doc_id",
        prefix_len.alias("plen"),
        F.posexplode("ordered").alias("pos", "st"),
    ).filter(F.col("pos") < F.col("plen")).select("doc_id", F.col("st.h").alias("h"))

    a, b = prefix.alias("a"), prefix.alias("b")
    cand = (
        a.join(b, (F.col("a.h") == F.col("b.h")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("i"), F.col("b.doc_id").alias("j"))
        .distinct()
    )
    ti = base.select(F.col("doc_id").alias("i"), F.col("toks").alias("ta"))
    tj = base.select(F.col("doc_id").alias("j"), F.col("toks").alias("tb"))
    return (
        cand.join(ti, "i").join(tj, "j")
        .withColumn("c", F.size(F.array_intersect("ta", "tb")))
        .withColumn("u", F.size(F.array_union("ta", "tb")))
        .filter(F.col("c") / F.col("u") > threshold)
        .select("i", "j", "c", "u")
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

# Mersenne prime 2^31-1: with a, b, h all < 2^31, a*h + b < 2^62 — no
# BIGINT overflow under ANSI mode, and 31-bit minhash values are plenty.
MERSENNE_31 = (1 << 31) - 1


def _perm_params(k: int, seed: int = 0x5EED) -> list[tuple[int, int]]:
    """Deterministic affine permutation params (a odd, in [1, p))."""
    params = []
    x = seed & 0xFFFFFFFF
    for _ in range(k):
        x = (1103515245 * x + 12345) & 0x7FFFFFFF
        a = (x | 1) % MERSENNE_31 or 1
        x = (1103515245 * x + 12345) & 0x7FFFFFFF
        b = x % MERSENNE_31
        params.append((a, b))
    return params


def minhash_signatures(
    df: DataFrame, id_col: str, text_col: str, k: int = 32, ngram: int = 3
) -> DataFrame:
    """k-wide MinHash signature per document:
    sig[i] = min over shingles of (a_i * xxhash64(shingle) + b_i) mod 2^31-1.

    Shape: explode shingles → one codegen'd projection of the k affine
    permutations → groupBy(doc) with k min() aggregates → array. Higher-order
    array functions are NOT whole-stage-codegen'd in Spark (a k-wide nested
    transform is interpreted and re-evaluates the shingle build per
    permutation — measured ~10× slower); the explode+partial-agg form is,
    and the shuffle carries only doc_id × k mins thanks to map-side combine."""
    sh = df.select(
        F.col(id_col).alias("doc_id"), F.explode(shingles(text_col, ngram)).alias("s")
    ).withColumn("h", F.pmod(F.abs(F.xxhash64("s")), F.lit(MERSENNE_31)))
    perm_cols = [
        F.pmod(F.lit(a) * F.col("h") + F.lit(b), F.lit(MERSENNE_31)).alias(f"p{i}")
        for i, (a, b) in enumerate(_perm_params(k))
    ]
    exploded = sh.select("doc_id", *perm_cols)
    agg = exploded.groupBy("doc_id").agg(
        *[F.min(f"p{i}").alias(f"m{i}") for i in range(k)]
    )
    return agg.select(
        "doc_id", F.array(*[F.col(f"m{i}") for i in range(k)]).alias("sig")
    )


def lsh_candidates(sig_df: DataFrame, k: int = 32, bands: int = 8) -> DataFrame:
    """Band the k-wide signatures and emit candidate pairs (i < j) that
    collide in at least one band: explode bands → equi-join on (band, hash)."""
    rows = k // bands
    band_structs = [
        F.struct(
            F.lit(i).alias("band"),
            F.xxhash64(
                F.concat_ws(
                    "|",
                    *[
                        F.element_at("sig", i * rows + r + 1).cast("string")
                        for r in range(rows)
                    ],
                )
            ).alias("bh"),
        )
        for i in range(bands)
    ]
    banded = sig_df.select(
        "doc_id", F.explode(F.array(*band_structs)).alias("b")
    ).select("doc_id", "b.band", "b.bh")
    l, r = banded.alias("l"), banded.alias("r")
    return (
        l.join(
            r,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.bh") == F.col("r.bh"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .select(F.col("l.doc_id").alias("i"), F.col("r.doc_id").alias("j"))
        .distinct()
    )


def minhash_neardup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.7,
    k: int = 32,
    bands: int = 8,
    ngram: int = 3,
) -> DataFrame:
    """LSH candidates verified with exact shingle Jaccard — zero false
    positives; recall bounded by the (k, bands) S-curve (tested)."""
    # cache the signatures: each band consumer would otherwise re-evaluate
    # the full k-permutation expression tree per exploded band row
    sig = minhash_signatures(df, id_col, text_col, k, ngram).cache()
    cand = lsh_candidates(sig, k, bands)
    toks = df.select(
        F.col(id_col).alias("doc_id"), shingles(text_col, ngram).alias("toks")
    ).cache()
    ti = toks.select(F.col("doc_id").alias("i"), F.col("toks").alias("ta"))
    tj = toks.select(F.col("doc_id").alias("j"), F.col("toks").alias("tb"))
    return (
        cand.join(ti, "i").join(tj, "j")
        .withColumn("c", F.size(F.array_intersect("ta", "tb")))
        .withColumn("u", F.size(F.array_union("ta", "tb")))
        .filter(F.col("c") / F.col("u") > threshold)
        .select("i", "j", "c", "u")
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

SIMHASH_BITS = 48


def simhash(col: str | Column, bits: int = SIMHASH_BITS) -> Column:
    """Sign-sum SimHash over whitespace tokens, built with a JVM aggregate
    fold (no UDF). bits<=62 so the value fits a signed BIGINT. Bit masks are
    a literal powers-of-two array (shift amounts can't be Columns)."""
    toks = word_set(col)
    hashes = F.transform(toks, lambda t: F.xxhash64(t))
    powers = F.array(*[F.lit(1 << i).cast("long") for i in range(bits)])
    zero = F.array_repeat(F.lit(0), bits)
    counts = F.aggregate(
        hashes,
        zero,
        lambda acc, h: F.zip_with(
            acc,
            F.transform(powers, lambda p: F.when(h.bitwiseAND(p) != 0, 1).otherwise(-1)),
            lambda x, y: x + y,
        ),
    )
    packed = F.aggregate(
        F.zip_with(
            counts,
            powers,
            lambda cnt, p: F.when(cnt > 0, p).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    return packed


def simhash_neardup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 6,
    bands: int | None = None,
    bits: int = SIMHASH_BITS,
) -> DataFrame:
    """Candidate pairs via banded simhash segments, verified by exact
    Hamming distance bit_count(i XOR j) <= max_hamming.

    Pigeonhole guarantee: with bands >= max_hamming + 1 (the default), a
    pair within max_hamming differs in at most max_hamming banded segments,
    so at least one band matches and the pair is ALWAYS a candidate — zero
    false negatives. Passing a smaller explicit bands trades that guarantee
    for fewer shuffle rows (recall becomes probabilistic)."""
    if bands is None:
        bands = max_hamming + 1
    seg = bits // bands
    sh = df.select(F.col(id_col).alias("doc_id"), simhash(text_col, bits).alias("sh"))
    band_structs = [
        F.struct(
            F.lit(i).alias("band"),
            F.shiftright(F.col("sh"), i * seg)
            .bitwiseAND(F.lit((1 << seg) - 1))
            .alias("seg"),
        )
        for i in range(bands)
    ]
    banded = sh.select(
        "doc_id", "sh", F.explode(F.array(*band_structs)).alias("b")
    ).select("doc_id", "sh", "b.band", "b.seg")
    l, r = banded.alias("l"), banded.alias("r")
    return (
        l.join(
            r,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.seg") == F.col("r.seg"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .select(
            F.col("l.doc_id").alias("i"),
            F.col("r.doc_id").alias("j"),
            F.bit_count(F.col("l.sh").bitwiseXOR(F.col("r.sh"))).alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


# ---------------------------------------------------------------------------
# near-dup clustering: pair edges → connected components → representatives
# ---------------------------------------------------------------------------

def connected_components(
    pairs: DataFrame,
    src: str = "i",
    dst: str = "j",
    max_iter: int = 25,
) -> DataFrame:
    """(node, component) labels over an undirected pair-edge set, component
    = the MIN node id in each component — the step a production dedup
    pipeline needs between "similar pairs" (jaccard/minhash/simhash/
    embedding discovery, all above) and "drop the duplicates".

    Distributed min-label propagation with pointer jumping: each round
    (a) every node takes the min label over itself and its neighbors
    (one map-side-combinable shuffle over E), then (b) labels compress by
    one pointer-jump hop (label := label[label], one join over N) — the
    jump halves chain depth so convergence is O(log diameter) rounds, not
    O(diameter); dense near-dup clusters converge in 2-3 rounds. Each
    round is checkpointed locally (lineage stays flat across iterations —
    on a cluster, swap localCheckpoint for a reliable checkpoint dir) and
    ends with a single convergence count action. Deterministic: labels are
    min() folds, independent of partitioning.
    """
    sym = pairs.select(
        F.col(src).alias("a"), F.col(dst).alias("b")
    ).unionByName(pairs.select(F.col(dst).alias("a"), F.col(src).alias("b")))
    labels = (
        sym.groupBy("a")
        .agg(F.least(F.min("b"), F.min("a")).alias("label"))
        .select(F.col("a").alias("node"), "label")
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iter):
        nbr = sym.join(labels, sym["b"] == labels["node"]).select(
            F.col("a").alias("node"), F.col("label")
        )
        stepped = (
            labels.unionByName(nbr).groupBy("node").agg(F.min("label").alias("label"))
        )
        l2 = stepped.select(
            F.col("node").alias("__n2"), F.col("label").alias("__l2")
        )
        jumped = (
            stepped.join(l2, stepped["label"] == l2["__n2"], "left")
            .select(
                "node",
                F.least(F.col("label"), F.coalesce(F.col("__l2"), F.col("label"))).alias(
                    "label"
                ),
            )
            .localCheckpoint(eager=True)
        )
        changed = (
            jumped.join(labels.withColumnRenamed("label", "__old"), "node")
            .filter(F.col("label") != F.col("__old"))
            .limit(1)
            .count()
        )
        labels = jumped
        if changed == 0:
            break
    return labels.select("node", F.col("label").alias("component"))


def drop_near_duplicates(
    df: DataFrame, id_col: str, pairs: DataFrame, src: str = "i", dst: str = "j"
) -> DataFrame:
    """Keep one representative per near-dup component (the min id) plus
    every document in no pair at all."""
    comps = connected_components(pairs, src, dst)
    losers = comps.filter(F.col("node") != F.col("component")).select(
        F.col("node").alias(id_col)
    )
    return df.join(losers, id_col, "left_anti")
