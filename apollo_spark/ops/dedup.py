"""Deduplication operators over a ``documents(doc_id, text)`` table.

The full web-corpus dedup ladder, each rung a standalone operator:

  exact         md5 content hash, groupBy            (1 shuffle)
  minhash+LSH   word shingles -> K portable minhashes -> banded buckets
                -> candidate pairs -> exact-Jaccard verify (one shingle
                join, then two aggregates over one exchange)
  simhash       bitwise majority sketch (per-row vote arrays summed by one
                groupBy) + pigeonhole block join
  n-gram        exact Jaccard over shared-shingle candidates (same verify)
  cosine        embedding near-dup (ops.similarity)

Same shape as the apollo pipeline (bags -> signatures -> bands -> buckets
-> pairs -> cc, /root/reference/apollo/hasher.py + graph.py) but with
*unweighted* MinHash over a portable md5-derived hash so every stage is a
pure column expression, reproducible bit-for-bit in any SQL engine (the
DuckDB oracles in __spark_entry__.py run the identical math). The
apollo-semantics Weighted MinHash path (NumPy kernel, Ioffe CWS) lives in
core/wmh.py + stages/hashst.py; this module is the lighter text-corpus
ladder.

Scale notes (100 TB): every stage is scan -> narrow transform ->
keyed shuffle; no driver-resident state, no collect. Hot shingles are
df-capped before the self-join (stop-phrase guard), bucket sizes are
capped before pair materialization (the O(bucket²) guard, mirroring
graph.py:209-249's linear/quadratic triage), and AQE skew-join splitting
handles residual skew.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from apollo_spark.ops.skew import SALT_TARGET, salted_pairs
from apollo_spark.ops.text import md5_long, tokens_col

DEFAULT_SHINGLE_W = 5    # word-shingle width
DEFAULT_K = 8            # minhash permutations
DEFAULT_R = 2            # rows per LSH band -> b = K/r bands
BUCKET_CAP = 512         # max bucket size allowed to emit quadratic pairs
SHINGLE_DF_CAP = 1024    # shared-shingle join guard for ngram_jaccard


def word_shingles(docs: DataFrame, w: int = DEFAULT_SHINGLE_W) -> DataFrame:
    """Distinct word w-shingles per document: (doc_id, shingle).

    Documents shorter than w tokens emit their whole text as the single
    shingle (so every doc participates in dedup)."""
    shingles = F.expr(
        f"transform(sequence(0, greatest(size(toks) - {w}, 0)), "
        f"i -> concat_ws(' ', slice(toks, i + 1, {w})))")
    # cast only a non-long doc_id: an identity alias is kept on some plan
    # paths and dropped on others, and that difference alone stops the
    # verify's shingle exchange from being reused from the signature path
    doc_id = (F.col("doc_id") if dict(docs.dtypes)["doc_id"] == "bigint"
              else F.col("doc_id").cast("long").alias("doc_id"))
    return (docs.select(doc_id, tokens_col().alias("toks"))
            .select("doc_id", F.explode(shingles).alias("shingle"))
            .distinct())


def _hashed_shingles(docs: DataFrame, k: int, w: int,
                     shingles: DataFrame | None) -> DataFrame:
    """(doc_id, perm, h): every (shingle, permutation) hash row — the
    shared pre-aggregation input of minhash_signatures and
    minhash_bands_direct."""
    sh = shingles if shingles is not None else word_shingles(docs, w)
    perms = F.explode(F.sequence(F.lit(0), F.lit(k - 1))).alias("perm")
    return (sh.select("doc_id", "shingle", perms)
            .select("doc_id", "perm",
                    md5_long(F.concat_ws(":", F.col("perm").cast("string"),
                                         F.col("shingle"))).alias("h")))


def minhash_signatures(docs: DataFrame, k: int = DEFAULT_K,
                       w: int = DEFAULT_SHINGLE_W,
                       shingles: DataFrame | None = None) -> DataFrame:
    """Portable MinHash signatures, long format: (doc_id, perm, minhash).

    Permutation i hashes each shingle as md5(i || ':' || shingle) -> 60-bit
    int; signature element = min. One explode (k rows per shingle) + one
    partial-agg shuffle on doc_id. k stays small (k·n rows in flight);
    for the 128-sample weighted variant use stages/hashst.py. Pass a
    precomputed/persisted ``shingles`` table to share the extraction with a
    downstream verify pass (one scan instead of two)."""
    return (_hashed_shingles(docs, k, w, shingles)
            .groupBy("doc_id", "perm")
            .agg(F.min("h").alias("minhash")))


def minhash_bands_direct(docs: DataFrame, k: int = DEFAULT_K,
                         r: int = DEFAULT_R, w: int = DEFAULT_SHINGLE_W,
                         shingles: DataFrame | None = None) -> DataFrame:
    """LSH bands in ONE exchange from the hashed shingle rows — the fused
    twin of ``lsh_bands(minhash_signatures(docs))`` (round-7, guide §2.4
    'remove shuffles outright').

    The two-step form pays two sequential shuffles: hashed rows
    -> groupBy(doc_id, perm) min -> groupBy(doc_id, band_idx)
    collect_list. But min is associative, and perm = band_idx * r + i for
    i in 0..r-1, so band element i is just a CONDITIONAL min over the
    hashed rows grouped by (doc_id, band_idx) directly: one partial-agg
    shuffle replaces both (and moves k/r-fold fewer grouped rows than the
    signature shuffle). band_key equality with the two-step form is exact
    — same per-perm minima, concatenated in the same perm order — and
    pinned by the hash-oracled minhash_bands/lsh_buckets/candidate_pairs
    gate entries plus test_fused_bands_equal_two_step."""
    mins = [F.min(F.when(F.col("perm") % r == i, F.col("h")))
            .alias(f"_m{i}") for i in range(r)]
    return (_hashed_shingles(docs, k, w, shingles)
            .withColumn("band_idx", (F.col("perm") / r).cast("long"))
            .groupBy("doc_id", "band_idx")
            .agg(*mins)
            .select("doc_id", "band_idx",
                    F.concat_ws("_", *[F.col(f"_m{i}").cast("string")
                                       for i in range(r)])
                    .alias("band_key")))


def lsh_bands(signatures: DataFrame, r: int = DEFAULT_R) -> DataFrame:
    """Band the long-format signatures: (doc_id, band_idx, band_key).

    band_key concatenates the band's r minhash values in perm order —
    exact (collision-free for comparison purposes) and string-typed so the
    oracle can reproduce it. Equivalent of the reference's HashExploder
    (hasher.py:90-99): signature sliced into b = k/r bands."""
    return (signatures
            .withColumn("band_idx", (F.col("perm") / r).cast("long"))
            .groupBy("doc_id", "band_idx")
            .agg(F.expr(
                "concat_ws('_', transform("
                "array_sort(collect_list(struct(perm, minhash))), "
                "x -> cast(x.minhash AS string)))").alias("band_key")))


def lsh_buckets(bands: DataFrame, min_size: int = 2,
                max_size: int = BUCKET_CAP) -> DataFrame:
    """Bucket census: (band_idx, band_key, n) with min_size <= n <= max_size
    (the A3 size guard + O(bucket²) cap)."""
    return (bands.groupBy("band_idx", "band_key")
            .agg(F.count(F.lit(1)).alias("n"))
            .filter((F.col("n") >= min_size) & (F.col("n") <= max_size)))


def candidate_pairs(bands: DataFrame,
                    salt_target: int = SALT_TARGET) -> DataFrame:
    """Co-bucketed pairs (a < b), distinct across bands — the J2 bucket
    self-join. Oversized buckets are routed to linear mode by
    hot_bucket_edges before the quadratic step (lsh_buckets' cap).

    SALTED SKEW JOIN (north_rule: salted repartitioning): without salting,
    a bucket at the 512 cap lands its entire 512² = 262k-pair cross product
    on ONE shuffle task — ops.skew.salted_pairs shards it (semantics-free;
    see that module). The bucket census's ``n`` is reused as the shard
    divisor, so no extra count aggregation runs."""
    ok = lsh_buckets(bands)                      # (band_idx, band_key, n)
    m = bands.join(ok, ["band_idx", "band_key"])
    return (salted_pairs(m, ["band_idx", "band_key"], "doc_id",
                         salt_target=salt_target, n_col="n")
            .select("a", "b").distinct())


def hot_bucket_edges(bands: DataFrame,
                     cap: int = BUCKET_CAP) -> DataFrame:
    """Linear-mode edges for OVER-cap buckets: (a, b) star pairs with
    a = the bucket's min doc_id, one row per other member.

    candidate_pairs drops buckets > cap before its quadratic join (the
    O(bucket²) guard); without this pass those docs would silently vanish
    from the near-dup graph — a 2000-member templated-page cluster would
    yield ZERO minhash pairs (round-1 VERDICT #1). Mirroring the
    reference's linear --edges mode (graph.py:222-233: bucket contracted to
    a star around one vertex), each over-cap bucket instead contributes
    n-1 star edges straight into CC. These edges skip the exact-Jaccard
    verify — agreement of an entire LSH band across >cap docs IS the
    evidence (the reference's linear mode does not verify either); the
    verified threshold still governs every normal-size bucket."""
    stats = (bands.groupBy("band_idx", "band_key")
             .agg(F.min("doc_id").alias("a"),
                  F.count(F.lit(1)).alias("n"))
             .filter(F.col("n") > cap))
    return (bands.join(stats.select("band_idx", "band_key", "a"),
                       ["band_idx", "band_key"])
            .filter(F.col("doc_id") != F.col("a"))
            .select("a", F.col("doc_id").alias("b"))
            .distinct())


def dup_edges(docs: DataFrame, threshold: float = 0.7,
              k: int = DEFAULT_K, r: int = DEFAULT_R,
              w: int = DEFAULT_SHINGLE_W) -> DataFrame:
    """The full near-dup edge list feeding CC: exact-Jaccard-verified pairs
    from normal buckets (quadratic mode) UNION star edges from over-cap hot
    buckets (linear mode) — the adaptive analogue of the reference's
    --edges quadratic/linear switch (__main__.py:170-175, graph.py:209-249),
    chosen per bucket instead of per run."""
    bands = minhash_bands_direct(docs, k, r, w).localCheckpoint()
    verified = (jaccard(docs, candidate_pairs(bands), w)
                .filter(F.col("jaccard") >= threshold)
                .select("a", "b"))
    return verified.unionByName(hot_bucket_edges(bands)).distinct()


def jaccard(docs: DataFrame, pairs: DataFrame,
            w: int = DEFAULT_SHINGLE_W,
            shingles: DataFrame | None = None) -> DataFrame:
    """Exact shingle-set Jaccard for given (a, b) pairs: (a, b, jaccard
    double), one row per distinct pair.

    ONE shingle join: each pair row is exploded into one row per
    endpoint, (a, b, doc_id=a, side 1) and (a, b, doc_id=b, side 2), and
    those rows join the shingle table on doc_id. Grouping per (a, b,
    shingle) ORs the sides (3 = the shingle is in both sets); grouping
    per (a, b) then counts |A∪B| (shingle groups) and |A∩B| (groups with
    sides 3). A pair
    is kept only when both endpoints were seen, so an endpoint without
    shingles drops it, as the oracle's inner size joins do. inter / union
    is the same double as inter / (|A| + |B| - inter). Both aggregates
    share one exchange on (a, b): the join output is repartitioned on the
    pair, which already clusters the (a, b, shingle) groups. Pass
    ``shingles`` to reuse an already-extracted table."""
    sh = (shingles if shingles is not None else word_shingles(docs, w)) \
        .select("doc_id", "shingle")
    ends = pairs.select("a", "b", F.inline(F.array(
        F.struct(F.col("a").alias("doc_id"), F.lit(1).alias("side")),
        F.struct(F.col("b").alias("doc_id"), F.lit(2).alias("side")))))
    per_shingle = (ends.join(sh, "doc_id")
                   .repartition("a", "b")
                   .groupBy("a", "b", "shingle")
                   .agg(F.bit_or("side").alias("sides")))
    return (per_shingle.groupBy("a", "b")
            .agg(F.count(F.lit(1)).alias("union"),
                 F.count(F.when(F.col("sides") == 3, 1)).alias("inter"),
                 F.bit_or("sides").alias("seen"))
            .filter(F.col("seen") == 3)
            .select("a", "b",
                    F.round(F.col("inter").cast("double") / F.col("union"),
                            6).alias("jaccard")))


def minhash_dedup(docs: DataFrame, threshold: float = 0.7,
                  k: int = DEFAULT_K, r: int = DEFAULT_R,
                  w: int = DEFAULT_SHINGLE_W) -> DataFrame:
    """Full MinHash+LSH near-dup pass: verified pairs
    (a, b, jaccard >= threshold).

    The shingle subtree appears in this plan once per consumer (the band
    signatures and the verify's single shingle join) ON PURPOSE: the
    subtrees are identical and deterministic, so Catalyst's
    ReusedExchange serves the verify from the signature path's shingle
    exchange. Forcing a .persist() here instead was MEASURED 2-11x slower
    (it swaps the reused shuffle for an InMemoryRelation that breaks
    whole-stage codegen and exchange reuse) — pass ``shingles`` only when
    a materialized (checkpointed) table already exists."""
    cands = candidate_pairs(minhash_bands_direct(docs, k, r, w))
    return (jaccard(docs, cands, w)
            .filter(F.col("jaccard") >= threshold))


def ngram_jaccard_pairs(docs: DataFrame, threshold: float = 0.5,
                        w: int = DEFAULT_SHINGLE_W) -> DataFrame:
    """Exhaustive-candidate n-gram Jaccard: pairs sharing >= 1 shingle,
    verified exactly. Recall-complete down to 1 shared shingle (unlike
    LSH) but quadratic in shingle df — df-capped, for tight-threshold
    passes at moderate scale or as the LSH recall reference. The repeated
    shingle subtree is deduped by ReusedExchange (see minhash_dedup)."""
    sh = word_shingles(docs, w)
    dfcap = (sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
             .filter((F.col("df") >= 2) & (F.col("df") <= SHINGLE_DF_CAP))
             .select("shingle", "df"))
    shc = sh.join(dfcap, "shingle")
    # shared-shingle self-join through the engine's ONE salting device
    # (ops/skew.salted_pairs) — a max-df shingle (df = SHINGLE_DF_CAP =
    # 1024) would otherwise land its ~0.5M-row cross product on a single
    # shuffle task (round-3 VERDICT: the last unsalted bucketed self-join).
    # df doubles as the pre-computed per-key size, skipping the count agg.
    from apollo_spark.ops.skew import salted_pairs
    cands = (salted_pairs(shc, ["shingle"], "doc_id", n_col="df")
             .select("a", "b").distinct())
    return (jaccard(docs, cands, w, shingles=sh)
            .filter(F.col("jaccard") >= threshold))


def exact_dedup(docs: DataFrame) -> DataFrame:
    """Exact dedup by content hash: (doc_id, content_md5, canonical_id)
    where canonical_id = min doc_id sharing the md5. Keep rows with
    doc_id == canonical_id; drop the rest. One shuffle."""
    h = docs.select(F.col("doc_id").cast("long").alias("doc_id"),
                    F.md5(F.col("text")).alias("content_md5"))
    canon = (h.groupBy("content_md5")
             .agg(F.min("doc_id").alias("canonical_id")))
    return h.join(canon, "content_md5") \
        .select("doc_id", "content_md5", "canonical_id")


def simhash(docs: DataFrame, bits: int = 60) -> DataFrame:
    """SimHash sketch: (doc_id, simhash long). Bit j of the sketch is the
    majority vote of bit j over the md5-hashes of the document's distinct
    tokens (ties -> 0 via strict > comparison). 60 bits (the md5_long
    width, and the widest that keeps every block shift in positive
    signed-long range) since round 5 — see simhash_pairs for why block
    width is a scale knob.

    Pure column math in two folds: each row's votes are ONE array
    expression (per bit j, a fold over the row's token hashes adding +1 or
    -1), one groupBy(doc_id) sums the vote arrays element-wise (rows that
    share a doc_id add up, as in the oracle), and a second fold packs the
    bits. The shuffle carries ``bits`` counters per row, not one hash per
    token; a row without tokens (null text) contributes no votes."""
    last = bits - 1
    hashes = F.transform(F.array_distinct(tokens_col()), lambda t: md5_long(t))
    votes = F.expr(
        f"transform(sequence(0, {last}), j -> aggregate(h, 0, "
        f"(acc, x) -> acc + if(shiftright(x, j) & 1 = 1, 1, -1)))")
    total = F.aggregate(F.collect_list("v"), F.array_repeat(F.lit(0), bits),
                        lambda acc, v: F.zip_with(acc, v,
                                                  lambda x, y: x + y))
    packed = F.expr(
        f"aggregate(sequence(0, {last}), 0L, (acc, j) -> "
        f"acc | if(t[j] > 0, shiftleft(1L, j), 0L))")
    return (docs.select(F.col("doc_id").cast("long").alias("doc_id"),
                        hashes.alias("h"))
            .filter(F.size("h") > 0)
            .select("doc_id", votes.alias("v"))
            .groupBy("doc_id").agg(total.alias("t"))
            .select("doc_id", packed.alias("simhash")))


def simhash_pairs(docs: DataFrame, bits: int = 60,
                  max_hamming: int = 3) -> DataFrame:
    """Near-dup pairs by SimHash Hamming ball: (a, b, hamming).

    Pigeonhole block join: split the sketch into max_hamming+1 equal bit
    blocks — any pair within the ball agrees exactly on >= 1 block — join
    per block, verify with xor+bit_count, distinct. Linear in input +
    per-block bucket joins instead of the O(n²) cross join (which the
    oracle uses, brute force, to certify equivalence).

    BLOCK WIDTH IS A SCALE KNOB: expected candidates per block are
    ~n²/2^(bits/(max_hamming+1)), so the block width must grow with
    log2(n). The round-5 480k skew probe measured the old 32-bit sketch
    (8-bit blocks, 256 values) generating ~5e9 candidate combos from
    NATURAL collisions alone — 60-bit sketches (15-bit blocks) cut that
    ~180x at identical Hamming-ball semantics (BASELINE.md round-5 skew
    table). At 10^10 rows, pair bits=64-bit+ sketches with wider blocks
    or a higher block count.

    The block self-join is SALTED via the shared 2-D grid device
    (round-2 VERDICT #1; upgraded round 5 after the probe caught the
    one-sided form's salt_target·n per-cell output putting 256 s on one
    task). The device is semantics-free, so the brute-force oracle is
    unchanged. No bucket CAP here on purpose: unlike LSH candidates,
    Hamming-ball pairs are exact output, and a cap would silently drop
    true near-dups — the salting bounds the per-task work instead."""
    nblocks = max_hamming + 1
    bw = bits // nblocks
    sig = simhash(docs, bits)
    blocks = F.explode(F.expr(
        f"transform(sequence(0, {nblocks - 1}), "
        f"i -> struct(i AS blk, shiftright(simhash, i * {bw}) & {(1 << bw) - 1} AS val))"))
    tagged = (sig.select("doc_id", "simhash", blocks.alias("b"))
              .select("doc_id", "simhash", "b.blk", "b.val"))
    return (salted_pairs(tagged, ["blk", "val"], "doc_id",
                         payload=("simhash",))
            .withColumn("hamming",
                        F.bit_count(F.col("simhash_a")
                                    .bitwiseXOR(F.col("simhash_b"))))
            .filter(F.col("hamming") <= max_hamming)
            .select("a", "b", F.col("hamming").cast("long").alias("hamming"))
            .distinct())


def connected_components_pairs(pairs: DataFrame,
                               max_iter: int = 15) -> DataFrame:
    """Min-label CC over an (a, b) edge list -> (doc_id, cc_id) for every
    endpoint; cc_id = min doc_id reachable.

    Round-7: delegates to stages/cc.components_from_edges — ONE shared CC
    core instead of a hand-rolled numeric twin. Two wins, both measured:
    (1) a pair graph at or under CC_DRIVER_EDGES_MAX resolves in a single
    bounded limit-collect + driver union-find (the per-round driver
    barrier, not data, dominated dedup_cc at bench scale), and (2) the
    over-bound distributed path inherits the round-6 exchange-reduced
    fixpoint (edges pre-partitioned once, labels co-partitioned, round 1
    fused into the init aggregate — measured −29% at local[4]) that the
    old twin here never received. Labels are identical on both paths
    (min-reachable-id; parity pinned by tests)."""
    from apollo_spark.stages import cc as cc_stage
    edges = (pairs.select(F.col("a").cast("long").alias("image_id"),
                          F.col("b").cast("long").alias("rep"))
             .distinct()
             # LAZY cut of the (possibly LSH-deep) pair lineage — the
             # dispatcher's probe-collect materializes it in ONE job, and
             # every later consumer (fixpoint rounds on an over-cap
             # graph) reads the persisted partitions instead of re-running
             # the candidate+verify chain
             .localCheckpoint(eager=False))
    labels, _ = cc_stage.components_from_edges(
        edges, max_iter, out_schema="doc_id long, cc_id long")
    return labels
