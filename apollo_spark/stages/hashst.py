"""hash stage: weighted bags -> WMH signatures -> LSH bands (distributed).

Replaces the reference's driver-resident GPU loop (hasher.py:134-205 — data
originated on the driver, "Currently does not work in Spark Cluster mode",
doc/cmd/hash.md:3) with a fully distributed plan:

  bags --groupBy(image_id)--> per-doc feature arrays
       --mapInPandas(NumPy CWS kernel)--> signatures(image_id, sig binary)
       --JVM-side substring/posexplode--> bands(image_id, hashtable, band)

The kernel is the batched analogue of libMHCUDA's CSR interface
(hasher.py:178): each Arrow batch becomes flat (indptr, feat_hash, weight)
arrays, one vectorized pass over all docs x samples. Band explosion is pure
Catalyst (whole-stage codegen — the HashExploder flatMap of hasher.py:90-99
as transform+posexplode over the signature blob).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from apollo_spark.config import PipelineConfig
from apollo_spark.core import wmh

SIGNATURES_SCHEMA = "image_id string, sig binary"


def signatures(bags: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """(image_id, feat_hash, weight) -> (image_id, sig).

    sig = K little-endian uint32 (k, t) pairs — the same blob layout as the
    reference's hashes table value (hasher.py:196, cassandra_utils.py:82).
    """
    size, seed = cfg.size, cfg.seed
    grouped = (bags.groupBy("image_id")
               .agg(F.collect_list(F.struct("feat_hash", "weight")).alias("fw"))
               .select("image_id",
                       F.col("fw.feat_hash").alias("fh"),
                       F.col("fw.weight").alias("w")))

    def kernel(iterator):
        for pdf in iterator:
            n = len(pdf)
            if n == 0:
                yield pd.DataFrame({"image_id": [], "sig": []})
                continue
            lens = np.fromiter((len(x) for x in pdf["fh"]), dtype=np.int64,
                               count=n)
            indptr = np.zeros(n + 1, dtype=np.int64)
            np.cumsum(lens, out=indptr[1:])
            fh = np.concatenate([np.asarray(x, dtype=np.int64)
                                 for x in pdf["fh"]]).view(np.uint64)
            w = np.concatenate([np.asarray(x, dtype=np.float32)
                                for x in pdf["w"]])
            # sort rows by feature hash within each doc: fixes the argmin
            # tie-break to the dense oracle's lowest-index rule
            doc_of_row = np.repeat(np.arange(n, dtype=np.int64), lens)
            order = np.lexsort((fh, doc_of_row))
            sig = wmh.wmh_batch(indptr, fh[order], w[order], size, seed)
            blobs = [np.ascontiguousarray(sig[d], dtype="<u4").tobytes()
                     for d in range(n)]
            yield pd.DataFrame({"image_id": pdf["image_id"], "sig": blobs})

    return grouped.mapInPandas(kernel, schema=SIGNATURES_SCHEMA)


def _sig_frame(ids: np.ndarray, fh: np.ndarray, w: np.ndarray,
               size: int, seed: int) -> pd.DataFrame:
    """Signatures for flat (image_id, feat_hash uint64, weight float32)
    arrays whose doc rows are contiguous runs."""
    n = len(ids)
    change = np.nonzero(np.concatenate(([True], ids[1:] != ids[:-1])))[0]
    lens = np.diff(np.append(change, n))
    ndocs = len(change)
    indptr = np.zeros(ndocs + 1, dtype=np.int64)
    np.cumsum(lens, out=indptr[1:])
    doc_of_row = np.repeat(np.arange(ndocs, dtype=np.int64), lens)
    order = np.lexsort((fh, doc_of_row))
    sig = wmh.wmh_batch(indptr, fh[order], w[order], size, seed)
    blobs = [np.ascontiguousarray(sig[d], dtype="<u4").tobytes()
             for d in range(ndocs)]
    return pd.DataFrame({"image_id": ids[change], "sig": blobs})


def signatures_mapside(features: DataFrame, vocab_hashes: np.ndarray,
                       vocab_df: np.ndarray, ndocs: int,
                       cfg: PipelineConfig) -> DataFrame:
    """Shuffle-FREE signatures for fresh builds: raw extraction rows
    (image_id, feat_hash, tf, ns) -> (image_id, sig) with no groupBy and
    no join — vocabulary pruning and TF-IDF weighting happen INSIDE the
    kernel against a broadcast (sorted feat_hash, df) array pair.

    Why no Catalyst join: the obvious plan — broadcast-join the vocab and
    mapInPandas over the weighted rows — is ORDER-UNSAFE under Spark's
    CacheManager. Cache lookup matches on canonicalized plans with join
    hints stripped, so if any equivalent bags plan is cached (the test
    suite does; any user might), the weighted lineage is silently
    substituted by the cached SHUFFLE-join output, whose row order is
    join order, not extraction order (measured: 200 docs -> 12,092
    contiguous runs). Keeping pruning/weighting in the kernel leaves
    nothing joinable to substitute: the lineage is scan -> extraction
    mapInPandas -> this mapInPandas, narrow end to end.

    Contract: each document's extraction rows are contiguous within their
    partition (bags.extract_features emits docs consecutively; an
    InMemoryRelation substitution of the persisted extraction preserves
    per-partition row order). Grouping is run-length detection inside
    each Arrow batch plus a carry buffer for docs straddling batch
    boundaries (batches arrive in partition order; partitions never split
    a doc). Weight math mirrors oracle.tfidf_bags / bags.weight_bags
    exactly: float64 log1p(tf)*log(ndocs/df)*ns_mult cast to float32,
    rows with weight <= 0 or pruned features dropped.

    Replaces the shuffle path's exchange + ObjectHashAggregate
    (collect_list) — measured 22.2 s of the 66.6 s stage at 4 cores on
    the 480k corpus — plus the bags re-read and the list-of-arrays Arrow
    conversion. At 10^12 rows the most expensive stage becomes a pure
    map with no shuffle and no skew surface. ``signatures_auto`` picks
    between this and ``signatures``.
    """
    from apollo_spark.functions.extractors import log_tf_log_idf

    size, seed = cfg.size, cfg.seed
    pw, cw = float(cfg.phash_weight), float(cfg.caption_weight)
    from apollo_spark.stages.bags import NS_PHASH
    sc = features.sparkSession.sparkContext
    vocab_bc = sc.broadcast((np.asarray(vocab_hashes, dtype=np.uint64),
                             np.asarray(vocab_df, dtype=np.float64)))

    def weight_rows(pdf: pd.DataFrame):
        """Vocab prune + TF-IDF weight one batch -> (ids, fh, w) arrays."""
        vh, vdf = vocab_bc.value
        fh = pdf["feat_hash"].to_numpy().astype(np.int64).view(np.uint64)
        pos = np.searchsorted(vh, fh)
        pos[pos == len(vh)] = 0
        valid = vh[pos] == fh if len(vh) else np.zeros(len(fh), bool)
        tf = pdf["tf"].to_numpy().astype(np.float64)
        ns = pdf["ns"].to_numpy()
        mult = np.where(ns == NS_PHASH, pw, cw)
        w = np.zeros(len(fh), dtype=np.float64)
        w[valid] = log_tf_log_idf(vdf[pos[valid]], tf[valid], ndocs) \
            * mult[valid]
        w32 = w.astype(np.float32)
        keep = valid & (w32 > 0)
        return (pdf["image_id"].to_numpy()[keep], fh[keep],
                w32[keep])

    def kernel(iterator):
        c_ids = c_fh = c_w = None
        for pdf in iterator:
            ids, fh, w = weight_rows(pdf)
            if c_ids is not None and len(c_ids):
                ids = np.concatenate((c_ids, ids))
                fh = np.concatenate((c_fh, fh))
                w = np.concatenate((c_w, w))
            n = len(ids)
            if n == 0:
                continue
            # hold back the trailing run — it may continue in the next batch
            not_last = ids != ids[-1]
            cut = n - int(np.argmax(not_last[::-1])) if not_last.any() else 0
            c_ids, c_fh, c_w = ids[cut:], fh[cut:], w[cut:]
            if cut:
                yield _sig_frame(ids[:cut], fh[:cut], w[:cut], size, seed)
        if c_ids is not None and len(c_ids):
            yield _sig_frame(c_ids, c_fh, c_w, size, seed)

    return (features.select("image_id", "feat_hash", "tf", "ns")
            .mapInPandas(kernel, schema=SIGNATURES_SCHEMA))


def signatures_auto(features: DataFrame | None, vocab: DataFrame,
                    ndocs: int, bags: DataFrame,
                    cfg: PipelineConfig) -> DataFrame:
    """The one choice between the two signature paths: the shuffle-free
    ``signatures_mapside`` over the extraction rows ``features`` when they
    are given and the vocabulary fits cfg.mapside_vocab_max (which bounds
    the broadcast (hash, df) array pair), else the grouping-shuffle
    ``signatures`` over the weighted ``bags``. Pass ``features=None`` when
    the extraction rows are not known to be doc-contiguous — e.g. when the
    bags come from a checkpoint read-back, whose row-group splits can cut
    a doc. ``bags`` may be a lazy lineage: only the fallback reads it."""
    if features is None or vocab.count() > cfg.mapside_vocab_max:
        return signatures(bags, cfg)
    vp = vocab.select("feat_hash", "df").toPandas()
    vh = vp["feat_hash"].to_numpy().astype(np.int64).view(np.uint64)
    vdf = vp["df"].to_numpy().astype(np.float64)
    order = np.argsort(vh)
    return signatures_mapside(features, vh[order], vdf[order], ndocs, cfg)


def bands(signatures_df: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """signature blob -> htnum rows (image_id, hashtable, band).

    band i = bytes of samples [i*r, (i+1)*r) (hasher.py:95-99); leftover
    K - b*r samples are unused, as in the reference. Runs entirely in
    whole-stage codegen (no Python).
    """
    htnum, band_size = cfg.lsh_params()
    w = 8 * band_size
    slices = F.expr(
        f"transform(sequence(0, {htnum - 1}), "
        f"i -> substring(sig, i * {w} + 1, {w}))")
    return (signatures_df
            .select("image_id", F.posexplode(slices)
                    .alias("hashtable", "band")))


def run(bags: DataFrame, cfg: PipelineConfig) -> tuple[DataFrame, DataFrame]:
    sigs = signatures(bags, cfg)
    return sigs, bands(sigs, cfg)
