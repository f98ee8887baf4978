"""Pure-NumPy reference replica ("mini-apollo") — the recall ground truth.

Replays the reference's bags -> hash -> cc pipeline semantics
(/root/reference/apollo: bags.py, hasher.py, graph.py) on a pandas corpus
with no Spark involved: per-document dense Weighted MinHash via the ported
single-doc oracle (hasher.py:237-256 semantics), datasketch-style (b, r)
banding (hasher.py:90-99), and BFS-contract connected components
(graph.py:63-88). The distributed pipeline must reproduce these cluster
assignments with dup-pair recall >= 0.99 (BASELINE.json:metric) — our e2e
test asserts exact pair-set equality, which is stronger.

Only for test scale (dense per-doc loop); the distributed path is
apollo_spark.stages.*.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from apollo_spark.config import PipelineConfig
from apollo_spark.core import ccref, wmh
from apollo_spark.functions import extractors


def extract_bags(images: pd.DataFrame, cfg: PipelineConfig) -> pd.DataFrame:
    """images -> (image_id, feature, tf) rows."""
    rows = []
    for rid, ph, cap in zip(images["image_id"], images["phash"],
                            images["caption"]):
        bag = extractors.doc_bag(
            ph, cap, bits=cfg.phash_ngram_bits, stride=cfg.phash_ngram_stride,
            k=cfg.caption_shingle_k)
        for tok, tf in bag.items():
            rows.append((rid, tok, tf))
    return pd.DataFrame(rows, columns=["image_id", "feature", "tf"])


def tfidf_bags(features: pd.DataFrame, cfg: PipelineConfig) -> pd.DataFrame:
    """(image_id, feature, tf) -> (image_id, feat_hash, weight>0 float32).

    df-pruning (min_docfreq, doc/cmd/bags.md:13), vocabulary cap by document
    frequency (doc/cmd/bags.md:15), log-tf-log-idf weights (hasher.py:227),
    per-extractor namespace multipliers (hasher.py:102-131).
    """
    ndocs = features["image_id"].nunique()
    df = features.groupby("feature")["image_id"].nunique().rename("df")
    f = features.merge(df, on="feature")
    f = f[f["df"] >= cfg.min_docfreq]
    if f["feature"].nunique() > cfg.vocabulary_size:
        f["feat_hash"] = wmh.feature_hash_series(f["feature"])
        vocab = (f[["feature", "df", "feat_hash"]].drop_duplicates("feature")
                 .sort_values(["df", "feat_hash"], ascending=[False, True])
                 .head(cfg.vocabulary_size))
        f = f[f["feature"].isin(set(vocab["feature"]))]
    w = extractors.log_tf_log_idf(f["df"].to_numpy(np.float64),
                                  f["tf"].to_numpy(np.float64), ndocs)
    mult = np.where(f["feature"].str.startswith(extractors.PHASH_NS),
                    cfg.phash_weight, cfg.caption_weight)
    out = pd.DataFrame({
        "image_id": f["image_id"].to_numpy(),
        "feat_hash": wmh.feature_hash_series(f["feature"]),
        "weight": (w * mult).astype(np.float32),
    })
    return out[out["weight"] > 0].reset_index(drop=True)


def signatures(bags: pd.DataFrame, cfg: PipelineConfig) -> dict[str, bytes]:
    """Per-doc dense oracle WMH -> packed signature blobs."""
    sigs: dict[str, bytes] = {}
    for rid, grp in bags.groupby("image_id", sort=True):
        grp = grp.sort_values("feat_hash")
        hashes = grp["feat_hash"].to_numpy(np.uint64)
        weights = grp["weight"].to_numpy(np.float32)
        rs, ln_cs, betas = wmh.gen_params_for(hashes, cfg.size, cfg.seed)
        sig = wmh.weighted_minhash(weights, cfg.size, rs, ln_cs, betas)
        # dense oracle emits column indices; translate to the stable 32-bit
        # feature ids the distributed kernel emits
        sig[:, 0] = (hashes[sig[:, 0]] & np.uint64(0xFFFFFFFF)).astype(np.uint32)
        sigs[rid] = wmh.pack_signature(sig)
    return sigs


def band_buckets(sigs: dict[str, bytes],
                 cfg: PipelineConfig) -> dict[tuple[int, bytes], list[str]]:
    htnum, band_size = cfg.lsh_params()
    buckets: dict[tuple[int, bytes], list[str]] = {}
    for rid in sorted(sigs):
        for hti, band in enumerate(wmh.band_slices(sigs[rid], htnum,
                                                   band_size)):
            buckets.setdefault((hti, band), []).append(rid)
    return buckets


def cluster(images: pd.DataFrame, cfg: PipelineConfig | None = None
            ) -> tuple[dict[int, set], set[tuple]]:
    """images corpus -> (components, dup pair set)."""
    cfg = cfg or PipelineConfig()
    bags = tfidf_bags(extract_bags(images, cfg), cfg)
    sigs = signatures(bags, cfg)
    buckets = band_buckets(sigs, cfg)
    comps = ccref.connected_components(buckets.values())
    return comps, ccref.dup_pairs(comps)


def docs_as_images_local(docs_parquet: str) -> pd.DataFrame:
    """Spark-free twin of __spark_entry__._docs_as_images over a
    documents parquet file: image_id = str(doc_id), caption = text,
    phash = first-15-hex-digits of md5(text) as int — byte-identical to
    the Spark adapter's conv(substring(md5(text),1,15),16,10)."""
    import hashlib

    import pyarrow.parquet as pq
    docs = pq.read_table(docs_parquet,
                         columns=["doc_id", "text"]).to_pandas()
    return pd.DataFrame({
        "image_id": docs["doc_id"].astype(str),
        "phash": [int(hashlib.md5(t.encode()).hexdigest()[:15], 16)
                  for t in docs["text"]],
        "caption": docs["text"]})


def flagship_query_local(docs_parquet: str, cfg: PipelineConfig
                         ) -> tuple[pd.DataFrame, pd.DataFrame, bytes, int]:
    """Spark-free twin of the H8 file-mode query over the flagship
    documents-as-images corpus: (corpus bags, query bag, query signature
    blob, ndocs). The query doc is the corpus row with the MIN image_id,
    re-labeled 'query-new' and weighted against the corpus vocabulary
    (stages/bags.weight_bags semantics: join to the saved df table,
    log-tf-log-idf x namespace multiplier, weight>0, reference
    hasher.py:208-234 / query.py:47-56). Feeds the query_by_image DuckDB
    oracle: corpus bands replay from signature literals, the query's
    bands from this signature, and the sparse weighted-Jaccard re-rank
    replays in SQL over the weight literals. Bitwise parity of the
    corpus half is pinned by test_flagship_signature_parity; the query
    bag reuses the identical weighting kernel on one row."""
    images = docs_as_images_local(docs_parquet)
    feats = extract_bags(images, cfg)
    corpus_bags = tfidf_bags(feats, cfg)
    ndocs = int(feats["image_id"].nunique())
    # query source = min image_id inside any multi-member band bucket
    # (mirrors the Spark entry: exercises the re-rank on actual near-dup
    # candidates); global-min fallback on a collision-free corpus
    sigs = signatures(corpus_bags, cfg)
    multi = [min(ids) for ids in band_buckets(sigs, cfg).values()
             if len(ids) >= 2]
    qid_src = min(multi) if multi else sorted(images["image_id"])[0]
    q = feats[feats["image_id"] == qid_src].copy()
    dfmap = feats.groupby("feature")["image_id"].nunique().rename("df")
    q = q.merge(dfmap, on="feature")
    q = q[q["df"] >= cfg.min_docfreq]
    w = extractors.log_tf_log_idf(q["df"].to_numpy(np.float64),
                                  q["tf"].to_numpy(np.float64), ndocs)
    mult = np.where(q["feature"].str.startswith(extractors.PHASH_NS),
                    cfg.phash_weight, cfg.caption_weight)
    qbag = pd.DataFrame({
        "image_id": "query-new",
        "feat_hash": wmh.feature_hash_series(q["feature"]),
        "weight": (w * mult).astype(np.float32)})
    qbag = qbag[qbag["weight"] > 0].reset_index(drop=True)
    qsig = signatures(qbag, cfg)["query-new"]
    return corpus_bags, qbag, qsig, ndocs


def flagship_signatures_local(docs_parquet: str,
                              cfg: PipelineConfig) -> dict[str, bytes]:
    """Spark-free WMH signatures of the flagship documents-as-images
    corpus — the dense-oracle twin of the distributed
    bags_stage.run -> hashst.signatures chain, BITWISE identical to the
    Spark blobs (pinned at sf0.001 by
    tests/test_core.py::test_flagship_signature_parity). This
    is what the wmh_clusters DuckDB oracle calls to inject signatures as
    hex literals, the same device as the IVF centroid-literal oracles:
    the kernel half stays pytest-pinned, the SQL replays everything
    downstream of it (band slicing -> buckets -> star edges -> CC ->
    clusters)."""
    images = docs_as_images_local(docs_parquet)
    bags = tfidf_bags(extract_bags(images, cfg), cfg)
    return signatures(bags, cfg)


def flagship_refined_local(docs_parquet: str, cfg: PipelineConfig,
                           algorithm: str, sigs: dict[str, bytes] | None = None,
                           rounds: int = 5, max_kernel_size: int = 4_000,
                           max_fanin: int = 256) -> pd.DataFrame:
    """Spark-free G6 refinement of the flagship corpus's FAT components
    (3 <= n <= max_kernel_size): -> (image_id, rep, algorithm) rows, where
    ``rep`` is the refined community's min-member id (the suffix of the
    Spark stage's '<cc_id>#<rep>' cluster_id) and ``algorithm`` is what
    actually ran after cap fallbacks (community.effective_algorithm).

    Twin of stages/refine._refine_kernel over host-side buckets: the
    shared-bucket adjacency (weight = #shared buckets, fanin-capped at
    ``max_fanin`` like refine.MAX_BUCKET_FANIN) is rebuilt here
    independently from band_buckets, and the SAME pytest-pinned
    core.community.detect kernel labels it. Feeds the refined_clusters
    DuckDB oracle: the SQL replays bands -> buckets -> CC -> the size
    triage -> passthrough rows AND derives the '<cc_id>#' prefix itself;
    only this function's (image_id, rep, algorithm) for fat components is
    injected as literals (HONESTY LABEL: the community-detection kernel is
    deliberately not replayed in SQL — it is pinned separately by
    tests/test_community.py invariants + hypothesis; circularity documented
    exactly as with the WMH signature and IVF centroid literals)."""
    from apollo_spark.core import community
    if sigs is None:
        sigs = flagship_signatures_local(docs_parquet, cfg)
    buckets = band_buckets(sigs, cfg)
    comps = ccref.connected_components(buckets.values())
    member_comp: dict[str, int] = {}
    fat_docs: dict[int, np.ndarray] = {}
    for cid, members in comps.items():
        if 3 <= len(members) <= max_kernel_size:
            docs = np.asarray(sorted(members), dtype=object)
            fat_docs[cid] = docs
            for m in members:
                member_comp[m] = cid
    # shared-bucket adjacency per fat component (bucket members never span
    # components — sharing a bucket implies connectivity)
    doc_ix = {cid: {d: i for i, d in enumerate(docs)}
              for cid, docs in fat_docs.items()}
    adjs = {cid: np.zeros((len(docs), len(docs)), dtype=np.float32)
            for cid, docs in fat_docs.items()}
    for members in buckets.values():
        if not 2 <= len(members) <= max_fanin:
            continue
        cid = member_comp.get(members[0])
        if cid is None:
            continue
        ix = np.asarray(sorted(doc_ix[cid][m] for m in set(members)),
                        dtype=np.int64)
        adjs[cid][np.ix_(ix, ix)] += np.float32(1.0)
    rows = []
    for cid, docs in fat_docs.items():
        adj = adjs[cid]
        np.fill_diagonal(adj, 0.0)
        used = community.effective_algorithm(algorithm, len(docs))
        labels = community.detect(adj, algorithm, rounds)
        rows.extend((d, docs[lab], used) for d, lab in zip(docs, labels))
    return pd.DataFrame(rows, columns=["image_id", "rep", "algorithm"])
