"""Core kernel tests: codecs, phash, LSH params, WMH oracle/kernel parity,
connected-components semantics (reference fixtures ported from
/root/reference/tests/)."""

import numpy as np
import pytest

from apollo_spark.config import PipelineConfig
from apollo_spark.core import ccref, wmh
from apollo_spark.core.lsh import calc_hashtable_params
from apollo_spark.functions import codecs, extractors, phash


class TestCodecs:
    def test_png_lossless(self):
        rng = np.random.default_rng(1)
        px = rng.integers(0, 256, (40, 56, 3)).astype(np.uint8)
        assert np.array_equal(codecs.decode(codecs.encode(px, "png")), px)

    def test_jpeg_psnr_invariant(self):
        """input_hint per-row invariant: PSNR >= 40 dB for lossy formats."""
        rng = np.random.default_rng(2)
        px = rng.integers(0, 256, (64, 64, 3)).astype(np.uint8)
        for q in (85, 90, 95):
            dec = codecs.decode(codecs.encode(px, "jpeg", q))
            assert codecs.psnr(px, dec) >= 40.0

    def test_unknown_format_stubbed(self):
        px = np.zeros((4, 4, 3), dtype=np.uint8)
        with pytest.raises(NotImplementedError):
            codecs.encode(px, "webp")


class TestPhash:
    def test_deterministic_and_robust(self):
        rng = np.random.default_rng(3)
        px = rng.integers(0, 256, (48, 48, 3)).astype(np.uint8)
        h1 = phash.phash64(px)
        assert h1 == phash.phash64(px.copy())
        # mild quantization noise moves few bits
        noisy = codecs.decode(codecs.encode(px, "jpeg", 90))
        d = phash.hamming64(np.array([h1]), np.array([phash.phash64(noisy)]))[0]
        assert d <= 4
        # unrelated image is far
        other = rng.integers(0, 256, (48, 48, 3)).astype(np.uint8)
        d2 = phash.hamming64(np.array([h1]),
                             np.array([phash.phash64(other)]))[0]
        assert d2 > 10

    def test_int64_range(self):
        rng = np.random.default_rng(4)
        for _ in range(5):
            px = rng.integers(0, 256, (32, 32, 3)).astype(np.uint8)
            h = phash.phash64(px)
            assert -(2 ** 63) <= h < 2 ** 63


class TestLshParams:
    """Pinned values for the datasketch-derived search (FIXTURES.md §3)."""

    def test_known_configs(self):
        # b * r <= K always
        for t, k in [(0.8, 128), (0.9, 128), (0.8, 16), (0.5, 128)]:
            b, r = calc_hashtable_params(t, k)
            assert 1 <= b * r <= k, (t, k, b, r)

    def test_threshold_monotonicity(self):
        """Higher threshold -> longer bands (fewer false positives)."""
        _, r_low = calc_hashtable_params(0.5, 128)
        _, r_high = calc_hashtable_params(0.9, 128)
        assert r_high >= r_low

    def test_deterministic(self):
        assert calc_hashtable_params(0.8, 128) == calc_hashtable_params(0.8, 128)


class TestWmh:
    def test_all_zeros_raises(self):
        """hasher.py:245-246 contract."""
        hashes = np.array([1, 2, 3], dtype=np.uint64)
        rs, ln_cs, betas = wmh.gen_params_for(hashes, 8, 42)
        with pytest.raises(ValueError, match="all zeros"):
            wmh.weighted_minhash(np.zeros(3, np.float32), 8, rs, ln_cs, betas)

    def test_size_mismatch_raises(self):
        hashes = np.array([1, 2], dtype=np.uint64)
        rs, ln_cs, betas = wmh.gen_params_for(hashes, 8, 42)
        with pytest.raises(ValueError):
            wmh.weighted_minhash(np.ones(2, np.float32), 4, rs, ln_cs, betas)

    def test_batch_matches_dense_oracle(self):
        """The segmented batch kernel must reproduce the ported dense oracle
        bit-exactly per row (SURVEY.md §5.1) — argmin, ties, float32 math."""
        rng = np.random.default_rng(42)
        K = 16
        docs = []
        for _ in range(50):
            n = int(rng.integers(1, 30))
            hashes = np.unique(rng.integers(1, 2 ** 63, n).astype(np.uint64))
            weights = rng.random(len(hashes)).astype(np.float32) * 3 + 0.01
            docs.append((hashes, weights))
        # batch layout
        indptr = np.cumsum([0] + [len(h) for h, _ in docs]).astype(np.int64)
        fh = np.concatenate([h for h, _ in docs])
        w = np.concatenate([w for _, w in docs])
        got = wmh.wmh_batch(indptr, fh, w, K, seed=42, chunk=5)
        for d, (hashes, weights) in enumerate(docs):
            rs, ln_cs, betas = wmh.gen_params_for(hashes, K, 42)
            exp = wmh.weighted_minhash(weights.copy(), K, rs, ln_cs, betas)
            exp_k = (hashes[exp[:, 0]] & np.uint64(0xFFFFFFFF)).astype(np.uint32)
            assert np.array_equal(got[d, :, 0], exp_k), f"doc {d} k mismatch"
            assert np.array_equal(got[d, :, 1], exp[:, 1]), f"doc {d} t mismatch"

    def test_similar_bags_agree_more(self):
        """Signature agreement tracks weighted-Jaccard similarity."""
        rng = np.random.default_rng(7)
        hashes = np.sort(rng.integers(1, 2 ** 63, 40).astype(np.uint64))
        w1 = (rng.random(40) + 0.5).astype(np.float32)
        w2 = w1.copy()
        w2[:2] *= 1.5  # small perturbation
        w3 = (rng.random(40) + 0.5).astype(np.float32)  # unrelated
        K = 64
        indptr = np.array([0, 40, 80, 120], dtype=np.int64)
        got = wmh.wmh_batch(indptr, np.tile(hashes, 3),
                            np.concatenate([w1, w2, w3]), K, seed=42)
        sim_close = np.mean((got[0, :, 0] == got[1, :, 0])
                            & (got[0, :, 1] == got[1, :, 1]))
        sim_far = np.mean((got[0, :, 0] == got[2, :, 0])
                          & (got[0, :, 1] == got[2, :, 1]))
        assert sim_close > sim_far
        assert sim_close > 0.8

    def test_params_deterministic_across_calls(self):
        h = np.array([123456789, 987654321], dtype=np.uint64)
        a = wmh.gen_params_for(h, 32, 42)
        b = wmh.gen_params_for(h, 32, 42)
        for x, y in zip(a, b):
            assert np.array_equal(x, y)
        c = wmh.gen_params_for(h, 32, 43)
        assert not np.array_equal(a[0], c[0])

    def test_band_slices(self):
        sig = np.arange(32, dtype=np.uint32).reshape(16, 2)
        blob = wmh.pack_signature(sig)
        bands = wmh.band_slices(blob, htnum=3, band_size=4)
        assert len(bands) == 3 and all(len(b) == 32 for b in bands)
        assert bands[0] == sig[:4].tobytes()


class TestConnectedComponents:
    """Ported fixtures from tests/test_graph_ConnectedComponents.py:8-58."""

    def test_empty(self):
        assert ccref.connected_components([]) == {}

    def test_chained_buckets_single_component(self):
        buckets = [[i, i + 1] for i in range(5)]
        comps = ccref.connected_components(buckets)
        assert len(comps) == 1
        assert comps[0] == set(range(6))

    def test_two_chains_and_singleton(self):
        buckets = ([[i, i + 1] for i in range(5)]
                   + [[100]]
                   + [[i, i + 1] for i in range(10, 15)])
        comps = ccref.connected_components(buckets)
        assert len(comps) == 3
        # element conservation (the reference's own invariant)
        from itertools import chain
        assert set(chain(*buckets)) == set(chain(*comps.values()))

    def test_dup_pairs(self):
        comps = {0: {"a", "b", "c"}, 1: {"x"}, 2: {"y", "z"}}
        pairs = ccref.dup_pairs(comps)
        assert pairs == {("a", "b"), ("a", "c"), ("b", "c"), ("y", "z")}


class TestExtractors:
    def test_phash_ngrams_count_and_determinism(self):
        toks = extractors.phash_ngrams(-12345678901234, bits=8, stride=4)
        assert len(toks) == 15  # offsets 0,4,...,56
        assert toks == extractors.phash_ngrams(-12345678901234)
        assert all(t.startswith("ph.") for t in toks)

    def test_caption_shingles(self):
        bag = extractors.caption_shingles("abcab", 3)
        assert bag == {"cs.abc": 1, "cs.bca": 1, "cs.cab": 1}
        assert extractors.caption_shingles("", 3) == {}
        assert extractors.caption_shingles("ab", 3) == {"cs.ab": 1}

    def test_tfidf_zero_for_ubiquitous(self):
        w = extractors.log_tf_log_idf(np.array([10.0]), np.array([3.0]), 10)
        assert w[0] == 0.0


class TestOracleReplica:
    def test_planted_clusters_recovered(self):
        """mini-apollo on a tiny corpus recovers planted near-dup pairs."""
        from apollo_spark import oracle, synth
        images = synth.gen_corpus(120, seed=42)
        # threshold 0.7: planted pairs have median wjacc ~0.84 (<=2 caption
        # edits + jpeg requant), so the t=0.8 S-curve intentionally drops
        # ~half — at 0.7 the pipeline should catch nearly all of them.
        cfg = PipelineConfig(size=128, threshold=0.7)
        comps, pairs = oracle.cluster(images, cfg)
        # ground-truth pairs
        gt = images.groupby("gt_cluster")["image_id"].agg(list)
        gt_pairs = set()
        for members in gt:
            ms = sorted(members)
            for i, a in enumerate(ms):
                for b in ms[i + 1:]:
                    gt_pairs.add((a, b))
        assert gt_pairs, "fixture must plant duplicates"
        recall = len(pairs & gt_pairs) / len(gt_pairs)
        assert recall >= 0.85, f"planted-pair recall {recall}"
        # every document lands in exactly one component
        from itertools import chain
        all_elems = list(chain(*comps.values()))
        assert len(all_elems) == len(set(all_elems))


class TestBenchContinuity:
    """bench.py's vs_prev loader: newest matching round wins; sf/cpu
    mismatches are skipped (ratios across different configs are
    meaningless)."""

    def test_load_prev_bench_picks_newest_matching(self, tmp_path,
                                                   monkeypatch):
        import json

        import bench as bench_mod
        monkeypatch.setattr(bench_mod.os.path, "abspath",
                            lambda p: str(tmp_path / "bench.py"))
        monkeypatch.setattr(bench_mod, "SF_DIR", "/root/testdata/sf0.1")
        monkeypatch.setattr(bench_mod, "CPUS", 32)
        mk = lambda rnd, sf, cpus, val: (tmp_path / f"BENCH_r{rnd:02d}.json") \
            .write_text(json.dumps({"parsed": {
                "queries": {"q": val}, "sf": sf, "cpus": cpus}}))
        mk(1, 0.1, 32, 1.0)
        mk(2, 0.1, 32, 2.0)
        mk(3, 0.01, 32, 9.0)   # wrong sf -> skipped
        got = bench_mod._load_prev_bench()
        assert got["q"] == 2.0 and got["_round"] == 2

    def test_load_prev_bench_none_when_no_match(self, tmp_path,
                                                monkeypatch):
        import bench as bench_mod
        monkeypatch.setattr(bench_mod.os.path, "abspath",
                            lambda p: str(tmp_path / "bench.py"))
        assert bench_mod._load_prev_bench() is None


def test_xxhash64_long_matches_spark(spark):
    """Bit-parity of the pure-Python XXH64 (core/xxh.py) with Spark's
    xxhash64 over long columns — the device that lets DuckDB oracles
    replay hash-ordered plans (IVF codebook sample) without a JVM."""
    import numpy as np
    from pyspark.sql import functions as F

    from apollo_spark.core.xxh import xxhash64_long, xxhash64_longs
    vals = [0, 1, -1, 42, 2**62, -(2**62), 123456789, -987654321,
            2**63 - 1, -(2**63)] + list(range(1000, 1050))
    df = spark.createDataFrame([(v,) for v in vals], "v long") \
        .select("v", F.xxhash64("v").alias("h"))
    got = {r["v"]: r["h"] for r in df.collect()}
    assert all(got[v] == xxhash64_long(v) for v in vals)
    assert np.array_equal(xxhash64_longs(np.array(vals, dtype=np.int64)),
                          np.array([got[v] for v in vals]))


def test_xxhash64_bytes_matches_spark(spark):
    """Bit-parity of the pure-Python XXH64 over byte strings with Spark's
    xxhash64 on StringType — the device that lets the wmh_clusters DuckDB
    oracle reproduce the Spark-side surrogate cluster_id
    (xxhash64(cc_id)) via a host-computed VALUES map. Covers every code
    path: empty, tail-byte-only, 4-byte word, 8-byte words, and the
    >=32-byte 4-lane stripe loop, plus multi-byte UTF-8."""
    from pyspark.sql import functions as F

    from apollo_spark.core.xxh import xxhash64_str
    vals = ["", "a", "0", "123", "abc", "abcd", "abcdefg", "exactly8",
            "nine ch 9", "sixteen sixteen!", "a" * 31, "b" * 32, "c" * 33,
            "d" * 100, "doc_4711", "ünïcødé ✓",
            *[str(i) for i in range(0, 2000, 97)]]
    df = spark.createDataFrame([(v,) for v in vals], "v string") \
        .select("v", F.xxhash64("v").alias("h"))
    got = {r["v"]: r["h"] for r in df.collect()}
    assert all(got[v] == xxhash64_str(v) for v in vals)


def test_flagship_signature_parity(spark):
    """The Spark-free flagship chain (oracle.flagship_signatures_local:
    pandas docs-as-images adapter -> TF-IDF bags -> dense WMH) emits
    BITWISE-identical signature blobs to the distributed
    bags_stage.run -> hashst.signatures chain on the driver's sf0.001
    documents corpus — the contract the wmh_clusters signature-literal
    oracle rests on (__spark_entry__._wmh_clusters_sql): with identical
    blobs, band slicing is pure byte arithmetic and everything downstream
    replays in SQL."""
    import __spark_entry__ as e
    from apollo_spark import oracle
    from apollo_spark.stages import bags as bags_stage, hashst

    sf = "/root/testdata/sf0.001"
    cfg = e._FLAGSHIP_CFG
    images = e._docs_as_images(e._docs(spark, sf))
    sigs_df, _ = hashst.run(bags_stage.run(images, cfg), cfg)
    spark_sigs = {r["image_id"]: bytes(r["sig"])
                  for r in sigs_df.collect()}
    host_sigs = oracle.flagship_signatures_local(
        f"{sf}/documents.parquet", cfg)
    assert set(spark_sigs) == set(host_sigs)
    assert all(spark_sigs[k] == host_sigs[k] for k in host_sigs)


def test_flagship_query_parity(spark):
    """The Spark-free query twin (oracle.flagship_query_local) picks the
    SAME query doc, produces bitwise-identical weights, and its dense-
    kernel signature slices into the same bands the Spark query path
    probes with — the contract behind the query_by_image literal oracle."""
    import numpy as np
    from pyspark.sql import functions as F

    import __spark_entry__ as e
    from apollo_spark import oracle
    from apollo_spark.core.wmh import band_slices
    from apollo_spark.stages import bags as bags_stage, hashst

    sf = "/root/testdata/sf0.001"
    cfg = e._FLAGSHIP_CFG
    images = e._docs_as_images(e._docs(spark, sf))
    feats = bags_stage.extract_features(images, cfg)
    vocab = bags_stage.vocab_table(feats, cfg).localCheckpoint()
    ndocs = images.count()
    bands = hashst.run(
        bags_stage.weight_bags(feats, vocab, ndocs, cfg), cfg)[1] \
        .localCheckpoint()
    qsrc = (bands.groupBy("hashtable", "band")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.min("image_id").alias("m"))
            .filter("n >= 2").agg(F.min("m")).first()[0])
    corpus_bags, qbag, qsig, ndocs_local = oracle.flagship_query_local(
        f"{sf}/documents.parquet", cfg)
    assert ndocs_local == ndocs
    # same query doc (host replays the min-multi-bucket-member selection)
    qrow = images.filter(F.col("image_id") == qsrc) \
        .withColumn("image_id", F.lit("query-new"))
    qfeats = bags_stage.extract_features(qrow, cfg)
    qbags_spark = bags_stage.weight_bags(qfeats, vocab, ndocs, cfg)
    # Spark carries feat_hash as signed int32, the host twin as uint32 —
    # same 32 bits (the literal oracle is internally consistent either
    # way); normalize for the comparison
    got = {int(np.uint32(r["feat_hash"])): np.float32(r["weight"])
           for r in qbags_spark.collect()}
    want = {int(np.uint32(r.feat_hash)): np.float32(r.weight)
            for r in qbag.itertuples()}
    assert got == want
    # host signature slices to the same bands Spark probes with
    _, qbands_spark = hashst.run(qbags_spark.localCheckpoint(), cfg)
    spark_bands = {(r["hashtable"], bytes(r["band"]))
                   for r in qbands_spark.collect()}
    htnum, band_size = cfg.lsh_params()
    host_bands = {(ht, b)
                  for ht, b in enumerate(band_slices(qsig, htnum,
                                                     band_size))}
    assert spark_bands == host_bands
