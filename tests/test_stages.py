"""Distributed-stage tests: each stage against its NumPy-oracle counterpart,
plus the end-to-end recall gate (BASELINE.json: dup-pair recall >= 0.99 —
we assert exact pair-set equality, which is stronger)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from apollo_spark import oracle
from apollo_spark.core import wmh
from apollo_spark.stages import bags as bags_st
from apollo_spark.stages import candidates, cc as cc_st, evalcc, hashst
from apollo_spark.stages import query as query_st, validate


@pytest.fixture(scope="module")
def bags(images, cfg):
    return bags_st.run(images, cfg).cache()


@pytest.fixture(scope="module")
def sigs(bags, cfg):
    return hashst.signatures(bags, cfg).cache()


@pytest.fixture(scope="module")
def bands(sigs, cfg):
    return hashst.bands(sigs, cfg).cache()


@pytest.fixture(scope="module")
def cc(bands, images, cfg):
    return cc_st.connected_components(bands, cfg, all_ids=images).cache()


class TestBagsStage:
    def test_matches_oracle_bags(self, bags, corpus_pdf, cfg):
        got = bags.toPandas()
        exp = oracle.tfidf_bags(oracle.extract_bags(corpus_pdf, cfg), cfg)
        key = lambda df, fh_signed: set(
            zip(df["image_id"],
                df[fh_signed].astype(np.int64) if fh_signed == "feat_hash"
                else df[fh_signed]))
        got_set = set(zip(got["image_id"], got["feat_hash"].astype(np.int64)))
        exp_set = set(zip(exp["image_id"],
                          exp["feat_hash"].to_numpy(np.uint64)
                          .view(np.int64)))
        assert got_set == exp_set
        # weights match to float32 precision
        gm = {(r.image_id, r.feat_hash): r.weight
              for r in bags.collect()}
        for _, row in exp.iterrows():
            k = (row["image_id"], int(np.uint64(row["feat_hash"])
                                      .astype(np.int64)))
            assert np.isclose(gm[k], row["weight"], rtol=1e-6), k

    def test_vocab_cap_matches_sort_limit_semantics(self, spark, images,
                                                    cfg):
        """The histogram-threshold vocabulary cap must select exactly the
        same top-N features as the old global sort-limit (df desc,
        feat_hash asc) — without sorting anything but the tie band."""
        feats = bags_st.extract_features(images, cfg).cache()
        uncapped = bags_st.vocab_table(feats, cfg)
        n = uncapped.count()
        cap = max(1, n // 3)
        capped = bags_st.vocab_table(feats, cfg.with_(vocabulary_size=cap))
        got = {(r["feat_hash"], r["df"]) for r in capped.collect()}
        ref = {(r["feat_hash"], r["df"])
               for r in uncapped.orderBy(F.desc("df"), F.asc("feat_hash"))
               .limit(cap).collect()}
        assert got == ref
        feats.unpersist()

    def test_all_weights_positive(self, bags):
        assert bags.filter("weight <= 0").count() == 0


class TestHashStage:
    def test_signature_shape(self, sigs, cfg):
        rows = sigs.limit(5).collect()
        assert all(len(r["sig"]) == cfg.size * 8 for r in rows)

    def test_signatures_match_oracle(self, sigs, corpus_pdf, cfg):
        exp = oracle.signatures(
            oracle.tfidf_bags(oracle.extract_bags(corpus_pdf, cfg), cfg), cfg)
        got = {r["image_id"]: bytes(r["sig"]) for r in sigs.collect()}
        assert set(got) == set(exp)
        mismatches = [k for k in exp if got[k] != exp[k]]
        assert not mismatches, f"{len(mismatches)} signature mismatches"

    @staticmethod
    def _mapside_inputs(images, cfg):
        feats = bags_st.extract_features(images, cfg)
        vh, vdf = hashst.vocab_arrays(bags_st.vocab_table(feats, cfg))
        return feats, vh, vdf, images.count()

    def test_mapside_matches_shuffle_path(self, images, sigs, cfg):
        """signatures_mapside (no groupBy, no join; in-kernel vocab prune +
        weighting over the contiguous extraction lineage) must produce
        byte-identical signatures to the shuffle path — INCLUDING when an
        equivalent bags plan is cached (the sigs fixture caches one), the
        scenario that silently reorders any join-based variant."""
        feats, vh, vdf, ndocs = self._mapside_inputs(images, cfg)
        got = {r["image_id"]: bytes(r["sig"])
               for r in hashst.signatures_mapside(feats, vh, vdf, ndocs,
                                                  cfg).collect()}
        exp = {r["image_id"]: bytes(r["sig"]) for r in sigs.collect()}
        assert got == exp

    def test_mapside_carryover_across_tiny_batches(self, spark, images,
                                                   sigs, cfg):
        """With 7-row Arrow batches every document straddles batch
        boundaries, exercising the carry buffer (including docs spanning
        3+ batches)."""
        key = "spark.sql.execution.arrow.maxRecordsPerBatch"
        old = spark.conf.get(key, None)
        spark.conf.set(key, "7")
        try:
            feats, vh, vdf, ndocs = self._mapside_inputs(images, cfg)
            got = {r["image_id"]: bytes(r["sig"])
                   for r in hashst.signatures_mapside(feats, vh, vdf,
                                                      ndocs, cfg).collect()}
        finally:
            if old is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, old)
        exp = {r["image_id"]: bytes(r["sig"]) for r in sigs.collect()}
        assert got == exp

    def test_pipeline_mapside_fresh_and_shuffle_fallback_on_resume(
            self, spark, images, sigs, cfg, tmp_path):
        """Fresh run takes the mapside path; a resume with bags complete
        but signatures missing must fall back to the shuffle path (parquet
        read-back can split a doc across partitions) — both byte-identical
        to the reference signatures."""
        from apollo_spark.pipeline import run_pipeline
        out_dir = str(tmp_path / "ck")
        res = run_pipeline(spark, images, cfg, out_dir, extensions=False)
        exp = {r["image_id"]: bytes(r["sig"]) for r in sigs.collect()}
        got = {r["image_id"]: bytes(r["sig"])
               for r in res["signatures"].collect()}
        assert got == exp
        # wipe signatures + downstream, keep bags: resume must rebuild via
        # the shuffle path (bags_fresh False) and still match
        import shutil
        from apollo_spark.checkpoint import CheckpointCatalog
        cat = CheckpointCatalog(spark, out_dir, cfg)
        for st in ("signatures", "bands", "cc", "clusters"):
            cat.invalidate(st) if hasattr(cat, "invalidate") else None
            shutil.rmtree(f"{out_dir}/{st}", ignore_errors=True)
        m = cat._manifest()
        for st in ("signatures", "bands", "cc", "clusters"):
            m["stages"].pop(st, None)
        cat._save_manifest(m)
        res2 = run_pipeline(spark, images, cfg, out_dir, extensions=False)
        got2 = {r["image_id"]: bytes(r["sig"])
                for r in res2["signatures"].collect()}
        assert got2 == exp

    def test_every_doc_in_htnum_bands(self, bands, sigs, cfg):
        """Reference invariant: min = max = htnum bands per element
        (graph.py:135-138)."""
        htnum, _ = cfg.lsh_params()
        per_doc = bands.groupBy("image_id").count().select("count").distinct()
        counts = [r["count"] for r in per_doc.collect()]
        assert counts == [htnum]
        assert bands.count() == sigs.count() * htnum


class TestCCStage:
    def test_exact_pair_parity_with_oracle(self, cc, corpus_pdf, cfg):
        """The e2e gate: Spark cluster assignments == reference-replica
        assignments (recall 1.0 >= 0.99)."""
        got = {(r["a"], r["b"]) for r in cc_st.dup_pairs(cc).collect()}
        _, exp = oracle.cluster(corpus_pdf, cfg)
        missing = exp - got
        extra = got - exp
        assert not missing and not extra, (
            f"missing={len(missing)} extra={len(extra)}")

    def test_element_conservation(self, cc, images):
        """Every doc appears exactly once (reference CC invariant)."""
        assert cc.count() == images.count()
        assert cc.select("image_id").distinct().count() == images.count()

    def test_clusters_table(self, cc):
        cl = cc_st.clusters(cc)
        sizes = cl.groupBy("cluster_id").count()
        assert sizes.filter("count < 2").count() == 0

    def test_deep_chain_converges_in_log_rounds(self, spark, cfg):
        """Pointer jumping (path halving) must collapse a bucket chain far
        deeper than max_cc_iterations: 120 buckets chained pairwise =
        diameter ~120, cap 20 — plain min-label propagation would split it
        and warn; with l(v) <- l(l(v)) it converges (O(log d) rounds) to
        ONE component labeled by the global min."""
        import warnings
        rows = [(f"img{i:04d}", i // 2, 0) for i in range(2, 242)]
        rows += [(f"img{i:04d}", (i + 1) // 2, 0) for i in range(1, 241)]
        bands = spark.createDataFrame(
            rows, "image_id string, band long, hashtable int")
        with warnings.catch_warnings():
            warnings.simplefilter("error", RuntimeWarning)
            cc = cc_st.connected_components(bands, cfg).toPandas()
        assert set(cc["cc_id"]) == {"img0001"}
        assert len(cc) == 241


class TestCandidates:
    def test_simhash_pairs_verified(self, images, cfg):
        pairs = candidates.simhash_pairs(images, cfg)
        joined = (pairs
                  .join(images.select(F.col("image_id").alias("a"),
                                      F.col("phash").alias("pa")), "a")
                  .join(images.select(F.col("image_id").alias("b"),
                                      F.col("phash").alias("pb")), "b"))
        bad = joined.filter(
            F.bit_count(F.col("pa").bitwiseXOR(F.col("pb")))
            > cfg.simhash_max_hamming).count()
        assert bad == 0
        assert pairs.count() > 0  # planted phash near-dups exist

    def test_substring_membership_groups_shared_captions(self, images, cfg):
        memb = candidates.substring_membership(images, cfg)
        assert memb.count() > 0
        # every bucket has >= 2 members and <= cap
        sizes = memb.groupBy("band").count()
        assert sizes.filter(
            f"count < 2 or count > {cfg.bucket_pair_cap}").count() == 0

    def test_substring_winnowing_guarantee(self, spark, cfg):
        """The winnowing contract: two captions sharing an exact substring
        of length >= L + WINNOW_W - 1 MUST land in a common fingerprint
        bucket (hard guarantee, not in-expectation), regardless of the
        disjoint text around it."""
        L, W = cfg.substring_min_len, candidates.WINNOW_W
        shared = "S" + "abcdefghijklmnopqrstuvwxyz0123456789"[:L + W - 2]
        assert len(shared) == L + W - 1
        rows = [("d1", f"totally unrelated prefix one {shared} tail A"),
                ("d2", f"another prefix {shared} and different tail B"),
                ("d3", "no shared substring here at all " + "z" * 64)]
        images = spark.createDataFrame(rows, ["image_id", "caption"])
        memb = candidates.substring_membership(images, cfg)
        by_band = (memb.groupBy("band")
                   .agg(F.collect_set("image_id").alias("ids")).collect())
        assert any(set(r["ids"]) >= {"d1", "d2"} for r in by_band)
        assert all("d3" not in r["ids"] for r in by_band)

    def test_pairs_as_membership_roundtrip(self, spark, cfg):
        pairs = spark.createDataFrame([("x", "y"), ("y", "z")], ["a", "b"])
        memb = candidates.pairs_as_membership(pairs)
        assert memb.count() == 4
        comps = cc_st.connected_components(memb, cfg)
        assert comps.select("cc_id").distinct().count() == 1


class TestQuery:
    def test_probe_and_rerank_finds_planted_duplicate(
            self, bands, bags, corpus_pdf, cfg):
        # pick a planted cluster of size >= 2
        gt = corpus_pdf.groupby("gt_cluster")["image_id"].agg(list)
        members = next(m for m in gt if len(m) >= 2)
        qid, other = members[0], members[1]
        res = query_st.query(bands, bags, qid).collect()
        ids = [r["image_id"] for r in res]
        assert qid not in ids  # self-exclusion (P7)
        if other in ids:  # LSH may drop sub-threshold planted pairs
            sims = {r["image_id"]: r["sim"] for r in res}
            assert 0.0 < sims[other] <= 1.0

    def test_rerank_sim_range(self, bands, bags, images):
        qid = images.first()["image_id"]
        res = query_st.query(bands, bags, qid)
        assert res.filter("sim < 0 or sim > 1").count() == 0

    def test_query_by_new_image(self, spark, images, bags, bands, cfg,
                                corpus_pdf):
        """H8 file-mode query: a NEW image identical to a corpus row must
        find that row at sim ~ 1 via the saved-vocabulary path."""
        src = corpus_pdf.iloc[[0]].drop(columns=["gt_cluster"]) \
            .assign(image_id="query-new")
        qrow = spark.createDataFrame(src)
        df_table = bags_st.docfreq(bags_st.extract_features(images, cfg))
        res = query_st.query_image(qrow, df_table, images.count(),
                                   bands, bags, cfg)
        top = res.first()
        assert top is not None
        assert top["image_id"] == corpus_pdf.iloc[0]["image_id"]
        assert top["sim"] > 0.999


class TestReport:
    def test_render_reports_and_dumps(self, spark, cc):
        from apollo_spark import report
        cl = cc_st.clusters(cc)
        md = report.render_cluster_report(cl)
        assert md.startswith("# Duplicate clusters")
        assert "members)" in md
        hits = spark.createDataFrame([("a", 0.9), ("b", 0.5)],
                                     ["image_id", "sim"])
        md2 = report.render_query_report("q0", hits)
        assert md2.index("`a`") < md2.index("`b`")
        assert report.dump_cc(cc).count() == cc.count()

    def test_meta_resolved_reports(self, spark, images, cc):
        """Reports resolve caption/fmt/w/h per id when given the corpus
        (reference query.py:74-92 meta resolution analogue)."""
        from apollo_spark import report
        some = [r["image_id"] for r in images.select("image_id")
                .orderBy("image_id").limit(2).collect()]
        hits = spark.createDataFrame([(some[0], 0.93), (some[1], 0.71)],
                                     ["image_id", "sim"])
        md = report.render_query_report("q0", hits, images=images)
        row = images.filter(F.col("image_id") == some[0]).first()
        assert row["fmt"] in md and f"{row['w']}x{row['h']}" in md
        assert (row["caption"] or "")[:20] in md
        cl = cc_st.clusters(cc)
        md2 = report.render_cluster_report(cl, images=images)
        assert "x" in md2 and "—" in md2  # fmt WxH annotations rendered
        any_member = (cl.join(images, "image_id").first())
        assert any_member["fmt"] in md2


class TestRefine:
    @staticmethod
    def _memb(spark, rows):
        return spark.createDataFrame(
            [(d, ht, bytes(b, "utf-8")) for d, ht, b in rows],
            "image_id string, hashtable int, band binary")

    def test_weak_bridge_split(self, spark, cfg):
        """Two tight cliques joined by one shared bucket: CC = one
        component; refinement splits it (the LSH chaining fix)."""
        from apollo_spark.stages import refine
        rows = []
        for g, members in (("a", ["a1", "a2", "a3"]),
                           ("b", ["b1", "b2", "b3"])):
            for k in range(3):  # 3 buckets fully shared within the clique
                rows += [(m, 0, f"{g}{k}") for m in members]
        rows += [("a3", 0, "bridge"), ("b1", 0, "bridge")]
        memb = self._memb(spark, rows)
        cc = cc_st.connected_components(memb, cfg)
        assert cc.select("cc_id").distinct().count() == 1
        refined = refine.refine_components(cc, memb, cfg)
        by_cluster = {r["image_id"]: r["cluster_id"]
                      for r in refined.collect()}
        assert len(set(by_cluster.values())) == 2
        assert by_cluster["a1"] == by_cluster["a3"]
        assert by_cluster["b1"] == by_cluster["b3"]
        assert by_cluster["a3"] != by_cluster["b1"]

    def test_clique_intact_and_pair_passthrough(self, spark, cfg):
        from apollo_spark.stages import refine
        rows = [(m, 0, f"c{k}") for k in range(3)
                for m in ["x1", "x2", "x3", "x4"]]
        rows += [("p1", 0, "pb"), ("p2", 0, "pb")]
        memb = self._memb(spark, rows)
        cc = cc_st.connected_components(memb, cfg)
        refined = refine.refine_components(cc, memb, cfg)
        by_cluster = {r["image_id"]: r["cluster_id"]
                      for r in refined.collect()}
        assert len({by_cluster[m] for m in ["x1", "x2", "x3", "x4"]}) == 1
        assert by_cluster["p1"] == by_cluster["p2"]
        assert by_cluster["p1"] != by_cluster["x1"]


class TestCheckpointPruning:
    def test_band_probe_prunes_partitions(self, spark, bands, cfg,
                                          tmp_path):
        """The bands checkpoint is partitioned by hashtable (physical
        design O7): an interactive band probe filtered to one hashtable
        must (a) carry the filter as a PartitionFilter in the scan and
        (b) actually read fewer files than a full scan — on Iceberg the
        same layout prunes via partition manifests."""
        import io
        from contextlib import redirect_stdout

        from apollo_spark.checkpoint import CheckpointCatalog
        cat = CheckpointCatalog(spark, str(tmp_path), cfg)
        cat.write("bands", bands, partition_by=["hashtable"])
        full = cat.load("bands")
        probe = full.filter(F.col("hashtable") == 3)
        buf = io.StringIO()
        with redirect_stdout(buf):
            probe.explain(True)
        plan = buf.getvalue()
        pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
        assert pf and any("hashtable" in ln and "3" in ln for ln in pf), plan
        nf_probe = (probe.select(F.input_file_name().alias("f"))
                    .distinct().count())
        nf_full = (full.select(F.input_file_name().alias("f"))
                   .distinct().count())
        assert nf_probe < nf_full


class TestRefineQuality:
    def test_refined_miss_rate_beats_cc(self, spark, cfg):
        """G6 quality evidence (round-1 VERDICT #9): on a planted chained
        component (two 6-cliques joined by one weak bridge bucket), LPA
        refinement must strictly reduce the evalcc miss rate vs plain CC —
        the number backing the LPA-replaces-walktrap claim."""
        from apollo_spark.stages import refine
        A = [f"a{i}" for i in range(6)]
        B = [f"b{i}" for i in range(6)]
        rows = []
        for ht in range(3):  # strong intra-clique co-bucketing
            rows += [(d, ht, f"bucketA{ht}") for d in A]
            rows += [(d, ht, f"bucketB{ht}") for d in B]
        rows += [("a0", 9, "bridge"), ("b0", 9, "bridge")]  # the chain
        memb = TestRefine._memb(spark, rows)
        cc = cc_st.connected_components(memb, cfg)
        assert cc.select("cc_id").distinct().count() == 1  # chained
        # bags: cliques are internally identical, disjoint across cliques
        bag_rows = [(d, f, 1.0) for d in A for f in range(10)] + \
                   [(d, f, 1.0) for d in B for f in range(10, 20)]
        bags = spark.createDataFrame(
            bag_rows, "image_id string, feat_hash long, weight float")
        cc_eval = evalcc.global_metrics(
            evalcc.evaluate(cc_st.clusters(cc), bags, cfg.threshold))
        refined = refine.refine_components(cc, memb, cfg)
        ref_cl = refined.select(
            F.xxhash64("cluster_id").alias("cluster_id"), "image_id")
        ref_eval = evalcc.global_metrics(
            evalcc.evaluate(ref_cl, bags, cfg.threshold))
        assert ref_eval["avg_miss_rate"] < cc_eval["avg_miss_rate"]
        assert ref_eval["misses"] < cc_eval["misses"]
        print("cc_eval:", cc_eval, "ref_eval:", ref_eval)


class TestIncremental:
    def test_append_extends_clusters(self, spark, cfg, tmp_path):
        """Base run on a prefix, append the rest: old dup pairs preserved
        (CC is monotone in edges), cross-boundary planted dups found,
        element conservation over the full corpus."""
        from apollo_spark import synth
        from apollo_spark.incremental import append_images
        from apollo_spark.pipeline import run_pipeline
        pdf = synth.gen_corpus(300, seed=7)
        # split INSIDE a planted cluster so a dup pair spans the boundary
        gt = pdf["gt_cluster"].to_numpy()
        k = next(i for i in range(150, 290) if gt[i - 1] == gt[i])
        base_pdf, delta_pdf = pdf.iloc[:k], pdf.iloc[k:]
        base = spark.createDataFrame(base_pdf.drop(columns=["gt_cluster"]))
        delta = spark.createDataFrame(delta_pdf.drop(columns=["gt_cluster"]))
        full = base.unionByName(delta)

        out = run_pipeline(spark, base, cfg, str(tmp_path))
        base_pairs = {(r["a"], r["b"])
                      for r in cc_st.dup_pairs(out["cc"]).collect()}
        res = append_images(spark, full, delta, cfg, str(tmp_path))
        cc = res["cc"]
        assert cc.count() == 300
        assert cc.select("image_id").distinct().count() == 300
        pairs = {(r["a"], r["b"]) for r in cc_st.dup_pairs(cc).collect()}
        assert base_pairs <= pairs
        base_ids = set(base_pdf["image_id"])
        cross = [p for p in pairs
                 if (p[0] in base_ids) != (p[1] in base_ids)]
        assert cross, "no cross-boundary duplicate linked"

        # duplicate invocation of the SAME delta must be refused (ADVICE r1:
        # a retried append silently doubled bags rows)
        bags_rows = res["bags"].count()
        with pytest.raises(ValueError, match="already applied"):
            append_images(spark, full, delta, cfg, str(tmp_path))
        from apollo_spark.checkpoint import CheckpointCatalog
        cat = CheckpointCatalog(spark, str(tmp_path), cfg)
        assert cat.load("bags").count() == bags_rows

    def test_kernel_version_invalidates_checkpoints(self, spark, cfg,
                                                    tmp_path, monkeypatch):
        """A hash-affecting kernel change must invalidate old checkpoints
        (ADVICE r1): the fingerprint folds in wmh.KERNEL_VERSION."""
        from apollo_spark.checkpoint import CheckpointCatalog
        from apollo_spark.core import wmh as wmh_mod
        cat = CheckpointCatalog(spark, str(tmp_path), cfg)
        cat.write("vocab", spark.range(3).selectExpr(
            "id AS feat_hash", "1 AS df"))
        assert cat.is_complete("vocab")
        monkeypatch.setattr(wmh_mod, "KERNEL_VERSION", "wmh-test-v999")
        cat2 = CheckpointCatalog(spark, str(tmp_path), cfg)
        assert not cat2.is_complete("vocab")

    def test_append_metrics_record_delta_only(self, spark, cfg, tmp_path):
        """Metrics after an append must add only the delta's files/rows,
        not re-record the whole table (ADVICE r1 double-count)."""
        from apollo_spark.checkpoint import CheckpointCatalog
        cat = CheckpointCatalog(spark, str(tmp_path), cfg)
        base = spark.range(100).selectExpr("id AS x").coalesce(2)
        cat.write("t", base)
        m1 = (cat.metrics().filter("stage = 't'")
              .agg(F.sum("rows")).first()[0])
        assert m1 == 100
        cat.append("t", spark.range(100, 110).selectExpr("id AS x")
                   .coalesce(1))
        m2 = (cat.metrics().filter("stage = 't'")
              .agg(F.sum("rows")).first()[0])
        assert m2 == 110  # 100 base + 10 delta, NOT 100 + 110


class TestEval:
    def test_cluster_eval_metrics(self, cc, bags, cfg):
        cl = cc_st.clusters(cc)
        per = evalcc.evaluate(cl, bags, cfg.threshold)
        rows = per.collect()
        assert rows
        for r in rows:
            assert r["pairs"] >= 1
            assert 0 <= r["miss_rate"] <= 1
        g = evalcc.global_metrics(per)
        assert g["clusters"] == len(rows)

    # the DuckDB twin of the eval kernel, parameterized on the member cap
    # so the cap-mirror (ADVICE r4) is testable at toy scale
    _EVAL_SQL = """
WITH membs AS (SELECT DISTINCT cluster_id, doc_id FROM tf),
csz AS (SELECT cluster_id AS cid, count(*) AS nm FROM membs
        GROUP BY cluster_id HAVING count(*) >= 2),
memb AS (SELECT cluster_id, doc_id FROM (
           SELECT m.cluster_id, m.doc_id,
                  row_number() OVER (PARTITION BY m.cluster_id
                                     ORDER BY m.doc_id) AS rn
           FROM membs m JOIN csz ON csz.cid = m.cluster_id)
         WHERE rn <= {cap}),
dsum AS (SELECT doc_id, sum(w) AS s FROM tf GROUP BY doc_id),
cpair AS (SELECT m1.cluster_id, m1.doc_id AS a, m2.doc_id AS b
          FROM memb m1 JOIN memb m2
            ON m1.cluster_id = m2.cluster_id AND m1.doc_id < m2.doc_id),
cmin AS (SELECT p.cluster_id, p.a, p.b, sum(least(x.w, y.w)) AS msum
         FROM cpair p JOIN tf x ON x.doc_id = p.a
         JOIN tf y ON y.doc_id = p.b AND y.token = x.token
         GROUP BY p.cluster_id, p.a, p.b),
csim AS (SELECT p.cluster_id, p.a, p.b,
                round(coalesce(m.msum, 0)
                      / (sa.s + sb.s - coalesce(m.msum, 0)), 6) AS sim
         FROM cpair p
         LEFT JOIN cmin m ON m.cluster_id = p.cluster_id
                         AND m.a = p.a AND m.b = p.b
         JOIN dsum sa ON sa.doc_id = p.a
         JOIN dsum sb ON sb.doc_id = p.b),
cper AS (SELECT cluster_id, count(*) AS pairs,
                sum(CASE WHEN sim < 0.7 THEN 1 ELSE 0 END) AS misses,
                sum(CASE WHEN sim < 0.7 THEN CAST(floor(
                      (sim - 0.7) * (sim - 0.7) * 1e6 + 0.5) AS BIGINT)
                         ELSE 0 END) AS loss_micro
         FROM csim GROUP BY cluster_id)
SELECT p.cluster_id, csz.nm::INT AS n_members, p.pairs::BIGINT AS pairs,
       p.misses::BIGINT AS misses,
       round(p.misses::DOUBLE / p.pairs, 6) AS miss_rate,
       coalesce(p.loss_micro, 0) / 1e6 AS loss,
       round(coalesce(p.loss_micro, 0) / 1e6 / p.pairs, 6) AS loss_rate
FROM cper p JOIN csz ON csz.cid = p.cluster_id
ORDER BY p.cluster_id"""

    @staticmethod
    def _toy_bags(seed=3):
        import numpy as np
        import pandas as pd
        rng = np.random.default_rng(seed)
        rows = []
        for cid, ms in {10: [1, 2, 3, 4], 20: [5, 6, 7], 30: [8, 9]}.items():
            for m in ms:
                for t in rng.choice(30, size=rng.integers(5, 15),
                                    replace=False):
                    rows.append((cid, m, f"tok{t}",
                                 float(rng.integers(1, 5))))
        return pd.DataFrame(rows, columns=["cluster_id", "image_id",
                                           "feat_hash", "weight"])

    def _kernel_frame(self, pdf):
        import pandas as pd
        from apollo_spark.stages.evalcc import _cluster_eval
        outs = [_cluster_eval(0.7)((cid,), g.drop(columns=["cluster_id"]))
                for cid, g in pdf.groupby("cluster_id")]
        return pd.concat(outs, ignore_index=True) \
            .sort_values("cluster_id", ignore_index=True)

    def test_eval_kernel_matches_sql_math_bitwise(self):
        """The gridded eval kernel (half-up 6dp sims, integer micro-unit
        loss accumulation — ADVICE r4: gridding each term BEFORE the sum
        makes the total independent of engine scan order) must reproduce
        the DuckDB sum-min/sum-max SQL bit-for-bit — the device behind the
        cluster_eval oracle. Pure pandas/DuckDB: no Spark, so it pins the
        MATH independent of the engine plumbing."""
        import duckdb
        pdf = self._toy_bags()
        kern = self._kernel_frame(pdf)
        con = duckdb.connect()
        con.register("tf", pdf.rename(columns={
            "image_id": "doc_id", "feat_hash": "token", "weight": "w"}))
        ora = con.execute(self._EVAL_SQL.format(cap=4096)).df()
        for c in kern.columns:
            assert (kern[c].to_numpy() == ora[c].to_numpy()).all(), c

    def test_eval_member_cap_mirrored_in_sql(self, monkeypatch):
        """ADVICE r4: the kernel's MAX_EVAL_MEMBERS cap (lowest-id subset)
        must have an exact SQL counterpart — verified by shrinking the cap
        to 3 so the 4-member cluster actually trips it: pairs become
        C(3,2) while n_members still reports the true size."""
        import duckdb
        from apollo_spark.stages import evalcc as evalcc_mod
        monkeypatch.setattr(evalcc_mod, "MAX_EVAL_MEMBERS", 3)
        pdf = self._toy_bags()
        kern = self._kernel_frame(pdf)
        assert kern.loc[kern["cluster_id"] == 10, "pairs"].iloc[0] == 3
        assert kern.loc[kern["cluster_id"] == 10, "n_members"].iloc[0] == 4
        con = duckdb.connect()
        con.register("tf", pdf.rename(columns={
            "image_id": "doc_id", "feat_hash": "token", "weight": "w"}))
        ora = con.execute(self._EVAL_SQL.format(cap=3)).df()
        for c in kern.columns:
            assert (kern[c].to_numpy() == ora[c].to_numpy()).all(), c

    def test_per_row_invariants(self, images):
        v = validate.validate(images)
        bad = v.filter("NOT (decode_ok AND shape_ok AND phash_ok)").count()
        assert bad == 0
        assert v.filter("psnr < 40").count() == 0


class TestPipeline:
    def test_end_to_end_with_checkpoints_and_resume(self, spark, images, cfg,
                                                    tmp_path):
        from apollo_spark.pipeline import run_pipeline
        out = run_pipeline(spark, images, cfg, str(tmp_path),
                           extensions=True, evaluate=False)
        n_cc = out["cc"].count()
        assert n_cc == images.count()
        # resume: second run loads all checkpoints (no recompute)
        out2 = run_pipeline(spark, images, cfg, str(tmp_path))
        assert out2["cc"].count() == n_cc
        import json
        with open(tmp_path / "manifest.json") as f:
            m = json.load(f)
        assert set(m["stages"]) >= {"bags", "signatures", "bands", "cc",
                                    "clusters"}
        # per-partition lineage metrics recorded
        from apollo_spark.checkpoint import CheckpointCatalog
        cat = CheckpointCatalog(spark, str(tmp_path), cfg)
        # S7 resetdb analogue: partial reset invalidates only that stage
        assert cat.is_complete("clusters")
        cat.reset(["clusters"])
        assert not cat.is_complete("clusters")
        assert cat.is_complete("bands")
        mdf = cat.metrics()
        assert mdf.filter("stage = 'bags'").count() > 0

    def test_extensions_only_add_edges(self, spark, images, cfg, tmp_path):
        from apollo_spark.pipeline import run_pipeline
        base = run_pipeline(spark, images, cfg, str(tmp_path / "a"),
                            extensions=False)
        ext = run_pipeline(spark, images, cfg, str(tmp_path / "b"),
                           extensions=True)
        base_pairs = {(r["a"], r["b"])
                      for r in cc_st.dup_pairs(base["cc"]).collect()}
        ext_pairs = {(r["a"], r["b"])
                     for r in cc_st.dup_pairs(ext["cc"]).collect()}
        assert base_pairs <= ext_pairs

    def test_resume_with_extensions_rebuilds_cc_built_without(
            self, spark, tmp_path):
        """A run that asks for extensions over a cc built without them
        rebuilds cc (a resume would otherwise keep a cc that lacks the
        extension edges); a resume that matches the recorded cc keeps
        it. A fresh build checkpoints no CC membership table."""
        import json

        from apollo_spark import synth
        from apollo_spark.checkpoint import CheckpointCatalog
        from apollo_spark.config import PipelineConfig
        from apollo_spark.pipeline import run_pipeline
        cfg = PipelineConfig()
        images = spark.createDataFrame(
            synth.gen_corpus(240, seed=17).drop(columns=["gt_cluster"]))

        def pairs(cc):
            return {(r["a"], r["b"]) for r in cc_st.dup_pairs(cc).collect()}

        run_dir, ref_dir = str(tmp_path / "run"), str(tmp_path / "ref")
        run_pipeline(spark, images, cfg, run_dir, extensions=False)
        res = run_pipeline(spark, images, cfg, run_dir, extensions=True)
        ref = run_pipeline(spark, images, cfg, ref_dir, extensions=True)
        assert pairs(res["cc"]) == pairs(ref["cc"])
        with open(tmp_path / "ref" / "manifest.json") as f:
            assert set(json.load(f)["stages"]) == {
                "vocab", "bags", "signatures", "bands", "simhash_pairs",
                "substring_fp", "cc", "clusters"}

        ts = CheckpointCatalog(spark, run_dir, cfg).stage_info("cc")["ts"]
        run_pipeline(spark, images, cfg, run_dir, extensions=True)
        assert CheckpointCatalog(spark, run_dir, cfg) \
            .stage_info("cc")["ts"] == ts

    def test_refine_and_evaluate_after_build_and_append(self, spark,
                                                        tmp_path):
        """run_pipeline and append_images with refine and evaluate: the
        refined clusters are the refinement of the run's own cc over the
        CC membership derived from its own tables, and cluster_eval is
        written, after the build and again after the append."""
        from apollo_spark import synth
        from apollo_spark.checkpoint import CheckpointCatalog
        from apollo_spark.config import PipelineConfig
        from apollo_spark.incremental import append_images
        from apollo_spark.pipeline import run_pipeline
        from apollo_spark.stages import refine
        cfg = PipelineConfig()
        pdf = synth.gen_corpus(300, seed=5).drop(columns=["gt_cluster"])
        full = spark.createDataFrame(pdf)
        base = spark.createDataFrame(pdf.iloc[:270])
        delta = spark.createDataFrame(pdf.iloc[270:])
        out = str(tmp_path)

        def check(res):
            cat = CheckpointCatalog(spark, out, cfg)
            want = refine.refine_components(
                cat.load("cc"), candidates.cc_membership(
                    cat.load("bands"), cfg, cat.load("simhash_pairs"),
                    cat.load("substring_fp")), cfg)
            got = res["clusters_refined"]
            assert got.count() > 0
            assert got.exceptAll(want).count() == 0
            assert want.exceptAll(got).count() == 0
            assert cat.is_complete("cluster_eval")

        check(run_pipeline(spark, base, cfg, out, refine=True,
                           evaluate=True))
        check(append_images(spark, full, delta, cfg, out, refine=True,
                            evaluate=True))


class TestIncrementalExtensions:
    """Round-2 VERDICT #3: extension passes must be O(|delta|) — no
    re-extraction of the corpus per append — while matching a full
    rebuild's results."""

    def test_append_extends_without_rescan_and_matches_rebuild(
            self, spark, cfg, tmp_path, monkeypatch):
        from apollo_spark import synth
        from apollo_spark.checkpoint import CheckpointCatalog
        from apollo_spark.incremental import append_images
        from apollo_spark.pipeline import run_pipeline
        from apollo_spark.stages import candidates as cand_mod
        pdf = synth.gen_corpus(240, seed=17)
        gt = pdf["gt_cluster"].to_numpy()
        k1 = next(i for i in range(120, 180) if gt[i - 1] == gt[i])
        k2 = next(i for i in range(k1 + 30, 230) if gt[i - 1] == gt[i])
        base = spark.createDataFrame(
            pdf.iloc[:k1].drop(columns=["gt_cluster"]))
        d1 = spark.createDataFrame(
            pdf.iloc[k1:k2].drop(columns=["gt_cluster"]))
        d2 = spark.createDataFrame(
            pdf.iloc[k2:].drop(columns=["gt_cluster"]))
        mid = base.unionByName(d1)
        full = mid.unionByName(d2)
        inc_dir, full_dir = str(tmp_path / "inc"), str(tmp_path / "full")
        run_pipeline(spark, base, cfg, inc_dir)

        fp_calls, full_builder_calls = [], []
        real_fp = cand_mod.substring_fingerprints
        real_sp = cand_mod.simhash_pairs

        def spy_fp(images, c):
            fp_calls.append(images.count())
            return real_fp(images, c)

        def spy_sp(images, c):
            full_builder_calls.append(images.count())
            return real_sp(images, c)

        monkeypatch.setattr(cand_mod, "substring_fingerprints", spy_fp)
        monkeypatch.setattr(cand_mod, "simhash_pairs", spy_sp)
        # TWO successive appends: the incremental CC warm-starts from its
        # own previous output the second time (the induction step)
        append_images(spark, mid, d1, cfg, inc_dir)
        res = append_images(spark, full, d2, cfg, inc_dir)
        monkeypatch.undo()
        # substring extraction ran over each DELTA only; the full-corpus
        # builders never re-ran (the old shape reset + re-extracted 240)
        assert fp_calls == [k2 - k1, 240 - k2]
        assert full_builder_calls == []

        run_pipeline(spark, full, cfg, full_dir)
        inc_cat = CheckpointCatalog(spark, inc_dir, cfg)
        full_cat = CheckpointCatalog(spark, full_dir, cfg)
        # the substring census is derived where CC uses it and is never
        # checkpointed, so compare the census computed from each
        # checkpointed fingerprint table
        for stg, derive in (("substring_fp", None),
                            ("substring_membership",
                             lambda fp: cand_mod.membership_from_fp(fp,
                                                                    cfg))):
            a, b = inc_cat.load("substring_fp"), full_cat.load(
                "substring_fp")
            if derive is not None:
                a, b = derive(a), derive(b)
            assert a.exceptAll(b).count() == 0, f"{stg}: inc-only rows"
            assert b.exceptAll(a).count() == 0, f"{stg}: rebuild-only rows"
        inc_pairs = {(r["a"], r["b"])
                     for r in inc_cat.load("simhash_pairs").collect()}
        full_pairs = {(r["a"], r["b"])
                      for r in full_cat.load("simhash_pairs").collect()}
        assert inc_pairs == full_pairs and full_pairs
        # cross-boundary phash/substring dups end in identical clusters
        inc_cc = {(r["a"], r["b"])
                  for r in cc_st.dup_pairs(res["cc"]).collect()}
        full_cc = {(r["a"], r["b"])
                   for r in cc_st.dup_pairs(full_cat.load("cc")).collect()}
        assert inc_cc == full_cc and inc_cc


class TestConfigChangeInvalidation:
    def test_pipeline_rebuilds_on_hash_affecting_config_change(
            self, spark, cfg, tmp_path):
        """VERDICT r2 #8: flipping a hash-affecting config field must
        invalidate the whole checkpoint at the PIPELINE level — the stale
        stages are rebuilt through run_pipeline, not silently reused."""
        from apollo_spark import synth
        from apollo_spark.checkpoint import CheckpointCatalog
        from apollo_spark.pipeline import run_pipeline
        images = spark.createDataFrame(
            synth.gen_corpus(120, seed=41).drop(columns=["gt_cluster"]))
        out = str(tmp_path / "run")
        res1 = run_pipeline(spark, images, cfg, out, extensions=False)
        sigs1 = res1["signatures"].count()
        # capture NOW: res1 reads the checkpoint dir lazily and the second
        # run overwrites it
        blob1 = len(res1["signatures"].first()["sig"])
        assert CheckpointCatalog(spark, out, cfg).is_complete("signatures")

        # same dir, different WMH sample count -> different signatures:
        # old checkpoint must read as incomplete and rebuild
        cfg2 = cfg.with_(size=64)
        cat2 = CheckpointCatalog(spark, out, cfg2)
        assert not cat2.is_complete("signatures")
        res2 = run_pipeline(spark, images, cfg2, out, extensions=False)
        assert cat2.is_complete("signatures")
        assert res2["signatures"].count() == sigs1  # one row per image
        # K halved -> half the sig blob bytes (K uint32 (k,t) pairs):
        # proof the stage actually REBUILT under the new config
        blob2 = len(res2["signatures"].first()["sig"])
        assert blob2 * 2 == blob1
        # and the ORIGINAL config now reads the dir as stale too (the
        # manifest is keyed by one fingerprint, not a union)
        assert not CheckpointCatalog(spark, out, cfg).is_complete(
            "signatures")


class TestIncrementalCC:
    @staticmethod
    def _warm_start(old_cc, new_edges, new_ids, cfg):
        """The full cc table from incremental_components_parts' pieces:
        old_cc minus the affected components, plus the relabeled rows and
        the new singletons."""
        affected, relabeled, singles = \
            cc_st.incremental_components_parts(old_cc, new_edges, new_ids,
                                               cfg)
        return (old_cc.join(affected, "cc_id", "left_anti")
                .unionByName(relabeled).unionByName(singles))

    def test_warm_start_merge_semantics(self, spark, cfg):
        """incremental_components_parts: old components merge through new
        edges (label = global min of the merged set, as a full rebuild
        emits), unaffected components and singletons pass through
        untouched, and unmatched delta ids become singletons."""
        old = [("a1", "a1"), ("a2", "a1"), ("a3", "a1"),
               ("b1", "b1"), ("b2", "b1"), ("c1", "c1"), ("d1", "d1")]
        old_cc = spark.createDataFrame(old, "image_id string, cc_id string")
        new_edges = spark.createDataFrame(
            [("a3", "b2"), ("n1", "c1")], "image_id string, rep string")
        new_ids = spark.createDataFrame([("n1",), ("n2",)],
                                        "image_id string")
        out = self._warm_start(old_cc, new_edges, new_ids, cfg)
        cc = {r["image_id"]: r["cc_id"] for r in out.collect()}
        assert cc == {"a1": "a1", "a2": "a1", "a3": "a1",
                      "b1": "a1", "b2": "a1",
                      "c1": "c1", "n1": "c1",
                      "d1": "d1", "n2": "n2"}
        assert out.count() == 9  # complete and disjoint

    def test_empty_delta_edge_set(self, spark, cfg):
        """A delta colliding with nothing: no new edges — old labels pass
        through untouched and every delta id becomes a singleton."""
        old_cc = spark.createDataFrame(
            [("a1", "a1"), ("a2", "a1"), ("z9", "z9")],
            "image_id string, cc_id string")
        no_edges = spark.createDataFrame([], "image_id string, rep string")
        new_ids = spark.createDataFrame([("n1",), ("n2",)],
                                        "image_id string")
        out = self._warm_start(old_cc, no_edges, new_ids, cfg)
        cc = {r["image_id"]: r["cc_id"] for r in out.collect()}
        assert cc == {"a1": "a1", "a2": "a1", "z9": "z9",
                      "n1": "n1", "n2": "n2"}

    # Both sides of the CC dispatcher's size gate, monkeypatched as in
    # test_ops.py::test_cc_dispatch_parity: at the default cap the append
    # resolves CC by driver union-find, at cap 0 by the distributed
    # fixpoint; both then take the same cc/clusters write. Each append
    # test runs at both caps under its own name.
    def test_partitioned_append_touches_only_affected_partitions(
            self, spark, cfg, tmp_path, monkeypatch):
        self._partitioned_append(spark, cfg, tmp_path, monkeypatch, 100_000)

    def test_partitioned_append_touches_only_affected_partitions_fixpoint(
            self, spark, cfg, tmp_path, monkeypatch):
        self._partitioned_append(spark, cfg, tmp_path, monkeypatch, 0)

    def test_merge_two_components_and_clear_emptied_partition(
            self, spark, cfg, tmp_path, monkeypatch):
        self._merge_two_components(spark, cfg, tmp_path, monkeypatch,
                                   100_000)

    def test_merge_two_components_and_clear_emptied_partition_fixpoint(
            self, spark, cfg, tmp_path, monkeypatch):
        self._merge_two_components(spark, cfg, tmp_path, monkeypatch, 0)

    def _partitioned_append(self, spark, cfg, tmp_path, monkeypatch, cap):
        """The cc checkpoint is hash-partitioned on cc_id; an incremental
        append must replace ONLY the partitions holding changed rows —
        every other partition's files stay byte-identical on disk (the
        O(affected) IO contract of checkpoint.overwrite_partitions)."""
        import glob
        import os
        from apollo_spark import synth
        from apollo_spark.checkpoint import CheckpointCatalog
        from apollo_spark.incremental import append_images
        from apollo_spark.pipeline import run_pipeline
        from pyspark.sql import functions as SF
        monkeypatch.setattr(cc_st, "CC_DRIVER_EDGES_MAX", cap)
        # 150 base rows -> 8 partitions; the 212-row corpus after the
        # append stays under twice that, so the append keeps 8
        monkeypatch.setattr(cc_st, "CC_ROWS_PER_PARTITION", 19)
        base_pdf = synth.gen_corpus(150, seed=19)
        base = spark.createDataFrame(
            base_pdf.drop(columns=["gt_cluster"]))
        # a dup-SPARSE delta (the realistic web-delta shape): fresh
        # content from another seed (collides with nothing) plus exactly
        # two exact copies of base images — so only ~2 components relabel
        fresh = spark.createDataFrame(
            synth.gen_corpus(60, seed=777).drop(columns=["gt_cluster"])) \
            .withColumn("image_id", SF.concat(SF.lit("d"),
                                              SF.col("image_id")))
        dups = base.limit(2).withColumn(
            "image_id", SF.concat(SF.lit("dup"), SF.col("image_id")))
        delta = fresh.unionByName(dups)
        out = str(tmp_path / "run")
        run_pipeline(spark, base, cfg, out)
        cat = CheckpointCatalog(spark, out, cfg)
        assert cat.stage_info("cc")["cc_layout"] == "p-hash-v2"
        assert cat.stage_info("cc")["cc_parts"] == 8

        def snapshot():
            return {f: os.path.getmtime(f) for f in glob.glob(
                os.path.join(out, "cc", "p=*", "*.parquet"))}

        before = snapshot()
        assert len({os.path.dirname(f) for f in before}) == 8
        res = append_images(spark, base.unionByName(delta), delta,
                            cfg, out)
        after = snapshot()
        # pre-existing files may only disappear/change inside the
        # overwrite-touched partitions (the relabeled components' old/new
        # label partitions); singleton rows land as brand-NEW files
        destroyed = {f for f in before
                     if f not in after or after[f] != before[f]}
        preserved = set(before) - destroyed
        touched_dirs = {os.path.dirname(f) for f in destroyed}
        # relabels happened (cross-boundary planted dups) but confined to
        # a strict subset of partitions; most pre-existing bytes survived
        assert destroyed and len(touched_dirs) < 8, (
            len(destroyed), sorted(touched_dirs))
        assert preserved, "append rewrote every pre-existing file"
        new_files = set(after) - set(before)
        assert new_files, "no appended singleton/overwrite files"
        # content is still the complete corpus, every id exactly once,
        # and the two exact copies really merged into their sources
        cc = cat.load("cc")
        assert cc.count() == 212
        assert cc.select("image_id").distinct().count() == 212
        by_id = {r["image_id"]: r["cc_id"]
                 for r in cc.select("image_id", "cc_id").collect()}
        for r in dups.select("image_id").collect():
            src = r["image_id"][len("dup"):]
            assert by_id[r["image_id"]] == by_id[src]
        assert res["cc"].count() == 212
        # clusters took the same partitioned treatment (r3 VERDICT #4):
        # the incrementally-maintained table must equal a from-scratch
        # derivation over the final cc table, row for row
        assert cat.stage_info("clusters")["cc_layout"] == "p-hash-v2"
        assert cat.stage_info("cc")["cc_parts"] \
            == cat.stage_info("clusters")["cc_parts"] == 8
        cl = cat.load("clusters").select("cluster_id", "rep", "image_id")
        expect = cc_st.clusters(cc.select("image_id", "cc_id"))
        assert cl.exceptAll(expect).count() == 0
        assert expect.exceptAll(cl).count() == 0

    def _merge_two_components(self, spark, cfg, tmp_path, monkeypatch,
                              cap):
        """The hardest warm-start case (round-3 VERDICT stretch) fused with
        the ADVICE r3 high fix: one delta doc whose caption CONTAINS both
        groups' captions bridges TWO previously separate components through
        new exact-substring buckets, so both affected components must fuse
        under the global-min label — and the B component's old partition,
        whose EVERY row relabels into A's partition, must end up empty
        (it is cleared and receives no new rows; stale files would leave
        b-members in the cc table TWICE, under the old and the new
        label)."""
        import os
        from apollo_spark import synth
        from apollo_spark.checkpoint import CheckpointCatalog
        from apollo_spark.incremental import append_images
        from apollo_spark.pipeline import run_pipeline
        monkeypatch.setattr(cc_st, "CC_DRIVER_EDGES_MAX", cap)
        # one row per partition: the 4-row base gets 4 partitions, and
        # the 5-row corpus after the append keeps them
        monkeypatch.setattr(cc_st, "CC_ROWS_PER_PARTITION", 1)
        parts = 4

        def p_of(s):
            return spark.sql(
                f"SELECT pmod(xxhash64('{s}'), {parts}) AS p").first()["p"]

        # a b-pair whose component partition differs from a's (p is a
        # fixed hash — probe a few literals instead of assuming)
        b1 = next(c for c in ("b1", "b3", "b5", "b7", "b9")
                  if p_of(c) != p_of("a1"))
        cap_a = ("alpha bravo charlie delta echo foxtrot golf hotel "
                 "india juliet kilo lima mike november oscar papa")
        cap_b = ("quebec romeo sierra tango uniform victor whiskey xray "
                 "yankee zulu one two three four five six seven")
        rows = [("a1", b"xa", 8, 8, "raw", cap_a, 11111),
                ("a2", b"xb", 8, 8, "raw", cap_a, 11111),
                (b1, b"xc", 8, 8, "raw", cap_b, 22222),
                (b1 + "x", b"xd", 8, 8, "raw", cap_b, 22222)]
        base = spark.createDataFrame(rows, synth.IMAGES_SCHEMA)
        # the bridge: caption = cap_a ++ cap_b shares winnowed 32-gram
        # fingerprints with BOTH groups (deterministic, unlike an LSH
        # collision); phash unique so only the substring axis links it
        delta = spark.createDataFrame(
            [("m1", b"xe", 8, 8, "raw", cap_a + " " + cap_b, 33333)],
            synth.IMAGES_SCHEMA)
        out = str(tmp_path / "run")
        run_pipeline(spark, base, cfg, out)
        cat = CheckpointCatalog(spark, out, cfg)
        assert cat.stage_info("cc")["cc_parts"] == parts
        pre = {r["image_id"]: r["cc_id"] for r in cat.load("cc").collect()}
        assert pre == {"a1": "a1", "a2": "a1", b1: b1, b1 + "x": b1}
        append_images(spark, base.unionByName(delta), delta, cfg, out)
        assert cat.stage_info("cc")["cc_parts"] == parts
        cc = cat.load("cc")
        got = {r["image_id"]: r["cc_id"] for r in cc.collect()}
        assert got == {k: "a1" for k in
                       ["a1", "a2", b1, b1 + "x", "m1"]}
        assert cc.count() == 5  # stale-partition rows would make this 7
        # the emptied partition is gone from disk
        assert not os.path.exists(os.path.join(out, "cc", f"p={p_of(b1)}"))
        # clusters followed: one 5-member cluster, no stale b-cluster
        cl = cat.load("clusters")
        assert cl.select("cluster_id").distinct().count() == 1
        assert cl.select("image_id").distinct().count() == 5
        assert cl.count() == 5
        # parity with a from-scratch rebuild over the full corpus
        full = run_pipeline(spark, base.unionByName(delta), cfg,
                            str(tmp_path / "full"))
        assert {(r["image_id"], r["cc_id"]) for r in full["cc"]
                .select("image_id", "cc_id").collect()} == set(got.items())

    def test_append_colliding_with_nothing(
            self, spark, cfg, tmp_path, monkeypatch):
        self._isolated_append(spark, cfg, tmp_path, monkeypatch, 100_000)

    def test_append_colliding_with_nothing_fixpoint(
            self, spark, cfg, tmp_path, monkeypatch):
        self._isolated_append(spark, cfg, tmp_path, monkeypatch, 0)

    def _isolated_append(self, spark, cfg, tmp_path, monkeypatch, cap):
        """A delta that collides with nothing, neither the corpus nor
        itself, touches no partition: every pre-existing cc and clusters
        file stays byte-unchanged, the delta lands only as new cc files
        holding its own singletons, and both tables equal a from-scratch
        rebuild."""
        import glob
        import os
        from pathlib import Path

        import pandas as pd
        from apollo_spark import synth
        from apollo_spark.checkpoint import CheckpointCatalog
        from apollo_spark.incremental import append_images
        from apollo_spark.pipeline import run_pipeline
        from pyspark.sql import functions as SF
        monkeypatch.setattr(cc_st, "CC_DRIVER_EDGES_MAX", cap)
        # 150 base rows -> 8 partitions, kept by the grown corpus
        monkeypatch.setattr(cc_st, "CC_ROWS_PER_PARTITION", 19)
        base = spark.createDataFrame(
            synth.gen_corpus(150, seed=19).drop(columns=["gt_cluster"]))
        # only the planted singletons of another seed: fresh content with
        # no near-copy inside the delta or in the base
        pdf = synth.gen_corpus(60, seed=777)
        lone = pdf[pdf.groupby("gt_cluster")["image_id"]
                   .transform("size") == 1]
        delta = spark.createDataFrame(lone.drop(columns=["gt_cluster"])) \
            .withColumn("image_id", SF.concat(SF.lit("d"),
                                              SF.col("image_id")))
        delta_ids = {r["image_id"] for r in delta.collect()}
        assert delta_ids
        full = base.unionByName(delta)
        out = str(tmp_path / "run")
        run_pipeline(spark, base, cfg, out)
        cat = CheckpointCatalog(spark, out, cfg)
        assert cat.stage_info("cc")["cc_parts"] == 8

        def snapshot(stage):
            files = glob.glob(os.path.join(out, stage, "p=*", "*.parquet"))
            return {f: Path(f).read_bytes() for f in files}

        before = {st: snapshot(st) for st in ("cc", "clusters")}
        assert before["cc"] and before["clusters"]
        append_images(spark, full, delta, cfg, out)
        after = {st: snapshot(st) for st in ("cc", "clusters")}
        for st in ("cc", "clusters"):
            assert all(after[st].get(f) == b
                       for f, b in before[st].items()), st
        assert set(after["clusters"]) == set(before["clusters"])
        new_cc = pd.concat(pd.read_parquet(f) for f in
                           set(after["cc"]) - set(before["cc"]))
        assert sorted(new_cc["image_id"]) == sorted(delta_ids)
        assert (new_cc["cc_id"] == new_cc["image_id"]).all()
        rebuilt = run_pipeline(spark, full, cfg, str(tmp_path / "full"))
        for st, cols in (("cc", ["image_id", "cc_id"]),
                         ("clusters", ["cluster_id", "rep", "image_id"])):
            got = cat.load(st).select(*cols)
            exp = rebuilt[st].select(*cols)
            assert got.exceptAll(exp).count() == 0, st
            assert exp.exceptAll(got).count() == 0, st

    def test_crash_between_cc_clear_and_append(
            self, spark, cfg, tmp_path, monkeypatch):
        """Crash AFTER the touched cc partitions are cleared but BEFORE
        their new rows are written (round-3 VERDICT stretch): commit_delta
        is last, so the delta must still be pending, the replay refused
        loudly, and a reset + full rebuild recovers a consistent table."""
        import os
        from apollo_spark import synth
        from apollo_spark.checkpoint import CheckpointCatalog
        from apollo_spark.incremental import append_images
        from apollo_spark.pipeline import run_pipeline
        from pyspark.sql import functions as SF
        # 120 base rows -> 8 partitions
        monkeypatch.setattr(cc_st, "CC_ROWS_PER_PARTITION", 15)
        base = spark.createDataFrame(
            synth.gen_corpus(120, seed=23).drop(columns=["gt_cluster"]))
        fresh = spark.createDataFrame(
            synth.gen_corpus(30, seed=321).drop(columns=["gt_cluster"])) \
            .withColumn("image_id", SF.concat(SF.lit("d"),
                                              SF.col("image_id")))
        dups = base.limit(2).withColumn(
            "image_id", SF.concat(SF.lit("dup"), SF.col("image_id")))
        delta = fresh.unionByName(dups)
        full = base.unionByName(delta)
        out = str(tmp_path / "run")
        run_pipeline(spark, base, cfg, out)

        real_clear = CheckpointCatalog.clear_partitions
        cleared = []

        def crash_after_cc_clear(self, stage, col, values):
            real_clear(self, stage, col, values)
            if stage == "cc":
                cleared.extend(values)
                raise RuntimeError("simulated crash after the cc clear")

        monkeypatch.setattr(CheckpointCatalog, "clear_partitions",
                            crash_after_cc_clear)
        with pytest.raises(RuntimeError, match="simulated crash"):
            append_images(spark, full, delta, cfg, out)
        monkeypatch.setattr(CheckpointCatalog, "clear_partitions",
                            real_clear)
        # the crash window is real: the planted dups touched partitions,
        # and they were emptied
        assert cleared
        assert not any(os.path.exists(os.path.join(out, "cc", f"p={v}"))
                       for v in cleared)
        # still pending -> duplicate invocation refused loudly
        with pytest.raises(ValueError, match="pending"):
            append_images(spark, full, delta, cfg, out)
        # recovery: reset and rebuild from the full corpus
        cat = CheckpointCatalog(spark, out, cfg)
        cat.reset()
        run_pipeline(spark, full, cfg, out)
        cc = cat.load("cc")
        assert cc.count() == 152
        assert cc.select("image_id").distinct().count() == 152

    def test_cc_partitions_boundaries(self):
        """The cc/clusters partition count is ceil(n / R), at least 1."""
        R = cc_st.CC_ROWS_PER_PARTITION
        assert [cc_st.cc_partitions(n)
                for n in (0, 1, R, R + 1, 2 * R + 1)] == [1, 1, 1, 2, 3]

    def test_append_keeps_partition_count_until_corpus_doubles(
            self, spark, cfg, tmp_path, monkeypatch):
        """Appends keep the recorded partition count while the corpus
        needs fewer than twice it; the append that crosses 2k relayouts
        cc and clusters at the new count — every id once, no hive dir of
        the old modulus left, labels equal to a from-scratch build."""
        import glob
        import os
        from apollo_spark import synth
        from apollo_spark.checkpoint import CheckpointCatalog
        from apollo_spark.incremental import append_images
        from apollo_spark.pipeline import run_pipeline
        # 100 base rows -> 4 partitions; 150 rows need 6 (< 8, kept);
        # 210 rows need 9 (>= 8, relayout)
        monkeypatch.setattr(cc_st, "CC_ROWS_PER_PARTITION", 25)
        pdf = synth.gen_corpus(210, seed=29).drop(columns=["gt_cluster"])
        base, d1, d2 = (spark.createDataFrame(pdf.iloc[a:b])
                        for a, b in ((0, 100), (100, 150), (150, 210)))
        out = str(tmp_path / "run")
        run_pipeline(spark, base, cfg, out)
        cat = CheckpointCatalog(spark, out, cfg)

        def parts():
            return (cat.stage_info("cc")["cc_parts"],
                    cat.stage_info("clusters")["cc_parts"])

        assert parts() == (4, 4)
        append_images(spark, base.unionByName(d1), d1, cfg, out)
        assert parts() == (4, 4)
        full = base.unionByName(d1).unionByName(d2)
        append_images(spark, full, d2, cfg, out)
        assert parts() == (9, 9)
        for st, key in (("cc", "cc_id"), ("clusters", "rep")):
            t = cat.load(st)
            assert t.count() == t.select("image_id").distinct().count()
            # every row sits in the partition of its key at the new count
            assert t.filter(F.col("p") != F.pmod(
                F.xxhash64(key), F.lit(9))).count() == 0
            dirs = {int(os.path.basename(d)[2:]) for d in
                    glob.glob(os.path.join(out, st, "p=*"))}
            assert dirs == {r["p"] for r in
                            t.select("p").distinct().collect()}
        assert cat.load("cc").count() == 210
        scratch = run_pipeline(spark, full, cfg, str(tmp_path / "full"))
        assert {(r["image_id"], r["cc_id"]) for r in
                cat.load("cc").select("image_id", "cc_id").collect()} \
            == {(r["image_id"], r["cc_id"]) for r in
                scratch["cc"].select("image_id", "cc_id").collect()}

    @pytest.mark.parametrize("failing", ["clusters", "cc"])
    def test_concurrent_cc_clusters_write_failure_resumes(
            self, spark, cfg, tmp_path, monkeypatch, failing):
        """A failure in one of the two concurrent fresh cc/clusters writes
        propagates out of run_pipeline; a resume yields the cc and
        clusters rows of an uninterrupted build, with one partition count
        recorded on both manifest entries."""
        from apollo_spark import synth
        from apollo_spark.checkpoint import CheckpointCatalog
        from apollo_spark.pipeline import run_pipeline
        monkeypatch.setattr(cc_st, "CC_ROWS_PER_PARTITION", 30)  # 4 parts
        images = spark.createDataFrame(
            synth.gen_corpus(120, seed=31).drop(columns=["gt_cluster"]))
        real_write = CheckpointCatalog.write

        def failing_write(self, stage, df, *a, **kw):
            if stage == failing:
                raise RuntimeError(f"simulated {stage} write failure")
            return real_write(self, stage, df, *a, **kw)

        out = str(tmp_path / "run")
        monkeypatch.setattr(CheckpointCatalog, "write", failing_write)
        with pytest.raises(RuntimeError, match="simulated"):
            run_pipeline(spark, images, cfg, out)
        monkeypatch.setattr(CheckpointCatalog, "write", real_write)
        cat = CheckpointCatalog(spark, out, cfg)
        assert not cat.is_complete(failing)
        res = run_pipeline(spark, images, cfg, out)
        ref = run_pipeline(spark, images, cfg, str(tmp_path / "ref"))
        for st in ("cc", "clusters"):
            assert cat.stage_info(st)["cc_parts"] == 4
            assert res[st].exceptAll(ref[st]).count() == 0
            assert ref[st].exceptAll(res[st]).count() == 0

    def test_extension_thread_failure_resumes(
            self, spark, cfg, tmp_path, monkeypatch):
        """A failure inside run_pipeline's extension thread (the phash
        SimHash pass, run concurrently with the signature chain)
        propagates out of run_pipeline; a resume yields the cc and
        clusters rows of an uninterrupted build."""
        from apollo_spark import synth
        from apollo_spark.checkpoint import CheckpointCatalog
        from apollo_spark.pipeline import run_pipeline
        monkeypatch.setattr(cc_st, "CC_ROWS_PER_PARTITION", 30)  # 4 parts
        images = spark.createDataFrame(
            synth.gen_corpus(120, seed=31).drop(columns=["gt_cluster"]))
        real_simhash_pairs = candidates.simhash_pairs

        def failing_simhash_pairs(*a, **kw):
            raise RuntimeError("simulated extension failure")

        out = str(tmp_path / "run")
        monkeypatch.setattr(candidates, "simhash_pairs",
                            failing_simhash_pairs)
        with pytest.raises(RuntimeError, match="simulated extension"):
            run_pipeline(spark, images, cfg, out, extensions=True)
        monkeypatch.setattr(candidates, "simhash_pairs", real_simhash_pairs)
        cat = CheckpointCatalog(spark, out, cfg)
        assert not cat.is_complete("simhash_pairs")
        assert not cat.is_complete("signatures")
        assert not cat.is_complete("cc")
        res = run_pipeline(spark, images, cfg, out, extensions=True)
        ref = run_pipeline(spark, images, cfg, str(tmp_path / "ref"),
                           extensions=True)
        for st in ("cc", "clusters"):
            assert cat.stage_info(st)["cc_parts"] == 4
            assert res[st].exceptAll(ref[st]).count() == 0
            assert ref[st].exceptAll(res[st]).count() == 0

    def test_delta_fingerprint_multiplicity(self, spark):
        """ADVICE r3: a row-level bit_xor cancels even-multiplicity rows —
        {x,x,y} and {w,w,y} must NOT alias; order must not matter; changed
        payload must flip content_fp but keep delta_id."""
        from apollo_spark import synth
        from apollo_spark.incremental import delta_fingerprint

        def mk(rows):
            return spark.createDataFrame(rows, synth.IMAGES_SCHEMA)

        x = ("x", b"px", 4, 4, "raw", "cap x", 1)
        y = ("y", b"py", 4, 4, "raw", "cap y", 2)
        w = ("w", b"pw", 4, 4, "raw", "cap w", 3)
        fp_xxy = delta_fingerprint(mk([x, x, y]))
        fp_wwy = delta_fingerprint(mk([w, w, y]))
        assert fp_xxy != fp_wwy
        assert fp_xxy[0] != fp_wwy[0]  # the batch id itself differs
        # order-insensitive
        assert delta_fingerprint(mk([y, x, x])) == fp_xxy
        # same ids, changed payload: same delta_id, different content_fp
        x2 = ("x", b"px", 4, 4, "raw", "cap x EDITED", 1)
        fp_edit = delta_fingerprint(mk([x2, x2, y]))
        assert fp_edit[0] == fp_xxy[0]
        assert fp_edit[1] != fp_xxy[1]


class TestCatalogBatching:
    """Round-4 VERDICT #3: each catalog op's metrics append was its own
    driver-blocking Spark job (~10 per incremental append). batched_catalog
    defers them into ONE flush and records the op count in the manifest."""

    def test_single_metrics_flush(self, spark, cfg, tmp_path):
        import glob as g
        import os
        from apollo_spark.checkpoint import CheckpointCatalog
        cat = CheckpointCatalog(spark, str(tmp_path / "cat"), cfg)
        df = spark.range(10).selectExpr("id", "id * 2 as v")
        mdir = os.path.join(cat.root, "metrics")
        with cat.batched_catalog():
            cat.write("s1", df)
            cat.append("s1", df)
            cat.write("s2", df)
            # nothing flushed while batching
            assert not g.glob(os.path.join(mdir, "*.parquet"))
        files = g.glob(os.path.join(mdir, "*.parquet"))
        assert len(files) == 1  # ONE flush for three ops
        m = cat.metrics().toPandas()
        assert set(m["stage"]) == {"s1", "s2"}
        info = cat._manifest()["catalog_batch"]
        assert info["ops"] == 3 and info["metrics_writes"] == 1
        # stage data and completeness were written eagerly
        assert cat.is_complete("s1") and cat.load("s1").count() == 20

    def test_nested_batching_flushes_once(self, spark, cfg, tmp_path):
        import glob as g
        import os
        from apollo_spark.checkpoint import CheckpointCatalog
        cat = CheckpointCatalog(spark, str(tmp_path / "cat"), cfg)
        df = spark.range(5).selectExpr("id", "id as v")
        with cat.batched_catalog():
            cat.write("a", df)
            with cat.batched_catalog():  # no-op: outer flush wins
                cat.write("b", df)
            assert not g.glob(os.path.join(cat.root, "metrics",
                                           "*.parquet"))
        assert len(g.glob(os.path.join(cat.root, "metrics",
                                       "*.parquet"))) == 1
        assert cat._manifest()["catalog_batch"]["ops"] == 2

    def test_append_images_batches_catalog_ops(self, spark, cfg, tmp_path):
        """A real incremental append performs its many catalog ops under
        one flush, and the manifest proves it."""
        import glob as g
        import os
        from apollo_spark import synth
        from apollo_spark.checkpoint import CheckpointCatalog
        from apollo_spark.incremental import append_images
        from apollo_spark.pipeline import run_pipeline
        pdf = synth.gen_corpus(120, seed=61)
        half = spark.createDataFrame(
            pdf.iloc[:60].drop(columns=["gt_cluster"]))
        delta = spark.createDataFrame(
            pdf.iloc[60:].drop(columns=["gt_cluster"]))
        out = str(tmp_path / "run")
        run_pipeline(spark, half, cfg, out)
        mdir = os.path.join(out, "metrics")
        before = set(g.glob(os.path.join(mdir, "*.parquet")))
        append_images(spark, half.unionByName(delta), delta, cfg, out)
        after = set(g.glob(os.path.join(mdir, "*.parquet")))
        assert len(after - before) == 1  # one flush for the whole append
        cat = CheckpointCatalog(spark, out, cfg)
        info = cat._manifest()["catalog_batch"]
        assert info["ops"] >= 5 and info["metrics_writes"] == 1

    def test_partitioned_append_onto_empty_flat_fallback(
            self, spark, cfg, tmp_path):
        """ADVICE r4: a stage written by the empty-flat fallback (0-row
        root file) then extended via a partitioned append must not end up
        with a mixed root/hive layout that breaks partition discovery."""
        import glob as g
        import os
        from apollo_spark.checkpoint import CheckpointCatalog
        cat = CheckpointCatalog(spark, str(tmp_path / "cat"), cfg)
        empty = spark.range(0).selectExpr("id", "id % 3 as p")
        cat.write("st", empty, partition_by=["p"])
        assert cat.load("st").count() == 0  # flat fallback readable
        delta = spark.range(6).selectExpr("id", "id % 3 as p")
        cat.append("st", delta, partition_by=["p"])
        got = cat.load("st")
        assert got.count() == 6
        assert {r["p"] for r in got.select("p").distinct().collect()} \
            == {0, 1, 2}
        # no root-level data file survived next to the hive dirs
        assert not g.glob(os.path.join(cat.path("st"), "*.parquet"))
        # and an empty-onto-empty append keeps the table readable
        cat.write("st2", empty, partition_by=["p"])
        cat.append("st2", spark.range(0).selectExpr("id", "id % 3 as p"),
                   partition_by=["p"])
        assert cat.load("st2").count() == 0
        # a partition overwrite onto the empty flat fallback takes the
        # same root-file cleanup
        cat.write("st3", empty, partition_by=["p"])
        cat.overwrite_partitions("st3", delta, ["p"], [0, 1, 2])
        got = cat.load("st3")
        assert sorted(r["id"] for r in got.collect()) == list(range(6))
        assert {r["p"] for r in got.select("p").distinct().collect()} \
            == {0, 1, 2}
        assert not g.glob(os.path.join(cat.path("st3"), "*.parquet"))

    def test_overwrite_partitions_replaces_listed_partitions(
            self, spark, cfg, tmp_path):
        """overwrite_partitions clears the listed partitions, then appends:
        a listed partition with new rows holds only them, a listed one
        without is gone, unlisted ones keep their files byte for byte, and
        rows of an unlisted partition land as new files."""
        import glob as g
        import os
        from pathlib import Path
        from apollo_spark.checkpoint import CheckpointCatalog
        cat = CheckpointCatalog(spark, str(tmp_path / "cat"), cfg)
        base = spark.range(8).selectExpr("id", "CAST(id % 4 AS INT) AS p")
        cat.write("t", base.repartition(4, "p"), partition_by=["p"])

        def files(p):
            return {f: Path(f).read_bytes() for f in g.glob(
                os.path.join(cat.path("t"), f"p={p}", "*.parquet"))}

        kept = {p: files(p) for p in (0, 3)}
        assert all(kept.values())
        delta = spark.createDataFrame([(100, 1), (101, 5)], "id long, p int")
        assert cat.overwrite_partitions("t", delta, ["p"], [1, 2]) is None
        assert {p: files(p) for p in (0, 3)} == kept
        assert not os.path.exists(os.path.join(cat.path("t"), "p=2"))
        assert files(5)
        assert sorted((r["id"], r["p"]) for r in cat.load("t").collect()) \
            == [(0, 0), (3, 3), (4, 0), (7, 3), (100, 1), (101, 5)]
