"""query stage: interactive similarity lookup (reference: apollo/query.py).

The reference probes Cassandra point-lookups per band (query.py:18-43) and
re-ranks candidates with dense weighted Jaccard in the driver
(query.py:45-66, weighted_jaccard query.py:80-81). Spark-first equivalent:

  * probe = broadcast semi-join of the query doc's b bands against the
    ``bands`` table (J3) — on a partitioned/bucketed table this prunes to
    the b matching partitions;
  * self-exclusion is a filter (P7, query.py:67-72);
  * precise re-rank = sparse weighted Jaccard **entirely in SQL** over the
    bags table:  J(x, y) = sum(least(wx, wy)) / (Wx + Wy - sum(least)),
    exact for nonnegative sparse vectors — no UDF, whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def probe_candidates(bands: DataFrame, query_id: str) -> DataFrame:
    """Docs sharing >= 1 band with the query doc (J3 + P7)."""
    qbands = bands.filter(F.col("image_id") == query_id) \
        .select("hashtable", "band")
    return (bands.join(F.broadcast(qbands), ["hashtable", "band"], "left_semi")
            .select("image_id").distinct()
            .filter(F.col("image_id") != query_id))


def weighted_jaccard_rerank(bags: DataFrame, candidates: DataFrame,
                            query_id: str,
                            threshold: float | None = None) -> DataFrame:
    """-> (image_id, sim) sorted desc; V1/V2 of SURVEY.md §2.8."""
    qbag = bags.filter(F.col("image_id") == query_id) \
        .select("feat_hash", F.col("weight").alias("wq"))
    qsum = qbag.agg(F.sum("wq").alias("Wq"))
    cbags = bags.join(candidates.hint("broadcast"), "image_id")
    inter = (cbags.join(F.broadcast(qbag), "feat_hash")
             .groupBy("image_id")
             .agg(F.sum(F.least("weight", "wq")).alias("inter_min")))
    csums = cbags.groupBy("image_id").agg(F.sum("weight").alias("Wc"))
    sim = (csums.join(inter, "image_id", "left")
           .crossJoin(F.broadcast(qsum))
           .select("image_id",
                   (F.coalesce("inter_min", F.lit(0.0))
                    / (F.col("Wc") + F.col("Wq")
                       - F.coalesce("inter_min", F.lit(0.0)))).alias("sim")))
    if threshold is not None:
        sim = sim.filter(F.col("sim") >= threshold)
    return sim.orderBy(F.desc("sim"))


def query(bands: DataFrame, bags: DataFrame, query_id: str,
          threshold: float | None = None) -> DataFrame:
    """Full probe + precise re-rank (the reference's --precise mode)."""
    return weighted_jaccard_rerank(
        bags, probe_candidates(bands, query_id), query_id, threshold)


def query_image(image: DataFrame, df_table: DataFrame, ndocs: int,
                bands: DataFrame, bags: DataFrame, cfg,
                threshold: float | None = None) -> DataFrame:
    """Query by a NEW image not in the corpus — the reference's file mode
    (query.py:22-36 + hasher.py:208-234: parse one file, bag it over the
    saved docfreq model, CPU-hash, slice bands, probe).

    ``image`` is a 1-row DataFrame in the images schema. Its features are
    weighted against the saved vocabulary (weight_bags), hashed by the
    same WMH kernel, banded, and probed against the corpus ``bands`` with a
    broadcast semi-join; candidates re-rank by sparse weighted Jaccard
    against the corpus ``bags``. Everything stays distributed except the
    1-row query side, which is broadcast."""
    from apollo_spark.stages import bags as bags_stage
    from apollo_spark.stages import hashst

    qfeats = bags_stage.extract_features(image, cfg, widen=False)
    qbags = bags_stage.weight_bags(qfeats, df_table, ndocs, cfg) \
        .localCheckpoint()
    _, qbands = hashst.run(qbags, cfg)
    qid = image.first()["image_id"]
    cands = (bands.join(F.broadcast(qbands.select("hashtable", "band")),
                        ["hashtable", "band"], "left_semi")
             .select("image_id").distinct()
             .filter(F.col("image_id") != qid))
    qbag = qbags.select("feat_hash", F.col("weight").alias("wq"))
    qsum = qbag.agg(F.sum("wq").alias("Wq"))
    cbags = bags.join(cands.hint("broadcast"), "image_id")
    inter = (cbags.join(F.broadcast(qbag), "feat_hash")
             .groupBy("image_id")
             .agg(F.sum(F.least("weight", "wq")).alias("inter_min")))
    csums = cbags.groupBy("image_id").agg(F.sum("weight").alias("Wc"))
    sim = (csums.join(inter, "image_id", "left")
           .crossJoin(F.broadcast(qsum))
           .select("image_id",
                   (F.coalesce("inter_min", F.lit(0.0))
                    / (F.col("Wc") + F.col("Wq")
                       - F.coalesce("inter_min", F.lit(0.0)))).alias("sim")))
    if threshold is not None:
        sim = sim.filter(F.col("sim") >= threshold)
    return sim.orderBy(F.desc("sim"))
