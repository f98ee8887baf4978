"""End-to-end pipeline orchestration: bags -> hash -> bands (+ candidate
passes) -> cc -> clusters, each stage checkpointed and resumable.

The reference runs this as four separate CLI commands gluing Cassandra
tables and model files (apollo bags/hash/cc/cmd, __main__.py:210-227); here
it is one driver program over a CheckpointCatalog. Launch on a cluster:

    spark-submit --py-files apollo_spark.zip -m apollo_spark.pipeline \
        --images <table> --out <dir>

or locally: ``python -m apollo_spark.pipeline --rows 5000 --out /tmp/ap``.
"""

from __future__ import annotations

import argparse
import json
import sys
import time
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, SparkSession
from pyspark.storagelevel import StorageLevel

from apollo_spark.checkpoint import CheckpointCatalog
from apollo_spark.config import DEFAULT, PipelineConfig
from apollo_spark.stages import bags as bags_stage
from apollo_spark.stages import candidates, cc as cc_stage, evalcc, hashst


def run_pipeline(spark: SparkSession, images: DataFrame,
                 cfg: PipelineConfig, out_dir: str,
                 extensions: bool = True,
                 evaluate: bool = False,
                 refine: bool = False,
                 backend: str = "parquet",
                 cat: CheckpointCatalog | None = None) -> dict:
    """Returns {stage_name: DataFrame} of all checkpointed outputs.
    ``backend="iceberg"`` checkpoints to DataSourceV2 tables in the
    configured Spark catalog instead of parquet directories (see
    checkpoint.py for the spark-submit --packages recipe). Pass ``cat``
    to reuse a caller's catalog instance — the incremental-append path
    does, so its metrics batching (CheckpointCatalog.batched_catalog)
    spans the derived-stage rebuilds performed here."""
    cat = cat or CheckpointCatalog(spark, out_dir, cfg, backend=backend)
    # One metrics flush for the whole run (round-5): a fresh build performs
    # ~8 stage writes, and each write-through metrics append is its own
    # ~0.5-1s driver-blocking job — a serial cost that the 1->4 scaling
    # measurement pays identically at both levels. Stage data + manifest
    # completeness stay eager; only telemetry rows are deferred. Nested
    # entry is a no-op, so the append/streaming paths' outer batches win.
    with cat.batched_catalog():
        return _run_stages(spark, images, cfg, cat, extensions=extensions,
                           evaluate=evaluate, refine=refine)


def _run_stages(spark: SparkSession, images: DataFrame,
                cfg: PipelineConfig, cat: CheckpointCatalog,
                extensions: bool, evaluate: bool, refine: bool) -> dict:
    out: dict[str, DataFrame] = {}
    timings: dict[str, float] = {}
    ext_future = None

    def stage(name: str, build, partition_by: list[str] | None = None,
              info: dict | None = None):
        # a failed extension chain stops the main chain at its next stage
        if ext_future is not None and ext_future.done():
            ext_future.result()
        t0 = time.time()
        if cat.is_complete(name):
            out[name] = cat.load(name)
        else:
            out[name] = cat.write(name, build(), partition_by=partition_by,
                                  info=info)
        timings[name] = time.time() - t0
        return out[name]

    images = bags_stage.filter_formats(images, cfg.formats)  # P5
    ndocs = images.count()

    # cc/clusters hive layout: cc_parts partitions, sized from the corpus
    # when cc is built (stages.cc.cc_partitions) and recorded in both
    # manifest entries. Appends keep the recorded count while the corpus
    # grows; once it needs twice that, cc and clusters are dropped here
    # and rebuilt below at the new count — one relayout per doubling, so
    # the cost per appended row stays constant. A cc entry without a
    # count (or no cc at all) rebuilds the same way, and so does one
    # built without the extension edges this run asks for.
    cc_parts = cc_stage.cc_partitions(ndocs)
    if cat.is_complete("cc"):
        info = cat.stage_info("cc")
        recorded = info.get("cc_parts", 0)
        if cc_parts >= 2 * recorded or (
                extensions and not info.get("extensions")):
            cat.reset(["cc", "clusters"])
        else:
            cc_parts = recorded
    elif cat.is_complete("clusters"):
        cat.reset(["clusters"])   # derived from cc: rebuilt with it

    # One pool for the whole run. The extension passes (simhash_pairs over
    # phash, substring fingerprints over captions) depend only on
    # ``images`` — not on the vocab/bags/signature chain — so they run
    # CONCURRENTLY with it on one pool thread (guide §2.6 'overlap
    # independent jobs': Spark schedules both jobs' tasks FIFO, the
    # extension tasks back-fill slots the signature chain leaves idle
    # during its driver round-trips and single-task phases; measured ~3 s
    # off the fresh 20k-row e2e). Later the cc and clusters writes take
    # both threads. The catalog's manifest/
    # metrics mutations are lock-serialized; ``out``/``timings`` entries
    # are per-stage keys. A raise in the main chain propagates as itself;
    # leaving the block still waits for the extension thread, so its
    # stages never race a caller's cleanup.
    with ThreadPoolExecutor(max_workers=2) as pool:
        if extensions:
            def _ext_chain():
                # APPENDABLE stages: incremental deltas extend them with
                # delta-vs-corpus passes (incremental.py) instead of
                # resetting
                stage("simhash_pairs",
                      lambda: candidates.simhash_pairs(images, cfg))
                stage("substring_fp",
                      lambda: candidates.substring_fingerprints(images, cfg))

            ext_future = pool.submit(_ext_chain)

        # extraction feeds both the vocab agg and the weight join — persist
        # so the UDF runs once (unpersisted after the signatures land)
        feats = bags_stage.extract_features(images, cfg) \
            .persist(StorageLevel.MEMORY_AND_DISK)
        # the frozen vocabulary (docfreq model analogue) — incremental
        # appends and interactive queries weight new docs against THIS
        # table
        stage("vocab", lambda: bags_stage.vocab_table(feats, cfg),
              info={"ndocs": ndocs})
        # mapside signatures are only sound when bags are being BUILT this
        # run: the persisted extraction output keeps each doc's rows
        # contiguous, a property a parquet read-back of the bags
        # checkpoint cannot guarantee (row-group splits). Decided before
        # the bags stage runs.
        bags_fresh = not cat.is_complete("bags")
        stage("bags", lambda: bags_stage.weight_bags(
            feats, out["vocab"], ndocs, cfg))
        stage("signatures", lambda: hashst.signatures_auto(
            feats if bags_fresh else None, out["vocab"], ndocs,
            out["bags"], cfg))
        feats.unpersist()
        # partitioned by hashtable (O7 physical design): interactive band
        # probes prune to the b matching partitions instead of a full scan
        stage("bands", lambda: hashst.bands(out["signatures"], cfg),
              partition_by=["hashtable"])

        # CC membership is derived here, never checkpointed: it feeds the
        # cc build and refinement
        cc_in = out["bands"]
        if extensions:
            ext_future.result()
            cc_in = candidates.cc_membership(
                cc_in, cfg, out["simhash_pairs"], out["substring_fp"])

        # cc and clusters are hash-partitioned on the component id
        # (CC_LAYOUT) so incremental appends replace (clear, then append)
        # only delta-touched partitions instead of rewriting the
        # corpus-sized tables. The .repartition(cc_parts, "p") before each
        # write routes every partition VALUE wholly into one task — one
        # file per hive dir, and the write's injected sort-by-partition-col
        # becomes a near-noop per task. The explicit count pins the
        # exchange: a bare repartition("p") joins AQE partition coalescing,
        # which would collapse a small table to 1-2 tasks and serialize a
        # many-dir write. A cc build materializes the labeling once and
        # both tables are written from it CONCURRENTLY (disjoint
        # directories, one checkpointed parent); over a complete cc,
        # clusters derives from the table, at its recorded count.
        layout = {"cc_layout": cc_stage.CC_LAYOUT, "cc_parts": cc_parts,
                  "extensions": extensions}
        t0 = time.time()
        labels = None
        if not cat.is_complete("cc"):
            labels = (cc_stage.with_cc_partition(
                cc_stage.connected_components(cc_in, cfg, all_ids=images),
                cc_parts)
                .repartition(cc_parts, "p")
                .localCheckpoint())
        build_sec = time.time() - t0

        def _clusters():
            cc_rows = cat.load("cc") if labels is None else labels
            return (cc_stage.with_clusters_partition(
                cc_stage.clusters(cc_rows.select("image_id", "cc_id")),
                cc_parts)
                .repartition(cc_parts, "p"))

        fcc = pool.submit(stage, "cc", lambda: labels, ["p"], layout)
        fcl = pool.submit(stage, "clusters", _clusters, ["p"], layout)
        fcc.result()
        fcl.result()
    timings["cc"] += build_sec   # attribute the shared labeling build

    if refine:
        from apollo_spark.stages import refine as refine_stage
        stage("clusters_refined", lambda: refine_stage.refine_components(
            out["cc"], cc_in, cfg))

    if evaluate:
        stage("cluster_eval", lambda: evalcc.evaluate(
            out["clusters"], out["bags"], cfg.threshold))

    out["_timings"] = timings
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--images", help="parquet path of the images table")
    ap.add_argument("--rows", type=int, default=5000,
                    help="synthesize this many rows if --images not given")
    ap.add_argument("--out", required=True)
    ap.add_argument("--cores", type=int, default=None)
    ap.add_argument("--threshold", type=float, default=DEFAULT.threshold)
    ap.add_argument("--size", type=int, default=DEFAULT.size)
    ap.add_argument("--seed", type=int, default=DEFAULT.seed)
    ap.add_argument("--no-extensions", action="store_true")
    ap.add_argument("--backend", default="parquet",
                    choices=["parquet", "iceberg"],
                    help="checkpoint storage: parquet dirs (default) or "
                         "Iceberg tables (needs --packages iceberg-spark-"
                         "runtime + spark.sql.catalog.* conf)")
    ap.add_argument("--evaluate", action="store_true")
    ap.add_argument("--refine", action="store_true",
                    help="per-component community refinement of "
                         "fat CCs (the reference's cmd stage)")
    ap.add_argument("--algorithm", default=DEFAULT.community_algorithm,
                    help="community algorithm for --refine (reference "
                         "__main__.py:176-179): label_propagation | "
                         "multilevel | fastgreedy | walktrap | "
                         "leading_eigenvector | infomap | "
                         "edge_betweenness")
    args = ap.parse_args(argv)

    from apollo_spark.session import get_spark
    spark = get_spark("apollo-pipeline", cores=args.cores)
    spark.sparkContext.setLogLevel("ERROR")
    cfg = PipelineConfig(seed=args.seed, size=args.size,
                         threshold=args.threshold,
                         community_algorithm=args.algorithm)
    if args.images:
        images = spark.read.parquet(args.images)
        if "gt_cluster" in images.columns:
            images = images.drop("gt_cluster")
    else:
        from apollo_spark import synth
        images = spark.read.parquet(
            synth.cached_corpus_path(args.rows, args.seed)) \
            .drop("gt_cluster")

    t0 = time.time()
    out = run_pipeline(spark, images, cfg, args.out,
                       extensions=not args.no_extensions,
                       evaluate=args.evaluate, refine=args.refine,
                       backend=args.backend)
    wall = time.time() - t0
    n = images.count()
    summary = {
        "rows": n, "wall_sec": round(wall, 2),
        "images_per_sec": round(n / wall, 1),
        "clusters": out["clusters"].select("cluster_id").distinct().count(),
        "clustered_docs": out["clusters"].count(),
        "timings": {k: round(v, 2) for k, v in out["_timings"].items()},
    }
    print(json.dumps(summary))
    return 0


if __name__ == "__main__":
    sys.exit(main())
