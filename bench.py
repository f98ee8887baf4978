"""Benchmark harness: runs the headline queries from __spark_entry__ at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS], plus the flagship end-to-end dedup pipeline
(bags -> WMH -> LSH bands -> candidate passes -> CC -> clusters) on the
deterministic synthetic image corpus, and prints ONE JSON line:

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Each query is forced with a noop-format write so the full plan executes
(no collect to the driver, no partial evaluation via count-only pruning).
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
PIPELINE_ROWS = int(os.environ.get("SPARK_GRAFT_BENCH_ROWS", "20000"))

# Headline queries — one per operator family (SURVEY.md §2 / the dedup
# ladder). Kept to the set whose cost is dominated by real operator work.
HEADLINE = [
    "exact_dedup", "shingle_docfreq", "minhash_signatures", "lsh_buckets",
    "candidate_pairs", "minhash_dedup", "ngram_jaccard", "dedup_cc",
    "simhash_pairs", "token_count", "quality_score", "lang_id",
    "doc_fingerprint", "cosine_neardup", "embedding_topk", "ann_lsh_topk",
    "byte_stats", "wmh_clusters",
]


def _force(df) -> int:
    """Execute the full plan without driver-side materialization."""
    df.write.format("noop").mode("overwrite").save()
    return 0


def _warmup(spark) -> None:
    """Untimed warmup: fork all Python workers (mapInPandas over one
    partition per core, importing numpy inside the worker) and run one
    cheap SQL aggregation to JIT-warm the JVM/codegen path. Without this
    the FIRST pandas-UDF headline query eats the whole 32-worker Python
    fork (measured 12.5s -> 1.1s back-to-back in round 4) and every
    reading inherits it."""

    def _touch(it):
        import numpy as np  # noqa: F401 — force the worker-side import
        for pdf in it:
            yield pdf

    rng = spark.range(CPUS * 4, numPartitions=CPUS)
    _force(rng.mapInPandas(_touch, "id long"))
    _force(spark.range(10_000).selectExpr("sum(id) as s", "count(*) as c"))


def _ceiling_probe() -> dict:
    """Same-day hardware 1->4 scaling ceiling (tools/cpu_calibration.py,
    best-throughput-per-side selector). Untimed w.r.t. the bench metric;
    recorded so an e2e/append swing can be attributed to box weather
    without a hand A/B (round-5 VERDICT #3). Runs in separate processes,
    so call it while Spark is idle."""
    try:
        from tools.cpu_calibration import measure
        r = measure(pairs=((1, 4),), secs=4.0, trials=2)["1->4"]
        return {"eff": r["eff"], "tp_lo": r["tp_lo"], "tp_hi": r["tp_hi"]}
    except Exception as exc:  # probe is evidence, never a bench failure
        return {"error": str(exc)[:200]}


def main() -> int:
    import __spark_entry__ as entry
    from apollo_spark.session import get_spark

    ceiling_before = _ceiling_probe()

    spark = get_spark("apollo-bench", cores=CPUS)
    spark.sparkContext.setLogLevel("ERROR")

    _warmup(spark)

    # Best-of-2 per headline query (protocol since round 5, flagged via
    # "warmup"/"runs" in the JSON so cross-round comparisons are explicit):
    # both readings are kept; `queries` carries the min. The e2e pipeline
    # below stays single-shot and cold — only the short per-operator
    # queries, which round-3/4 adjudication showed are dominated by box
    # noise rather than operator work, get the second shot.
    qmap = entry.queries()
    timings: dict[str, float] = {}
    runs: dict[str, list[float]] = {}
    for name in HEADLINE:
        fn = qmap.get(name)
        if fn is None:
            continue
        samples = []
        for _ in range(2):
            t0 = time.time()
            _force(fn(spark, SF_DIR))
            samples.append(round(time.time() - t0, 3))
        runs[name] = samples
        timings[name] = min(samples)

    # wmh_clusters sub-spans (round-4 VERDICT stretch #8): the most
    # expensive single headline query mixes the WMH kernel with CC +
    # clusters — time the two halves separately (kernel span ends at an
    # eager localCheckpoint of the bands, graph span consumes it) so a
    # round-over-round swing in the combined number can be attributed
    # without a manual A/B. The kernel half runs the same signature path
    # as wmh_clusters (_flagship_bands). Reported OUTSIDE the headline
    # total.
    import __spark_entry__ as _e
    from apollo_spark.stages import cc as _ccs
    _imgs = _e._docs_as_images(_e._docs(spark, SF_DIR))
    t0 = time.time()
    _bands = _e._flagship_bands(_imgs, _e._FLAGSHIP_CFG).localCheckpoint()
    wmh_kernel_sec = round(time.time() - t0, 3)
    t0 = time.time()
    _force(_ccs.clusters(_ccs.connected_components(
        _bands, _e._FLAGSHIP_CFG, all_ids=_imgs)))
    wmh_graph_sec = round(time.time() - t0, 3)

    # Flagship end-to-end pipeline on the synthetic image corpus: the
    # metric the north rule cares about (images/sec through
    # bags->hash->bands->candidates->cc->clusters).
    import shutil
    import tempfile

    from apollo_spark import synth
    from apollo_spark.config import PipelineConfig
    from apollo_spark.pipeline import run_pipeline

    images = spark.read.parquet(
        synth.cached_corpus_path(PIPELINE_ROWS)).drop("gt_cluster")
    images = images.persist()
    n = images.count()
    out_dir = tempfile.mkdtemp(prefix="apollo-bench-")
    try:
        t0 = time.time()
        res = run_pipeline(spark, images, PipelineConfig(), out_dir,
                           extensions=True, evaluate=False)
        _force(res["clusters"])
        pipeline_sec = time.time() - t0
        # per-stage breakdown (round-5 VERDICT #3): run_pipeline times its
        # own stages — surface them so an e2e swing names its stage
        e2e_stages = {k: round(v, 3)
                      for k, v in res.get("_timings", {}).items()}

        # Incremental append of a 5% delta onto the checkpointed run just
        # built: the O(|delta|) contract made measurable (extension passes
        # are delta-vs-corpus since r3 — an append should cost a small
        # fraction of the full rebuild, not rescale with the corpus).
        from pyspark.sql import functions as F

        from apollo_spark.incremental import append_images
        n_delta = max(PIPELINE_ROWS // 20, 100)
        delta = (spark.read.parquet(
            synth.cached_corpus_path(n_delta, seed=777)).drop("gt_cluster")
            # distinct id space vs the base corpus (same generator)
            .withColumn("image_id", F.concat(F.lit("d"), F.col("image_id"))))
        full = images.unionByName(delta)
        t0 = time.time()
        res2 = append_images(spark, full, delta, PipelineConfig(), out_dir)
        _force(res2["clusters"])
        append_sec = time.time() - t0
        # phase breakdown of the append (same attribution device as
        # e2e_stages): append-specific phases, plus the trailing
        # run_pipeline's stage loads collapsed to one number
        append_stages = dict(res2.get("_append_timings", {}))
        append_stages["trailing_pipeline"] = round(
            sum(res2.get("_timings", {}).values()), 3)
    finally:
        shutil.rmtree(out_dir, ignore_errors=True)
    timings["e2e_pipeline"] = round(pipeline_sec, 3)

    ceiling_after = _ceiling_probe()

    total = round(sum(timings.values()), 3)
    sf_match = re.search(r"sf([\d.]+)", SF_DIR)
    sf = float(sf_match.group(1).rstrip(".")) if sf_match else 0.1
    out = {
        "metric": "headline_queries_plus_e2e_dedup_pipeline_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "pipeline_rows": n,
        "pipeline_images_per_sec": round(n / pipeline_sec, 1),
        # O(|delta|) evidence, reported OUTSIDE the headline total so the
        # cross-round totals stay comparable: a 5% append onto the
        # checkpointed run (frozen-vocab weighting + delta-vs-corpus
        # candidate extension + global CC rebuild)
        "incremental_append_rows": n_delta,
        "incremental_append_sec": round(append_sec, 3),
        "cpus": CPUS,
        # Protocol flags (round 5+): untimed Python-worker/JVM warmup ran
        # before timing; each headline query timed twice, min reported,
        # both samples preserved here. e2e_pipeline/append stay 1-shot.
        "warmup": True,
        "runs": runs,
        # attribution aid, not a headline number: wmh_clusters =~
        # kernel (bags->WMH->bands) + graph (CC + clusters) halves
        "wmh_clusters_subspans": {"kernel": wmh_kernel_sec,
                                  "graph": wmh_graph_sec},
        # per-stage breakdown of the single-shot e2e (round-5 VERDICT #3:
        # the e2e swung 82->28 s in one day and attributing it took a
        # session; now any swing names its stage)
        "e2e_stages": e2e_stages,
        "append_stages": append_stages,
        # same-run hardware 1->4 ceiling (before Spark start / after the
        # append) — the box-weather context every single-shot number
        # should be read against
        "ceiling_before": ceiling_before,
        "ceiling_after": ceiling_after,
    }
    prev = _load_prev_bench()
    if prev:
        out["vs_prev"] = {
            q: round(t / prev[q], 3) for q, t in timings.items()
            if prev.get(q)
        }
        out["vs_prev_round"] = prev["_round"]
    print(json.dumps(out))
    return 0


def _load_prev_bench() -> dict | None:
    """Per-query timings from the newest BENCH_r{N}.json next to this file,
    keyed by query name plus '_round'; None if no prior round exists or it
    ran at a different sf/cpus (ratios would be meaningless). Feeds the
    'vs_prev' self-reporting ratios (>1 = slower than last round)."""
    import glob
    here = os.path.dirname(os.path.abspath(__file__))
    rounds = []
    for p in glob.glob(os.path.join(here, "BENCH_r*.json")):
        m = re.search(r"BENCH_r(\d+)\.json$", p)
        if m:
            rounds.append((int(m.group(1)), p))
    for _rnd, path in sorted(rounds, reverse=True):
        try:
            with open(path) as f:
                parsed = json.load(f).get("parsed") or {}
            q = parsed.get("queries")
            if q and parsed.get("sf") == float(
                    re.search(r"sf([\d.]+)", SF_DIR).group(1).rstrip(".")) \
                    and parsed.get("cpus") == CPUS:
                return {**q, "_round": _rnd}
        except (OSError, json.JSONDecodeError, AttributeError):
            continue
    return None


if __name__ == "__main__":
    sys.exit(main())
