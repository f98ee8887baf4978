"""The workloads. Each is closed-loop with one client: an operation
is issued only after the previous one has completed.

A workload prepares its inputs (``inputs``: generated and judged once per
seed, cached, excluded from every metric), sets up a session-bound state
(``setup``: counted in ``setup_s``), runs one operation (``op``: the timed
unit, after an untimed ``prepare``) and checks that operation's output
(``check``: untimed).
"""

from __future__ import annotations

import os
import tempfile
from contextlib import contextmanager

from perfbench import WORK, inputs

# The 18 headline queries of the repository's bench.py, one per operator
# family, copied so that the workload changes only when the benchmark does.
HEADLINE = (
    "exact_dedup", "shingle_docfreq", "minhash_signatures", "lsh_buckets",
    "candidate_pairs", "minhash_dedup", "ngram_jaccard", "dedup_cc",
    "simhash_pairs", "token_count", "quality_score", "lang_id",
    "doc_fingerprint", "cosine_neardup", "embedding_topk", "ann_lsh_topk",
    "byte_stats", "wmh_clusters",
)


class Outcome:
    """What one operation did: its wall time, how many sub-operations it
    attempted and how many failed (raised or produced a wrong output),
    and the share of oracle duplicate pairs its output kept together."""

    def __init__(self, seconds: float, attempted: int = 1) -> None:
        self.seconds = seconds
        self.attempted = attempted
        self.failed = 0
        self.recall = 0.0
        self.errors: list[str] = []
        self.extra: dict[str, float] = {}

    def fail(self, msg: str) -> None:
        self.failed += 1
        self.errors.append(msg[:300])


def pair_recall(pairs, labels: dict) -> float:
    """Share of ``pairs`` whose two members carry the same label; a member
    absent from ``labels`` is a singleton."""
    if not pairs:
        return 1.0
    hit = sum(1 for a, b in pairs
              if a in labels and labels.get(a) == labels.get(b))
    return hit / len(pairs)


def _checkpoint_dir() -> str:
    """A new empty directory for one operation's checkpoints; the run
    removes ``WORK/checkpoints`` after each operation."""
    root = os.path.join(WORK, "checkpoints")
    os.makedirs(root, exist_ok=True)
    return tempfile.mkdtemp(dir=root)


def _cluster_labels(clusters_df) -> dict:
    pdf = clusters_df.select("image_id", "rep").toPandas()
    return dict(zip(pdf["image_id"], pdf["rep"]))


@contextmanager
def _cc_driver_cap(cap: int):
    """Set the CC dispatcher's edge cap (``stages.cc.CC_DRIVER_EDGES_MAX``,
    the value its ``SPARK_GRAFT_CC_DRIVER_MAX`` override sets) for the
    duration of the block."""
    from apollo_spark.stages import cc
    if not hasattr(cc, "CC_DRIVER_EDGES_MAX"):
        raise RuntimeError("stages.cc.CC_DRIVER_EDGES_MAX is gone; the "
                           "build_append workload needs a way to route the "
                           "build's CC through the distributed fixpoint")
    old = cc.CC_DRIVER_EDGES_MAX
    cc.CC_DRIVER_EDGES_MAX = cap
    try:
        yield
    finally:
        cc.CC_DRIVER_EDGES_MAX = old


class BuildAppend:
    """A fresh build, then a 5% append onto it: ``run_pipeline(extensions=
    True)`` over a synthetic corpus into an empty checkpoint directory,
    followed by ``append_images`` of a delta with its own seed and id
    space. The build is the bulk-write path through every stage (bags, WMH
    signatures, LSH bands, candidate passes, CC, clusters); the append is
    small appends and partition overwrites beside corpus reads.

    The two runs take opposite sides of the CC dispatcher's 100k-edge size
    gate. Only a corpus of about 70k rows crosses the gate by itself, far
    beyond the run-time budget, so the build runs with the cap at 0 (the
    distributed label fixpoint, as a large corpus would) and the append
    with the program's default (driver union-find, as a 5% delta does)."""

    name = "build_append"
    rows = 1500
    delta_rows = 75

    @property
    def rows_per_op(self) -> int:
        return self.rows + self.delta_rows

    def inputs(self, seed: int) -> dict:
        return inputs.image_inputs(self.rows, seed, self.delta_rows)

    def setup(self, spark, inp: dict) -> None:
        from pyspark.storagelevel import StorageLevel
        self.images = spark.read.parquet(inp["base"]).persist(
            StorageLevel.MEMORY_AND_DISK)
        self.delta = spark.read.parquet(inp["delta"]).persist(
            StorageLevel.MEMORY_AND_DISK)
        self.images.count()
        self.delta.count()
        self.full = self.images.unionByName(self.delta)

    def prepare(self) -> str:
        return _checkpoint_dir()

    def op(self, spark, inp: dict, out: str, tracer):
        from apollo_spark import incremental, pipeline
        from apollo_spark.config import PipelineConfig
        with tracer.span("op.build"), _cc_driver_cap(0):
            pipeline.run_pipeline(spark, self.images, PipelineConfig(), out,
                                  extensions=True)
        with tracer.span("op.append"):
            return incremental.append_images(spark, self.full, self.delta,
                                             PipelineConfig(), out)

    def check(self, spark, inp: dict, res: dict, outcome: Outcome) -> None:
        for phase, sec in res.get("_append_timings", {}).items():
            outcome.extra[f"incremental.{phase}_s"] = sec
        outcome.recall = pair_recall(inp["pairs"],
                                     _cluster_labels(res["clusters"]))
        if outcome.recall < 0.99:
            outcome.fail(f"dup_pair_recall {outcome.recall:.4f} < 0.99")


class OperatorLadder:
    """The 18 headline queries of ``__spark_entry__.queries()`` over seeded
    documents/embeddings tables: read-only, many small jobs, the only
    workload that runs ``ops.dedup``/``similarity``/``text``/``multimodal``.
    Each query is forced by collecting its result, which the output check
    against the query's DuckDB twin needs anyway."""

    name = "operator_ladder"
    docs = 200
    vecs = 200
    # Fixed input, as the repository's own bench reads fixed test data:
    # judging it takes ``oracle_sql()`` plus 18 DuckDB queries, about ten
    # seconds a run if it changed with every seed.
    seed = 42

    @property
    def rows_per_op(self) -> int:
        return self.docs * len(HEADLINE)

    def inputs(self, seed: int) -> dict:
        return inputs.ladder_inputs(self.docs, self.vecs, self.seed,
                                    list(HEADLINE))

    def setup(self, spark, inp: dict) -> None:
        import pandas as pd
        import __spark_entry__ as entry
        self.queries = entry.queries()
        from tools.check_entry import compare
        self.compare = compare
        self.expected = {q: pd.read_parquet(p)
                         for q, p in inp["expected"].items()}

    def prepare(self) -> None:
        return None

    def op(self, spark, inp: dict, ctx, tracer) -> dict:
        got = {}
        for q in HEADLINE:
            try:
                with tracer.span(f"query.{q}"):
                    got[q] = self.queries[q](spark, inp["dir"]).toPandas()
            except Exception as exc:  # a failed query fails this operation
                got[q] = exc
        return got

    def check(self, spark, inp: dict, got: dict, outcome: Outcome) -> None:
        outcome.attempted = len(HEADLINE)
        for q in HEADLINE:
            if isinstance(got[q], Exception):
                outcome.fail(f"{q}: {type(got[q]).__name__}: {got[q]}")
                continue
            errs = self.compare(q, got[q], self.expected[q])
            if errs:
                outcome.fail(f"{q}: {'; '.join(errs)}")
        ok = all(not isinstance(got[q], Exception)
                 for q in ("dedup_cc", "minhash_dedup", "candidate_pairs"))
        if ok:
            exp = self.expected["dedup_cc"]
            members: dict = {}
            for d, c in zip(exp["doc_id"], exp["cc_id"]):
                members.setdefault(c, []).append(d)
            pairs = [(a, b) for ms in members.values()
                     for i, a in enumerate(ms) for b in ms[i + 1:]]
            spark_cc = got["dedup_cc"]
            outcome.recall = pair_recall(
                pairs, dict(zip(spark_cc["doc_id"], spark_cc["cc_id"])))
            cand = len(got["candidate_pairs"])
            outcome.extra["dedup.verify_yield"] = (
                len(got["minhash_dedup"]) / cand if cand else 0.0)


WORKLOADS = {w.name: w for w in (BuildAppend, OperatorLadder)}
