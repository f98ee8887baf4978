"""Structured-Streaming ingest: parquet drops -> incremental dedup appends.

The reference has no streaming surface — its incrementality is append-mode
Cassandra batches (SURVEY.md §2.9, bags.py:23, hasher.py:186-201). This is
the Spark-idiomatic extension for a continuously-fed corpus:
``spark.readStream`` over a directory of image parquet drops,
``foreachBatch`` routing every micro-batch through the SAME idempotent
incremental path as batch appends (incremental.append_images), so streamed
and batch-appended corpora end in bit-identical stage tables.

Exactly-once across restarts is the composition of two mechanisms:

  * Spark's streaming checkpoint (offset log): a source file is assigned
    to exactly one micro-batch, and a crashed batch is REPLAYED with the
    same file set;
  * the manifest's delta fingerprints (checkpoint.begin/commit_delta,
    keyed by the batch's order-insensitive image-id hash): a replayed
    batch whose delta already committed is SKIPPED (idempotent), and a
    batch that crashed mid-append OR mid-bootstrap is surfaced loudly
    (parquet appends cannot roll back) instead of silently
    double-appending. A side effect worth having in a dedup engine:
    re-dropping a file with the same image ids and payload is skipped
    (with a warning) as a duplicate delta, and a re-drop with the same
    ids but CHANGED payload is refused loudly (the content fingerprint
    distinguishes it from a crash replay).

Scale shape: each micro-batch costs O(|batch|) extraction + WMH hashing
plus one CC over dup edges (the incremental contract, not O(corpus));
no state lives in the driver or the stream — all state is the
checkpointed stage tables, so the query can be stopped and restarted
freely and a crashed executor replays cleanly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from apollo_spark.checkpoint import CheckpointCatalog
from apollo_spark.config import PipelineConfig
from apollo_spark.incremental import append_images, delta_fingerprint
# streaming file sources cannot infer schemas — declare the input_hint shape
from apollo_spark.synth import IMAGES_SCHEMA


def apply_batch(spark: SparkSession, batch_df: DataFrame,
                cfg: PipelineConfig, out_dir: str,
                extensions: bool = True,
                backend: str = "parquet") -> str:
    """Process one micro-batch (also the foreachBatch body — exposed for
    direct testing). Returns what happened: 'bootstrap' (first batch built
    the base run), 'append', 'skip_empty', or 'skip_replay' (delta already
    committed — a crash-replayed batch).

    Crash-safety ordering (ADVICE r2): BOTH paths record the delta as
    pending BEFORE any stage write — the bootstrap's begin_delta lands
    first, so a batch replayed after a mid-bootstrap crash hits the loud
    'pending' refusal instead of silently dispatching to the append path
    and double-appending (the old ordering marked vocab/bands complete
    before the delta existed, opening exactly that window). The append
    path delegates to append_images, whose begin/commit window brackets
    every stage append including the images stage."""
    batch = batch_df.localCheckpoint()
    if not batch.take(1):
        return "skip_empty"
    cat = CheckpointCatalog(spark, out_dir, cfg, backend=backend)
    from apollo_spark.pipeline import run_pipeline
    delta_id, content_fp = delta_fingerprint(batch)
    if cat.delta_state(delta_id) == "committed":
        stored = cat.delta_content(delta_id)
        if stored is not None and stored != content_fp:
            raise ValueError(
                f"delta {delta_id} was already ingested with DIFFERENT "
                f"content — a changed-payload re-drop is not a crash "
                f"replay; ingest it under new image ids (or resetdb)")
        import warnings
        warnings.warn(
            f"skipping committed delta {delta_id} (crash-replayed batch)",
            RuntimeWarning, stacklevel=2)
        # rows are already in, but a crash after the commit and before the
        # derived-stage rebuild finished leaves clusters reset — finish the
        # rebuild here (complete stages just load, so this is idempotent)
        if not cat.is_complete("clusters"):
            run_pipeline(spark, cat.load("images"), cfg, out_dir,
                         extensions=extensions, backend=backend)
        return "skip_replay"

    # a pending delta recorded by a crashed BOOTSTRAP dispatches back to
    # the bootstrap branch even when the crash landed after run_pipeline
    # completed vocab/bands (the full base may be marked complete with the
    # delta still pending — a replay must re-run the overwrite-idempotent
    # bootstrap, not fall through to the append path's loud refusal)
    crashed_bootstrap = (cat.delta_state(delta_id) == "pending"
                         and cat.delta_kind(delta_id) == "bootstrap")
    if crashed_bootstrap or not cat.is_complete("vocab") \
            or not cat.is_complete("bands"):
        # first batch bootstraps the base run: the delta goes pending FIRST,
        # then the overwrite-idempotent stage writes, then images + commit.
        # Because every write on THIS path is an overwrite (run_pipeline
        # stage writes + cat.write("images")), a replay after a transient
        # mid-bootstrap crash is safe by construction — retry_pending
        # re-arms the pending delta instead of bricking the stream (ADVICE
        # r3); the loud pending refusal stays on the APPEND path, where
        # parquet appends cannot roll back.
        if crashed_bootstrap and cat.delta_content(delta_id) not in (
                None, content_fp):
            # same ids, CHANGED payload: stages completed by the crashed
            # attempt were built from the old bytes — drop them so the
            # retry rebuilds instead of loading stale checkpoints
            cat.reset()
        cat.begin_delta(delta_id, content_fp, retry_pending=True,
                        kind="bootstrap")
        # one metrics flush for the whole bootstrap (same batching as the
        # append path — micro-batch cadence is bounded by fixed per-op cost)
        with cat.batched_catalog():
            run_pipeline(spark, batch, cfg, out_dir, extensions=extensions,
                         backend=backend, cat=cat)
            cat.write("images", batch)
        cat.commit_delta(delta_id)
        return "bootstrap"

    append_images(spark, None, batch, cfg, out_dir,
                  extensions=extensions, append_images_stage=True,
                  backend=backend)
    return "append"


def ingest_stream(spark: SparkSession, source_dir: str, out_dir: str,
                  cfg: PipelineConfig, extensions: bool = True,
                  available_now: bool = True,
                  checkpoint_dir: str | None = None,
                  max_files_per_trigger: int | None = None,
                  backend: str = "parquet"):
    """Start the ingest query; returns the StreamingQuery.

    ``available_now=True`` drains everything currently in ``source_dir``
    and stops (the batch-parity mode the tests use); False leaves a
    continuous micro-batch query running. ``max_files_per_trigger``
    bounds per-batch work (and with available_now still drains fully,
    across several batches)."""
    reader = spark.readStream.schema(IMAGES_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger",
                               str(max_files_per_trigger))
    stream = reader.parquet(source_dir)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        apply_batch(batch_df.sparkSession, batch_df, cfg, out_dir,
                    extensions=extensions, backend=backend)

    writer = (stream.writeStream
              .foreachBatch(process)
              .option("checkpointLocation",
                      checkpoint_dir or f"{out_dir}/_stream_ckpt"))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
