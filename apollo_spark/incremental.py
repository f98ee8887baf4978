"""Incremental append: extend an existing checkpointed dedup run with a
delta of new images without recomputing the corpus.

The reference's incrementality surface (SURVEY.md §2.9) is append-mode
Cassandra writes (bags.py:23, hasher.py:186-201), hashes-only resetdb
(cassandra_utils.py:66,78-81), deferred WMH-parameter reuse
(hasher.py:159-166) and cached-index subset processing
(__main__.py:95-110). The Spark-native equivalent:

  1. weight the delta's features against the FROZEN vocab checkpoint
     (doc/model/wmh.md:14-17 — signatures are only comparable when the
     model is reused; df drift is accepted exactly as the reference
     accepts it between bags runs);
  2. WMH-hash and band the delta only (params regenerate from the seed —
     nothing to load);
  3. append bags/signatures/bands deltas to the stage tables;
  4. extend the candidate passes O(|delta|)-style (round-2 VERDICT #3 —
     they used to reset + re-extract the full corpus): new phash pairs
     come from a delta-vs-corpus block join over delta-touched buckets
     only (candidates.simhash_pairs_delta), and substring fingerprints are
     extracted for the delta alone and appended to the checkpointed
     fingerprint table;
  5. warm-start CC from the previous labeling (stages/cc.
     incremental_components_parts): a converged labeling is a spanning
     star of each old component, so CC re-runs only over delta-touched
     buckets plus the old components they collide with, through the same
     size-gated dispatcher as a full build. Whichever side of the
     dispatcher ran, one Spark write path follows: the relabeled rows get
     the tables' partition column, one collect yields the touched
     partitions, and the hash-partitioned cc and clusters tables
     dynamic-overwrite only those (clusters rows derived by stages/cc.
     clusters, as a full build does) while the delta's singletons append
     as new files. Only the genuinely cheap derived stages (substring
     census, refinement, eval) rebuild.

Cost per delta: O(|delta|) extraction+hashing + narrow corpus-side scans
(two-column phash projection; compact fingerprint/bands tables for the
census) + a fixpoint over the delta-affected subgraph — no per-row
re-extraction of old images and no corpus-sized CC anywhere, vs
O(|corpus|) for a full rerun.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from apollo_spark.checkpoint import CheckpointCatalog
from apollo_spark.config import PipelineConfig
from apollo_spark.stages import bags as bags_stage
from apollo_spark.stages import candidates, cc as cc_stage, hashst

# stages rebuilt per delta (cheap, derived from checkpointed inputs);
# simhash_pairs / substring_fp are appended, cc / clusters are updated
# INCREMENTALLY (warm-start CC + partition overwrite)
DERIVED_STAGES = ["substring_membership", "clusters_refined",
                  "cluster_eval"]


def delta_fingerprint(new_images: DataFrame) -> tuple[str, str]:
    """(delta_id, content_fp) — order-insensitive identity of
    a delta in two distributed aggs, no collect. ``delta_id`` identifies
    the BATCH: a crash-replayed micro-batch maps to the same manifest
    entry. ``content_fp`` additionally folds caption, phash and the image
    bytes, so a re-drop of the same image ids with CHANGED payload is
    distinguishable from a crash replay (ADVICE r2: ids-only fingerprints
    made updated-content drops vanish as 'skip_replay'). Multiplicity is
    folded per id BEFORE the xor (ADVICE r3: a plain row-level bit_xor
    cancels even-multiplicity rows, so {x,x,y} and {w,w,y} aliased to the
    same fingerprint and the second batch was silently skipped) — the
    per-id pre-agg keys the xor on xxhash64(id, count) instead. Shared by
    the batch append and the streaming ingest. The manifest records the
    formula as ``fp_version`` (checkpoint.DELTA_FP_VERSION); a manifest
    holding an entry of another version is refused."""
    per_row = (new_images
               .select("image_id",
                       F.xxhash64("image_id", "caption", "phash", "bytes")
                       .alias("rh"))
               .groupBy("image_id", "rh")
               .agg(F.count(F.lit(1)).alias("rcnt")))
    per_id = (per_row.groupBy("image_id")
              .agg(F.sum("rcnt").alias("mult"),
                   # hash the (row-hash, count) PAIR before the xor: a
                   # duplicated identical row would otherwise cancel to 0
                   # and a content edit of such a row would be invisible
                   F.expr("bit_xor(xxhash64(rh, rcnt))").alias("ch")))
    fp_row = per_id.agg(
        F.expr("bit_xor(xxhash64(image_id, mult))").alias("s"),
        F.sum("mult").alias("n"),
        F.expr("bit_xor(xxhash64(image_id, ch, mult))").alias("c")).first()
    mask = 0xFFFFFFFFFFFFFFFF
    return (f"{int(fp_row['s'] or 0) & mask:x}-{fp_row['n']}",
            f"{int(fp_row['c'] or 0) & mask:x}")


def append_images(spark: SparkSession, all_images: DataFrame | None,
                  new_images: DataFrame, cfg: PipelineConfig,
                  out_dir: str, extensions: bool = True,
                  refine: bool = False, evaluate: bool = False,
                  append_images_stage: bool = False,
                  backend: str = "parquet") -> dict:
    """Append ``new_images`` to the run checkpointed at ``out_dir``.

    ``all_images`` must be the full corpus INCLUDING the delta (the
    extension candidate passes and singleton accounting scan it once) — or
    None with ``append_images_stage=True``, in which case the delta is
    appended to the checkpointed ``images`` stage inside the delta's
    begin/commit window and the extended stage table becomes the corpus
    (the streaming-ingest path: no caller-held corpus handle needed).
    Returns the same {stage: DataFrame} dict as run_pipeline.

    Refuses, before any write, a base run whose complete cc or clusters
    checkpoint lacks the hash-partitioned layout (cc_layout ==
    stages.cc.CC_LAYOUT with a recorded cc_parts count), or whose two
    entries record different counts: the partitioned writes below would
    mix hive directories into that table, or hash one component into two
    partition numbers, and break its next load. Such a run must be
    rebuilt (reset + run_pipeline).
    """
    if all_images is None and not append_images_stage:
        raise ValueError("all_images=None requires append_images_stage")
    cat = CheckpointCatalog(spark, out_dir, cfg, backend=backend)
    if not cat.is_complete("vocab") or not cat.is_complete("bands"):
        raise ValueError(f"no completed base run at {out_dir}")
    parts = {}
    for st in ("cc", "clusters"):
        if not cat.is_complete(st):
            continue
        info = cat.stage_info(st)
        if info.get("cc_layout") != cc_stage.CC_LAYOUT \
                or "cc_parts" not in info:
            raise ValueError(
                f"{st} checkpoint at {out_dir} lacks the partitioned "
                f"layout {cc_stage.CC_LAYOUT!r} — rebuild the run (reset + "
                f"run_pipeline) before appending")
        parts[st] = info["cc_parts"]
    if len(set(parts.values())) > 1:
        raise ValueError(
            f"cc and clusters checkpoints at {out_dir} record different "
            f"partition counts {parts} — rebuild the run (reset + "
            f"run_pipeline) before appending")
    with cat.batched_catalog():
        return _append_images_batched(
            spark, cat, all_images, new_images, cfg, out_dir,
            extensions=extensions, refine=refine, evaluate=evaluate,
            append_images_stage=append_images_stage, backend=backend)


def _append_images_batched(spark, cat, all_images, new_images, cfg,
                           out_dir, extensions, refine, evaluate,
                           append_images_stage, backend) -> dict:
    """append_images body, run inside cat.batched_catalog() so the ~10
    per-stage metrics appends flush as ONE job (round-4 VERDICT #3: each
    was its own ~0.5-1s driver-blocking job — pure fixed overhead that
    capped streaming micro-batch cadence).

    The returned dict carries ``_append_timings`` (phase -> seconds for
    the append-specific work: fingerprint/delta_stages/extensions/
    inc_cc/cc_write) alongside the trailing run_pipeline's own
    ``_timings`` — same attribution device as bench.py's e2e_stages
    (round-5 VERDICT #3): a swing in incremental_append_sec should name
    its phase, not cost a manual A/B session."""
    import time as _time
    _t0 = _time.time()
    _phases: dict[str, float] = {}

    def _mark(phase: str) -> None:
        nonlocal _t0
        now = _time.time()
        _phases[phase] = round(now - _t0, 3)
        _t0 = now

    vocab = cat.load("vocab")
    ndocs = int(cat.stage_info("vocab")["ndocs"])

    # delta identity recorded pending -> committed in the manifest so a
    # duplicate invocation is refused and a crash between the stage appends
    # is detectable (ADVICE r1: non-atomic appends silently duplicated
    # rows).
    delta_id, content_fp = delta_fingerprint(new_images)
    cat.begin_delta(delta_id, content_fp, kind="append")
    _mark("fingerprint")

    feats = bags_stage.extract_features(new_images, cfg)
    delta_bags = bags_stage.weight_bags(feats, vocab, ndocs, cfg) \
        .localCheckpoint()
    cat.append("bags", delta_bags)
    delta_sigs = hashst.signatures(delta_bags, cfg).localCheckpoint()
    cat.append("signatures", delta_sigs)
    delta_bands = hashst.bands(delta_sigs, cfg)
    cat.append("bands", delta_bands, partition_by=["hashtable"])
    if append_images_stage:
        cat.append("images", new_images)
    if all_images is None:
        all_images = cat.load("images")
    _mark("delta_stages")
    new_pairs = delta_fp = None
    if extensions and cat.is_complete("simhash_pairs") \
            and cat.is_complete("substring_fp"):
        # O(|delta|) extension appends (module docstring step 4). A base
        # run built with extensions=False has the stages incomplete —
        # run_pipeline below then builds them fully over the extended
        # corpus (the correct fallback). An EMPTY delta
        # pass skips its append outright (appending zero rows is a no-op
        # on content but still costs a write + catalog op — part of the
        # fixed per-append overhead being shaved this round); the
        # localCheckpoint above makes the take(1) probe ~free.
        new_pairs = candidates.simhash_pairs_delta(
            new_images, all_images, cfg).localCheckpoint()
        if new_pairs.take(1):
            cat.append("simhash_pairs", new_pairs)
        delta_fp = candidates.substring_fingerprints(new_images, cfg) \
            .localCheckpoint()
        if delta_fp.take(1):
            cat.append("substring_fp", delta_fp)
    _mark("extensions")

    # incremental CC (stages/cc.incremental_components_parts): warm-start
    # from the previous fixpoint over ONLY delta-touched buckets and the
    # old components they collide with — the corpus-sized CC is gone from
    # the append path — then dynamic-overwrite just the touched partitions
    # of the cc and clusters tables. A base run without a cc checkpoint,
    # or built with extensions=False while this append runs them, has cc
    # and clusters reset instead and the trailing run_pipeline rebuilds
    # them over the extended corpus.
    #
    # CRASH-WINDOW ORDERING: the derived-stage invalidation AND the
    # incremental cc/clusters writes happen INSIDE the pending window,
    # with commit_delta LAST. A crash anywhere in between leaves the delta
    # pending, so the replay hits the loud refusal instead of finding
    # STALE-but-complete clusters and silently skipping (the old ordering
    # committed first — a crash before the reset left old clusters marked
    # complete over a corpus that already contained the delta's rows).
    can_inc_cc = cat.is_complete("cc") and (
        not extensions or new_pairs is not None)
    if can_inc_cc:
        old_cc = cat.load("cc").select("image_id", "cc_id")
        memb = cat.load("bands").join(
            delta_bands.select("hashtable", "band").distinct(),
            ["hashtable", "band"], "left_semi")
        if extensions:
            touched_gh = delta_fp.select("gh").distinct()
            m2 = candidates.membership_from_fp(
                cat.load("substring_fp").join(touched_gh, "gh",
                                              "left_semi"), cfg)
            memb = memb.unionByName(m2).unionByName(
                candidates.pairs_as_membership(new_pairs))
        affected, relabeled, singles = \
            cc_stage.incremental_components_parts(
                old_cc, cc_stage.star_edges(memb),
                new_images.select("image_id"), cfg)
        _mark("inc_cc")
        cat.reset([s for s in DERIVED_STAGES])
        # O(affected + |delta|) IO, three writes (cc overwrite, singles
        # append, clusters overwrite), with the phase's JOB COUNT kept low
        # (VERDICT r6 #1: cc_write was 7.5-9.5 s of a ~20 s append, nearly
        # all fixed per-job overhead, not bytes). ``relabeled`` comes back
        # from the CC dispatcher already materialized (a local relation
        # from the union-find, or the fixpoint's counted checkpoint), so
        # the partition column and the clusters derivation below are
        # projections and one small aggregate over it; ``affected`` is
        # checkpointed once because the touched-partition collect and both
        # anti-joins read it. The cc content, the singles append input and
        # the clusters content all read PRE-overwrite tables, so they
        # materialize in ONE tagged-union localCheckpoint, and both
        # present-partition sets come from ONE collect over it. Both sides
        # of the dispatcher take this one write path.
        #
        # parts_n is the modulus the tables were laid out with, never
        # re-derived from the grown corpus: the trailing run_pipeline
        # relayouts both tables once the corpus needs twice this count
        parts_n = cat.stage_info("cc")["cc_parts"]
        affected = affected.localCheckpoint()
        relabeled = cc_stage.with_cc_partition(relabeled, parts_n)
        singles = cc_stage.with_cc_partition(singles, parts_n)
        touched = {r["p"] for r in relabeled.select("p")
                   .unionByName(cc_stage.with_cc_partition(
                       affected, parts_n).select("p"))
                   .distinct().collect()}
        new_cl = cc_stage.with_clusters_partition(
            cc_stage.clusters(relabeled.select("image_id", "cc_id")),
            parts_n)
        # an incomplete clusters stage is left to the trailing run_pipeline,
        # which derives it from the updated cc table
        cl_incremental = touched and cat.is_complete("clusters")
        # one tagged union materializes every pre-overwrite read
        CC_T, SGL_T, CL_T = 0, 1, 2
        pieces = [singles.withColumn("_t", F.lit(SGL_T))]
        if touched:
            pieces.append(
                (cat.load("cc")
                 .filter(F.col("p").isin(sorted(touched)))
                 .join(affected, "cc_id", "left_anti")
                 .unionByName(relabeled))
                .withColumn("_t", F.lit(CC_T)))
        if cl_incremental:
            aff_rep = affected.select(F.col("cc_id").alias("rep"))
            pieces.append(
                (cat.load("clusters")
                 .filter(F.col("p").isin(sorted(touched)))
                 .join(aff_rep, "rep", "left_anti")
                 .unionByName(new_cl))
                .withColumn("_t", F.lit(CL_T)))
        combined = pieces[0]
        for p_ in pieces[1:]:
            combined = combined.unionByName(p_, allowMissingColumns=True)
        combined = combined.localCheckpoint()
        present = {(r["_t"], r["p"]) for r in
                   combined.select("_t", "p").distinct().collect()}
        cc_cols = ["image_id", "cc_id", "p"]
        cl_cols = ["cluster_id", "rep", "image_id", "p"]

        # each written frame is repartitioned BY p into the table's
        # recorded count before its write (same device and rationale as
        # run_pipeline's cc stage): one file per touched hive dir instead
        # of (tasks x dirs) small files — the combined checkpoint carries
        # ~100+ partitions and the fan-out would show up both in the write
        # and in every later scan of the table
        def _write_cc_overwrite():
            # dynamic overwrite replaces only partitions PRESENT in the
            # written df — a touched partition whose every row relabeled
            # away (no survivor, new labels hash elsewhere) would keep its
            # stale files and duplicate those members (ADVICE r3 high).
            # Clear the difference explicitly, inside the pending window.
            cat.clear_partitions(
                "cc", "p", sorted(touched - {p for t, p in present
                                             if t == CC_T}))
            cat.overwrite_partitions(
                "cc", combined.filter(F.col("_t") == CC_T)
                .select(*cc_cols).repartition(parts_n, "p"), ["p"])

        def _write_cc_singles():
            cat.append("cc", combined.filter(F.col("_t") == SGL_T)
                       .select(*cc_cols).repartition(parts_n, "p"),
                       partition_by=["p"])

        def _write_clusters():
            cat.clear_partitions(
                "clusters", "p",
                sorted(touched - {p for t, p in present if t == CL_T}))
            cat.overwrite_partitions(
                "clusters", combined.filter(F.col("_t") == CL_T)
                .select(*cl_cols).repartition(parts_n, "p"), ["p"])

        # The cc writes and the clusters write touch DISJOINT directories
        # and both read the same materialized checkpoint — overlap them
        # (guide §2.6: actions are only sequential because driver code
        # calls them sequentially); the catalog's manifest and metrics
        # mutations are serialized by its internal lock. WITHIN the cc
        # stage the order matters: the dynamic overwrite deletes every
        # file of a partition dir it rewrites, so the singles append
        # (whose rows can hash into a touched partition) must commit
        # strictly AFTER it — overwrite-then-append stays one sequential
        # task.
        def _write_cc():
            if touched:
                _write_cc_overwrite()
            _write_cc_singles()

        tasks = [_write_cc]
        if cl_incremental:
            tasks.append(_write_clusters)
        from concurrent.futures import ThreadPoolExecutor
        with ThreadPoolExecutor(max_workers=len(tasks)) as pool:
            for f in [pool.submit(t) for t in tasks]:
                f.result()   # propagate the first failure
    else:
        cat.reset([s for s in DERIVED_STAGES] + ["cc", "clusters"])
    cat.commit_delta(delta_id)
    _mark("cc_write")
    from apollo_spark.pipeline import run_pipeline
    out = run_pipeline(spark, all_images, cfg, out_dir,
                       extensions=extensions, refine=refine,
                       evaluate=evaluate, backend=backend, cat=cat)
    out["_append_timings"] = _phases
    return out
