"""Physical-plan audit: dump .explain("formatted") for the key operators
and assert the plan properties that matter at 100 TB:

  * column pruning reaches the parquet scan (ReadSchema excludes the
    multi-MB `bytes` column wherever it isn't consumed);
  * partition pruning on the bands table (PartitionFilters on hashtable);
  * broadcast joins where one side is known-small (query probes, vocab);
  * whole-stage codegen spans over the relational glue.

Writes PLANS.md at the repo root. Usage: python tools/explain_audit.py
"""

from __future__ import annotations

import contextlib
import io
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main() -> int:
    from pyspark.sql import functions as F

    from apollo_spark import synth
    from apollo_spark.config import PipelineConfig
    from apollo_spark.session import get_spark
    from apollo_spark.stages import bags as bags_stage
    from apollo_spark.stages import hashst, query as query_stage

    # AQE off for the audit only: non-final AdaptiveSparkPlan output hides
    # codegen annotations; the production session keeps AQE on
    spark = get_spark("plan-audit", cores=8,
                      extra_conf={"spark.sql.adaptive.enabled": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    cfg = PipelineConfig()

    images_path = synth.cached_corpus_path(2000)
    images = spark.read.parquet(images_path).drop("gt_cluster")

    sections: list[tuple[str, str, list[tuple[str, bool]]]] = []

    # 1. bags extraction: bytes column must not be read
    feats = bags_stage.extract_features(images, cfg)
    p = plan_of(feats)
    sections.append((
        "bags extraction (images scan -> mapInPandas)", p,
        [("bytes column pruned from scan", "bytes" not in
          p.split("ReadSchema")[1].split("\n")[0] if "ReadSchema" in p
          else False),
         ("Arrow-batched Python (no row UDF)",
          "ArrowEvalPython" in p or "MapInPandas" in p or "PythonMapInArrow" in p)]))

    # 2. TF-IDF bags: partial aggregation for the df count
    bags = bags_stage.tfidf_bags(feats, 2000, cfg)
    p = plan_of(bags)
    sections.append((
        "tfidf bags (docfreq agg + join)", p,
        [("partial+final hash aggregate", p.count("HashAggregate") >= 2),
         ("extraction computed once (persisted, not re-run per consumer)",
          "InMemoryRelation" in p or "InMemoryTableScan" in p),
         ("whole-stage codegen present",
          "WholeStageCodegen" in p or "codegen id" in p)]))

    # 3. bands from a partitioned checkpoint + probe: partition pruning
    out_dir = "/tmp/apollo_plan_audit_bands"
    sigs = hashst.signatures(bags, cfg)
    hashst.bands(sigs, cfg).write.mode("overwrite") \
        .partitionBy("hashtable").parquet(out_dir)
    bands_pq = spark.read.parquet(out_dir)
    probe = bands_pq.filter(F.col("hashtable") == 3)
    p = plan_of(probe)
    sections.append((
        "band probe on hashtable-partitioned table", p,
        [("partition filter pushed", "PartitionFilters: [isnotnull(hashtable" in p
          or "hashtable#" in p.split("PartitionFilters")[1].split("]")[0]
          if "PartitionFilters" in p else False)]))

    # 4. interactive query: broadcast semi-join
    qid = images.first()["image_id"]
    cand = query_stage.probe_candidates(bands_pq, qid)
    p = plan_of(cand)
    sections.append((
        "query probe (broadcast left-semi)", p,
        [("broadcast join used", "BroadcastHashJoin" in p),
         ("left semi", "LeftSemi" in p)]))

    import re

    def _join_keys(p: str) -> list[str]:
        # left-key list of every join node, attribute ids stripped:
        # "(63) BroadcastHashJoin ... Left keys [1]: [doc_id#12L]" -> "doc_id"
        return [re.sub(r"#\d+L?", "", k) for k in re.findall(
            r"\(\d+\) \w*Join[^\n]*\nLeft keys \[\d+\]: \[([^\]]*)\]", p)]

    def _one_shingle_join(p: str) -> bool:
        # the exact-Jaccard verify joins the pair endpoints to the shingle
        # table ONCE, on doc_id: no semi-join on the candidate ids, no
        # per-endpoint size or intersection join keyed on a or b
        keys = _join_keys(p)
        return (keys.count("doc_id") == 1
                and not any(k.split(", ")[0] in ("a", "b") for k in keys))

    # 5. salted candidate pair join (text ladder): join key carries the
    # salt; no cartesian product anywhere in the quadratic step
    from apollo_spark.ops import dedup, similarity
    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet")
    cand = dedup.candidate_pairs(
        dedup.lsh_bands(dedup.minhash_signatures(docs)))
    p = plan_of(cand)
    join_keys = p.split("Join cond")[0] if "Join cond" in p else p
    sections.append((
        "salted LSH pair join (hot-key skew: join key = band + salt)", p,
        [("salt in the join key", "__sa" in p and "__sb" in p),
         ("no cartesian product", "CartesianProduct" not in p),
         ("b-side replicated via explode(sequence)", "Generate explode" in p
          or "explode" in p),
         # round-5 probe finding: AQE broadcast-converts the salted join
         # when the build exchange reads <10MB, re-concentrating the hot
         # bucket on one stream task — the hint pins the shuffle
         ("join pinned to shuffle_hash (not AQE-broadcast)",
          "ShuffledHashJoin" in p)]))

    # 6. ANN cosine near-dup: bucketed candidates, exact verify — the
    # O(n^2)-row explosion of the exact path is gone. Since r3 the
    # bucketing is the NumPy-matmul mapInPandas path (bit-identical to the
    # Catalyst fold path on the shared 6dp grid) and the candidate
    # self-join is salted.
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    ann = similarity.cosine_neardup_ann(emb, 0.40, dim=64)
    p = plan_of(ann)
    sections.append((
        "cosine near-dup via hyperplane-LSH candidates + exact verify", p,
        [("bucket equi-join (no cartesian)", "CartesianProduct" not in p),
         ("join keyed on (tbl, bucket)", "bucket" in p and "tbl" in p),
         ("salt in the candidate join key (hot-bucket skew)",
          "__sa" in p and "__sb" in p),
         ("candidate join pinned to shuffle_hash", "ShuffledHashJoin" in p),
         ("Arrow-batched bucketing (mapInPandas matmul, no row UDF)",
          ("MapInPandas" in p or "PythonMapInArrow" in p)
          and "BatchEvalPython" not in p)]))

    # 6b. IVF near-dup: the cell self-join is salted too (cells on
    # clustered corpora are hot by construction)
    ivf = similarity.cosine_neardup_ivf(emb, 0.40, n_centroids=8, nprobe=2)
    p = plan_of(ivf)
    sections.append((
        "IVF cell candidates + exact verify (salted cell join)", p,
        [("salt in the cell join key", "__sa" in p and "__sb" in p),
         ("cell join pinned to shuffle_hash", "ShuffledHashJoin" in p),
         ("no cartesian product", "CartesianProduct" not in p)]))

    # 6c. simhash block join (text twin): the round-2 skew gap — now the
    # same salted device as the MinHash pair join
    sh = dedup.simhash_pairs(docs)
    p = plan_of(sh)
    sketch_aggs = [int(n) for n in re.findall(
        r"Keys \[1\]: \[doc_id#\d+L?\]\nFunctions \[(\d+)\]", p)]
    sections.append((
        "simhash Hamming-ball block join (salted)", p,
        [("salt in the block join key", "__sa" in p and "__sb" in p),
         ("block join pinned to shuffle_hash", "ShuffledHashJoin" in p),
         ("no cartesian product", "CartesianProduct" not in p),
         # the sketch aggregate sums ONE vote-array column per doc_id (a
         # zip_with fold over the rows' vote arrays), not 60 per-bit sums
         ("sketch aggregate carries one vote column, not one per bit",
          bool(sketch_aggs) and all(n == 1 for n in sketch_aggs))]))

    # 6d. incremental delta pair-gen: corpus side is a two-column phash
    # projection semi-joined to delta-touched buckets — no caption/bytes
    # read, no full-corpus pair regeneration
    from apollo_spark.stages import candidates as cand_stage
    delta_imgs = images.filter(F.col("image_id") < "img0000000100")
    dp = cand_stage.simhash_pairs_delta(delta_imgs, images, cfg)
    p = plan_of(dp)
    scans = [s.split("\n")[0] for s in p.split("ReadSchema: ")[1:]]
    sections.append((
        "delta-vs-corpus simhash pair generation (O(|delta|) append)", p,
        [("semi-join on delta-touched buckets", "LeftSemi" in p),
         ("corpus scan reads only (image_id, phash) — no caption/bytes",
          all("caption" not in s and "bytes" not in s for s in scans)
          if scans else False)]))

    # 7. vocabulary cap: histogram threshold — the only sort-limit is over
    # the tau tie band (filtered input), never the full feature table.
    # Cap chosen to land INSIDE the df=1 tie band so the bounded-sort
    # branch survives (when the cut falls between bands, Catalyst's
    # PropagateEmptyRelation removes the empty tie side entirely).
    nfeat = bags_stage.docfreq(feats).count()
    capped = bags_stage.vocab_table(
        feats, cfg.with_(vocabulary_size=int(nfeat) - 10))
    p = plan_of(capped)
    sections.append((
        "vocabulary cap (histogram threshold, tie-band-only sort)", p,
        [("single bounded TakeOrdered (tie band only)",
          p.split("(1) ")[0].count("TakeOrderedAndProject") <= 1),
         ("tie band filtered before the sort",
          "Union" in p and ("(df" in p or "df#" in p))]))

    # 8. minhash_dedup: the shingle subtree appears several times in one
    # plan BY DESIGN — Catalyst must dedupe it via ReusedExchange, and no
    # InMemoryRelation may appear (a forced persist here measured 2-11x
    # slower: it breaks codegen + exchange reuse; see the note below)
    md = dedup.minhash_dedup(docs)
    p = plan_of(md)
    sections.append((
        "minhash_dedup (shingle subtree deduped by ReusedExchange)", p,
        [("ReusedExchange dedupes the repeated shingle subtree",
          "ReusedExchange" in p),
         ("no InMemoryRelation (no forced persist in the plan)",
          "InMemoryRelation" not in p and "InMemoryTableScan" not in p),
         ("exact-Jaccard verify is ONE shingle join (on doc_id; no "
          "semi, size or pair-keyed joins)", _one_shingle_join(p)),
         # word_shingles leaves a long doc_id un-aliased so this holds
         ("the verify's shingle rows come from a ReusedExchange",
          re.search(r"ReusedExchange \[Reuses operator id: \d+\]\n"
                    r"Output \[2\]: \[doc_id#\d+L?, shingle#\d+\]", p)
          is not None)]))

    # 9. resize_dims: metadata-only resize plan — the multi-MB bytes column
    # must be pruned from the scan and the math must stay in codegen
    from apollo_spark.ops import multimodal
    rd = multimodal.resize_dims(images, max_side=64)
    p = plan_of(rd)
    sections.append((
        "resize_dims (Catalyst-only resize plan)", p,
        [("bytes column pruned from scan", "bytes" not in
          p.split("ReadSchema")[1].split("\n")[0] if "ReadSchema" in p
          else False),
         ("whole-stage codegen covers the dim math",
          "[codegen id" in p.split("(3) Project")[-1]
          if "(3) Project" in p else "codegen id" in p)]))

    # 10. ngram Jaccard candidate join — the last unsalted bucketed
    # self-join until r4; now on the shared salting device with the df
    # census reused as the shard divisor
    ng = dedup.ngram_jaccard_pairs(docs, threshold=0.5)
    p = plan_of(ng)
    sections.append((
        "ngram Jaccard shared-shingle join (salted since r4)", p,
        [("salt in the shingle join key", "__sa" in p and "__sb" in p),
         ("shingle join pinned to shuffle_hash", "ShuffledHashJoin" in p),
         ("no cartesian product", "CartesianProduct" not in p),
         ("df census reused as shard divisor (no second count agg on "
          "the capped table)", p.count("HashAggregate") >= 2),
         ("exact-Jaccard verify is ONE shingle join (on doc_id; no "
          "semi, size or pair-keyed joins)", _one_shingle_join(p))]))

    # 11. clusters checkpoint: hash-partitioned on the component rep —
    # a per-cluster probe prunes to one partition (the same layout the
    # incremental append overwrites O(touched) partitions of)
    from apollo_spark.stages import cc as cc_mod
    cl_dir = "/tmp/apollo_plan_audit_clusters"
    cc_df = cc_mod.connected_components(
        hashst.bands(sigs, cfg).localCheckpoint(), cfg, all_ids=images)
    # the partition count run_pipeline derives for this corpus
    cc_parts = cc_mod.cc_partitions(images.count())
    cc_mod.with_clusters_partition(cc_mod.clusters(cc_df), cc_parts) \
        .write.mode("overwrite").partitionBy("p").parquet(cl_dir)
    cl_pq = spark.read.parquet(cl_dir)
    probe_cl = cl_pq.filter(F.col("p") == 0)
    p = plan_of(probe_cl)
    sections.append((
        "clusters probe on rep-hash-partitioned table (O(touched) IO)", p,
        [("partition filter pushed",
          "p#" in p.split("PartitionFilters")[1].split("]")[0]
          if "PartitionFilters" in p else False)]))

    # 12. cc/clusters partitioned WRITE plan (round 5): run_pipeline
    # repartitions on the hive column into the derived cc_parts before
    # writing, so each partition VALUE lands wholly in one task (one file
    # per dir, near-noop write sort). The explicit count tags the exchange
    # REPARTITION_BY_NUM, which AQE is forbidden to coalesce — a bare
    # repartition("p") would collapse a small table to 1-2 tasks and
    # serialize a many-dir write. At one partition Spark plans the
    # exchange as SinglePartition: the one dir is still one task's file.
    wdf = cc_mod.with_cc_partition(cc_df, cc_parts) \
        .repartition(cc_parts, "p")
    p = plan_of(wdf)
    sections.append((
        f"cc checkpoint write (pinned one-file-per-partition exchange, "
        f"cc_parts={cc_parts})", p,
        [("hash exchange on the hive partition column (one partition: "
          "single-partition exchange)",
          "hashpartitioning(p#" in p if cc_parts > 1
          else "SinglePartition" in p),
         ("numPartitions pinned against AQE coalescing",
          "REPARTITION_BY_NUM" in p)]))

    # 13. CC fixpoint round (round 6): the per-round plan carries exactly
    # FOUR exchanges — groupBy(dst) (the one data-carrying shuffle), the
    # pointer-jump self-join's two (keyed on mid, a different key), and
    # the round-end repartition that restores the image_id partitioning
    # the next round consumes. The propagation join and the mids label
    # join are exchange-FREE: sym is pre-partitioned on src and labels on
    # image_id, both preserved through localCheckpoint (the legacy loop
    # re-shuffled 2x|edges| + |labels| rows every round — measured -29%
    # fixpoint wall at local[4] on the 480k corpus).
    # Broadcast off for THIS plan only: at audit scale the 2000-row sym
    # would broadcast and hide the co-partitioning property that carries
    # the 480k-corpus win (at real scale sym is way past any broadcast
    # threshold, so the exchange-free sort-merge path IS the plan).
    npart = int(spark.conf.get("spark.sql.shuffle.partitions"))
    star = cc_mod.star_edges(hashst.bands(sigs, cfg)).localCheckpoint()
    sym_df, labels_df = cc_mod.fixpoint_state(star, npart)
    rnd = cc_mod.fixpoint_round(sym_df, labels_df, npart)
    thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        p = plan_of(rnd)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)
    # static tree: agg exchange x2 (the prop subtree is inlined under both
    # the mids join and the pointer jump; at runtime AQE stage reuse
    # collapses them), ONE pointer-jump exchange (only the min-label side
    # moves: the parents side's join key IS its image_id, already
    # partitioned), and the round-end repartition. The propagation join
    # and the labels side of the mids join contribute ZERO exchanges.
    n_exch = len(re.findall(r"(?<!Broadcast)Exchange \(\d+\)", p))
    sections.append((
        "CC fixpoint round (exchange-reduced loop, round 6)", p,
        [("labels checkpoint carries hashpartitioning(image_id) into "
          "the round plan", "hashpartitioning(image_id" in p),
         ("sym checkpoint carries hashpartitioning(src)",
          "hashpartitioning(src" in p),
         ("propagation + mids joins are co-partitioned (no broadcast, "
          "no cartesian, no exchange above their scans)",
          "BroadcastHashJoin" not in p and "CartesianProduct" not in p),
         (f"4 hash exchanges in the static tree (agg x2 inlined + jump "
          f"min-label side + round-end repartition); got {n_exch}",
          n_exch == 4),
         ("round-end exchange pinned against AQE coalescing",
          "REPARTITION_BY_NUM" in p)]))

    # 14. mapside signatures (round 6): the fresh-build signatures plan is
    # a single narrow chain — no exchange, no join (vocab prune + TF-IDF
    # weighting live inside the kernel against a broadcast array pair,
    # immune to CacheManager plan substitution; hashst.signatures_mapside,
    # picked by hashst.signatures_auto for this small vocabulary)
    feats_ms = bags_stage.extract_features(images, cfg)
    vocab_ms = bags_stage.vocab_table(feats_ms, cfg)
    ndocs_ms = images.count()
    ms = hashst.signatures_auto(
        feats_ms, vocab_ms, ndocs_ms,
        bags_stage.weight_bags(feats_ms, vocab_ms, ndocs_ms, cfg), cfg)
    p = plan_of(ms)
    sections.append((
        "mapside signatures (fresh build: no keyed shuffle, join-free)", p,
        # round 7: the extraction projection may carry ONE round-robin
        # repartition (util.widen_scan — the input-parallelism floor for
        # single-row-group corpus files, a no-op on multi-split scans);
        # the design claim is NO KEYED exchange: no groupBy/join shuffle
        # anywhere in the signature chain
        [("no hash-keyed exchange in the plan",
          "hashpartitioning" not in p),
         ("at most the one widen_scan round-robin exchange",
          p.count("roundrobin") <= 1 and
          len([ln for ln in p.split("\n")
               if ln.strip().startswith("(") and " Exchange" in ln]) <= 1),
         ("no join operator (vocab prune + weighting in-kernel)",
          "Join" not in p),
         ("bytes column pruned from scan", "bytes" not in
          p.split("ReadSchema")[1].split("\n")[0] if "ReadSchema" in p
          else False),
         ("one narrow chain: extraction + signature kernels both present "
          "(cache substitution of the persisted extraction is benign — "
          "InMemoryTableScan preserves per-partition row order)",
          "MapInPandas (" in p and
          ("InMemoryTableScan" in p or p.count("MapInPandas (") >= 2))]))

    # 15. repetition signals (round 6): Gopher-style repetition filters as
    # per-row higher-order array expressions — the whole operator must be
    # one narrow codegen span over the scan (no explode, no shuffle)
    from apollo_spark.ops import text as text_ops
    rep = text_ops.repetition_signals(docs)
    p = plan_of(rep)
    sections.append((
        "repetition signals (zero-shuffle per-row quality filters)", p,
        [("no exchange anywhere in the plan", "Exchange" not in p),
         ("no explode/generate (n-gram stats stay per-row)",
          "Generate" not in p),
         ("no join", "Join" not in p),
         ("whole-stage codegen present",
          "WholeStageCodegen" in p or "codegen id" in p),
         ("only doc_id+text read from the scan", "ReadSchema" in p and
          all(c not in p.split("ReadSchema")[1].split("\n")[0]
              for c in ("lang", "source", "n_chars")))]))

    def _plain_exchanges(p: str) -> int:
        # detail-header count of shuffle exchanges; "(25) BroadcastExchange"
        # does not match because of the required space before "Exchange"
        return len(re.findall(r"\(\d+\) Exchange", p))

    # 16. span dedup (round 6): C4-style first-occurrence election must be
    # a map-side-combinable aggregate (partial before the exchange), not a
    # row_number window that routes every occurrence of a hot span to one
    # task with no combine escape
    sd = text_ops.span_dedup(docs)
    p = plan_of(sd)
    sections.append((
        "span dedup (C4 first-occurrence election by aggregation)", p,
        [("election is partial+final min-struct (map-side combinable)",
          "partial_min(struct" in p),
         ("reassembly collect_list is partial+final",
          "partial_collect_list" in p),
         ("narrow explode (Generate, no Python)", "Generate" in p
          and "BatchEvalPython" not in p),
         ("no cartesian product", "CartesianProduct" not in p),
         ("exactly 2 shuffles: election + reassembly",
          _plain_exchanges(p) == 2)]))

    # 17. decontamination (round 6): the benchmark gram set must broadcast
    # and the corpus-side probe must reach the left-semi with ZERO corpus
    # shuffle — the only exchanges in the whole plan are the (tiny) bench
    # gram distinct and the per-doc-id distinct
    bench = docs.filter(F.pmod(F.col("doc_id").cast("long"), F.lit(31))
                        == 0)
    dc = text_ops.decontaminate(docs, bench)
    p = plan_of(dc)
    sections.append((
        "decontamination (broadcast bench grams, map-side semi probe)", p,
        [("bench grams broadcast into a left-semi",
          "BroadcastHashJoin LeftSemi" in p),
         ("no cartesian product", "CartesianProduct" not in p),
         ("zero corpus-gram shuffle: only bench-distinct + doc-id-distinct "
          "exchanges", _plain_exchanges(p) == 2),
         # ADVICE r6: >= 2 HashAggregate is trivially satisfied by the
         # bench-gram distinct alone; require BOTH distincts' partial+
         # final pairs so a regression to a non-combinable doc-id
         # distinct actually fails
         ("doc-id distinct is partial+final (combinable)",
          "partial_count" in p or p.count("HashAggregate") >= 4)]))

    lines = ["# Physical-plan audit", "",
             "Generated by tools/explain_audit.py — plan properties the",
             "engine relies on at scale, checked against Catalyst output.",
             ""]
    ok_all = True
    for title, plan, checks in sections:
        lines.append(f"## {title}")
        lines.append("")
        for name, ok in checks:
            ok_all &= ok
            lines.append(f"- {'PASS' if ok else 'FAIL'}: {name}")
        lines.append("")
        lines.append("```")
        lines.append(plan.strip()[:4000])
        lines.append("```")
        lines.append("")
    lines.append(_ROUND2_NOTES)
    lines.append(_ROUND3_NOTES)
    lines.append(_ROUND5_NOTES)
    with open(os.path.join(REPO, "PLANS.md"), "w") as f:
        f.write("\n".join(lines))
    print("PLANS.md written;", "ALL PASS" if ok_all else "SOME CHECKS FAILED")
    return 0 if ok_all else 1


_ROUND2_NOTES = """\
## CC fixpoint lineage (text ladder) + the ReusedExchange lesson (round 2)

Two changes to `ops/dedup.py`, one measured anti-pattern reverted:

**1. `connected_components_pairs` now cuts the edge lineage ONCE.**
The edge list feeding the text-ladder CC (`dedup_cc`) derives from the full
LSH chain (shingles -> signatures -> salted bucket join -> exact-Jaccard
verify). Before round 2 the loop held `edges` as a lazy plan, so EVERY
round's propagate-join (and every convergence count) re-ran the whole
candidate+verify chain from the parquet scan. Now `edges` is
`localCheckpoint()`ed before the loop, and each round performs exactly one
materializing action (new labels + a `moved` flag land in the same
checkpoint; the convergence count scans the checkpointed rows instead of
re-joining). Measured at sf0.1/local[32]: 23.4 s -> ~8.5 s warm.
At 100 TB the difference is O(rounds) full input rescans vs zero.

**2. Do NOT persist a subtree that appears multiple times in ONE plan.**
The exact-Jaccard verify reuses the shingle table that the signature pass
already extracts, so the "obvious" fix for the double extraction was
`word_shingles(docs).persist()` shared by both consumers. Measured result:
2-11x SLOWER (34 s vs 15 s at sf0.01; >380 s vs 19 s at sf0.1 for
`minhash_dedup`). Reason: the repeated shingle subtrees are *identical
deterministic plans*, and Catalyst already dedupes them physically — the
final plan contains one shuffle and N `ReusedExchange` nodes (checked
above). Forcing a persist replaces that reused shuffle with an
`InMemoryRelation`, which (a) breaks whole-stage codegen across the
boundary, (b) adds a serialize/deserialize hop for every consumer, and
(c) removes the exchange reuse AQE would otherwise exploit. The persist
was reverted; the functions keep an optional `shingles=` parameter for
callers that already HAVE a materialized (checkpointed) table — reuse
across *separate jobs* (the pipeline's bags checkpoint) is still the right
call; reuse within *one plan* belongs to the optimizer.
"""

_ROUND3_NOTES = """\
## Round-3 plan changes

**1. One salting device, five joins.** The skew treatment the MinHash pair
join had in round 2 (`ops/skew.py::salted_pairs`) now also shards the text
SimHash block join, the phash SimHash block join, and the ANN/IVF candidate
joins — every bucketed self-join in the engine carries the 2-D salt grid (`__sa`, `__sb`) in its join
key (sections above assert it). Semantics-free: all oracles unchanged.

**2. ANN bucketing moved to the NumPy-matmul path without losing oracles.**
`lsh_bucketed` now rounds projections on the same half-up 6dp grid as the
Catalyst fold path (`lsh_buckets_sql`), making the two bit-identical
(parity test in tests/test_ops.py). `cosine_neardup_ann` and `ann_topk`
therefore run the cheap mapInPandas matmul — one BLAS call per Arrow batch
instead of ntables*nbits per-row codegen dot folds (measured at sf0.01:
cosine_neardup_ann 9.4 s -> 3.3 s) — while their plane-literal DuckDB
oracles still hash-match.

**3. CC callers cut expensive lineages once.** `connected_components`
consumes its bands input twice (census agg + join). The flagship chain now
`localCheckpoint()`s the WMH bands before CC so the kernel executes once;
the pipeline path needs nothing (its input is a checkpoint scan). Same
ReusedExchange lesson as round 2: the cut belongs at the *caller* where the
input is a live kernel lineage, not inside the operator.

**4. Incremental appends generate candidates delta-vs-corpus.** The delta
pass semi-joins the corpus's two-column (image_id, phash) projection down
to delta-touched buckets before any pair join (section above asserts the
semi-join and the pruned ReadSchema), and substring fingerprints append
per delta — no full-corpus re-extraction anywhere in the append path.
"""

_ROUND5_NOTES = """\
## Round-5 plan changes

**1. Salted joins pinned to ShuffledHashJoin.** The planted-hot-key probe
(tools/skew_probe.py, SKEW_PROBE.json) caught AQE broadcast-converting a
salted pair join whose build-side exchange read <10 MB — re-concentrating
the hot bucket's entire stream side on ONE task (observed 303.8 s vs a
3.3 s median, 92×). `ops/skew.py::salted_pairs` now carries a
`shuffle_hash` hint on both sides; the sections above assert
ShuffledHashJoin in every salted plan. Side effect: no sort phase, so the
simhash and ngram walls dropped 264.7→46.4 s and 282→148.6 s at sf0.1.

**2. One-sided salting fixed with a 2-D salt grid.** The same probe showed
the simhash block join at 8.91× max/median task time: replicating only one
side shards the hot block's rows but every shard still joins the FULL
other side of the block. Both sides now carry (`__sa`, `__sb`) from a
s×s grid — per-cell work ~(block/s)² — and the probe's worst salted join
fell to 3.45× (bar ~4; SKEW_PROBE.json).

**3. Partitioned checkpoint writes pin their exchange.** Section 12:
run_pipeline repartitions cc/clusters on the hive column into the
partition count it derives from the corpus (`stages.cc.cc_partitions`,
one per million rows) before the write — one file per partition dir
instead of (tasks × dirs) small files, tagged REPARTITION_BY_NUM so AQE
cannot coalesce the exchange and serialize a many-dir write.

**4. One catalog flush per build/append.** Not a Catalyst property but a
job-count one: a fresh run_pipeline build batches its ~9 per-stage
metrics/manifest appends into a single flush (`catalog_batch` in the
manifest), and the incremental path has done the same since this round's
append batching (55.6→30.3 s per 1k-row append at sf0.1).
"""

if __name__ == "__main__":
    sys.exit(main())
