"""cc stage: LSH bands -> connected components as iterative DataFrame joins.

Replaces the reference's driver-RAM BFS (graph.py:63-148 — every bucket and
element resident on one machine) with min-label propagation over the
bipartite doc<->bucket graph, expressed purely as joins/aggregations so it
shards across executors (the north_rule's "iterative connected-components
expressed as DataFrame self-joins"):

  1. contract every multi-member bucket to star edges (doc -> bucket's min
     doc) in ONE pass over the membership table;
  2. min-label propagation over that edge list until fixpoint
     (one round = edge join + groupBy min + label join).

Converges in O(log component diameter) rounds (path halving each round).
Scale devices:
  * singleton buckets (the overwhelming majority at low collision rates)
    emit no edges, so their docs never enter the loop at all; the loop's
    working set is |dup edges|, not |memberships|;
  * each round ends in localCheckpoint() to truncate lineage (the classic
    iterative-join pitfall);
  * bucket keys stay composite (hashtable, band) — exact, no hash-collision
    false merges at 10^12 scale;
  * AQE handles hot (hashtable, band) skew; pair *materialization* is the
    only quadratic step and is capped (bucket_pair_cap) before any
    quadratic join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from apollo_spark.config import PipelineConfig


def multi_member_bands(bands: DataFrame) -> DataFrame:
    """Membership restricted to buckets with >= 2 docs (A3 size guard)."""
    sizes = (bands.groupBy("hashtable", "band")
             .agg(F.count(F.lit(1)).alias("n")))
    return (bands.join(sizes.filter("n >= 2").select("hashtable", "band"),
                       ["hashtable", "band"])
            .select("image_id", "hashtable", "band"))


def star_edges(bands: DataFrame) -> DataFrame:
    """Contract each multi-member bucket to star edges (image_id, rep) with
    rep = min image_id of the bucket. One groupBy + one join over the
    membership table, done ONCE — connectivity is preserved (any two
    co-bucketed docs reach each other through the bucket's rep, itself a
    doc), and the fixpoint then iterates over |dup edges| rows instead of
    re-shuffling every membership row every round. Docs whose buckets are
    all singletons emit nothing and drop out immediately (at web scale
    that's most of the corpus)."""
    stats = (bands.groupBy("hashtable", "band")
             .agg(F.min("image_id").alias("rep"),
                  F.count(F.lit(1)).alias("n")))
    return (bands.join(stats.filter("n >= 2")
                       .select("hashtable", "band", "rep"),
                       ["hashtable", "band"])
            .select("image_id", "rep")
            .filter(F.col("image_id") != F.col("rep"))
            .distinct())


def fixpoint_state(edges: DataFrame, npart: int
                   ) -> tuple[DataFrame, DataFrame]:
    """Initial (sym, labels) state of the label fixpoint — both lazy
    localCheckpoints that materialize inside round 1's count job.

    ``sym`` = the symmetrized edge list, hash-repartitioned by ``src``
    ONCE (localCheckpoint preserves outputPartitioning, so no round ever
    re-shuffles it). ``labels`` = round-1-equivalent init
    label(v) = min(v, min over v's forward reps): sound for any edge
    orientation (every candidate label is a node of v's component), equal
    to a full propagation round on star edges (rep < member always) —
    one groupBy instead of round 1's two joins."""
    fwd = edges.select(F.col("image_id").alias("src"),
                       F.col("rep").alias("dst"))
    sym = (fwd.unionByName(
        fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .repartition(npart, "src")
        .localCheckpoint(eager=False))
    nodes = (edges.select(F.col("image_id").alias("src"))
             .unionByName(edges.select(F.col("rep").alias("src")))
             .distinct())
    labels = (fwd.unionByName(nodes.withColumn("dst", F.col("src")))
              .groupBy("src").agg(F.min("dst").alias("label"))
              .withColumnRenamed("src", "image_id")
              .repartition(npart, "image_id")
              .localCheckpoint(eager=False))
    return sym, labels


def fixpoint_round(sym: DataFrame, labels: DataFrame,
                   npart: int) -> DataFrame:
    """One propagation + path-halving pass ->
    (image_id, new_label, old). The caller checkpoints and counts.

    Exchange accounting (asserted by the plan audit): ``sym`` is
    pre-partitioned on src and ``labels`` on image_id — the rename to
    ``src`` keeps the expression id, so the propagation join needs NO
    exchange on either side; the groupBy(dst) agg shuffles (the one
    data-carrying exchange), lands partitioned on image_id, and feeds the
    mids join exchange-free against ``labels``. Only the pointer-jump
    self-join (keyed on mid, a different key) and the round-end
    repartition (restores the image_id partitioning the NEXT round's
    joins consume) add exchanges."""
    prop = (sym.join(labels.withColumnRenamed("image_id", "src"), "src")
            .groupBy(F.col("dst").alias("image_id"))
            .agg(F.min("label").alias("nlabel")))
    mids = (labels.join(prop, "image_id", "left")
            .select("image_id",
                    F.least("label", F.coalesce("nlabel", "label"))
                    .alias("mid"),
                    F.col("label").alias("old")))
    # pointer jump (path halving): l(v) <- l(l(v)). Every label IS a
    # node in this table and labels only ever decrease, so the parent
    # lookup is a self-join that compresses label chains exponentially
    # — rounds drop from O(diameter) to O(log diameter).
    parents = mids.select(F.col("image_id").alias("mid"),
                          F.col("mid").alias("pmid"))
    return (mids.join(parents, "mid", "left")
            .select("image_id",
                    F.coalesce("pmid", "mid").alias("new_label"),
                    "old")
            .repartition(npart, "image_id"))


def label_fixpoint(edges: DataFrame, max_iter: int) -> DataFrame:
    """Min-label propagation with per-round path halving over an
    (image_id, rep) edge list -> cc(image_id, cc_id) for every endpoint.
    The shared core of the full and incremental CC paths. ``edges`` must
    already be materialized (localCheckpoint/parquet) — each round joins
    it and a lazy lineage would re-run per round.

    Exchange-reduced loop (round-6 fixpoint-floor work, measured −29% at
    local[4] on the 677k-edge 480k-corpus graph against the previous
    loop, which re-shuffled the edge list every round):

      * the symmetric edge list is repartitioned by ``src`` ONCE and
        checkpointed — localCheckpoint preserves outputPartitioning, so
        every round's propagation join stops re-shuffling 2x|edges| rows;
      * labels are repartitioned by ``image_id`` inside the round job, so
        both label joins of the NEXT round are co-partitioned with their
        probe sides (the rename keeps the expression id, so the hash
        partitioning carries through EnsureRequirements);
      * round 1 collapses into the init aggregate: label(v) =
        min(v, min over v's FORWARD reps) — sound for any edge
        orientation (every candidate label is a node of v's component;
        min-propagation converges to the component min from any such
        start), and on star edges (rep < member always) it EQUALS a full
        round-1 propagation, one groupBy instead of two joins.

    A fused two-rounds-per-barrier variant was tried and REJECTED:
    23.5 s vs 9.6 s on the same input — the doubled-depth job costs more
    than the saved convergence count."""
    spark = edges.sparkSession
    npart = int(spark.conf.get("spark.sql.shuffle.partitions"))
    sym, labels = fixpoint_state(edges, npart)
    changed = 0
    for _ in range(max_iter):
        new_labels = (fixpoint_round(sym, labels, npart)
                      .localCheckpoint(eager=False))
        # LAZY checkpoint + count-as-materializer: the convergence count is
        # the round's ONLY driver-blocking action — it computes the round,
        # caches the checkpointed partitions (reused twice next round) and
        # returns the moved-label count in one job, instead of the eager
        # checkpoint + separate count pair (2 jobs). The per-round barrier
        # count was CC's dominant serial term at 1->4 cores (worst stage,
        # 2.41x — round-3 BENCH_SCALING); this halves it with no extra
        # rounds and no semantics change.
        changed = new_labels.filter(
            F.col("new_label") != F.col("old")).count()
        labels = new_labels.select(
            "image_id", F.col("new_label").alias("label"))
        if changed == 0:
            break
    if changed:
        # a component deeper than max_iter would silently come back split
        # into several cc_ids — downstream recall gating would misread the
        # split as genuine clusters (ADVICE r1), so surface it loudly
        import warnings
        warnings.warn(
            f"label_fixpoint hit max_iter={max_iter} with {changed} labels "
            f"still moving — components deeper than the cap are split; "
            f"raise max_cc_iterations", RuntimeWarning, stacklevel=2)
    return labels.withColumnRenamed("label", "cc_id")


# Small-graph short-circuit bound: <= this many edges -> driver-side
# union-find (one bounded limit-collect job) instead of the round-barriered
# distributed fixpoint. SCALE-ADAPTIVE dispatch on DATA size, not core
# count (the same bound is right on local[1] and a 1000-node cluster): a
# graph under the bound is a few MB of pairs — the distributed fixpoint's
# >= 2 blocking rounds cost more than one collect at ANY cluster size,
# while an over-bound graph always takes the distributed path, so a
# corpus-scale build (the 1->4 scaling harness's 480k corpus carries ~677k
# edges) still measures the real fixpoint. Read at call time, so tests and
# the benchmark pin either side by setting the attribute (0 disables the
# short-circuit entirely).
CC_DRIVER_EDGES_MAX = 100_000


def _labels_driver_side(spark, rows,
                        out_schema: str = "image_id string, cc_id string"
                        ) -> DataFrame:
    """Union-find over an already-COLLECTED edge list -> the same
    (node, cc_id = min member id) labeling label_fixpoint converges to,
    as a LOCAL relation. Only called under CC_DRIVER_EDGES_MAX (the
    caller's bounded limit-collect caps it at a few MB of id pairs);
    path-halving find keeps it near-linear. Ids may be strings or ints —
    Python min == F.min for both. Downstream consumers can collect or join
    the relation without re-running any corpus scan."""
    parent: dict = {}

    def find(x):
        r = parent.setdefault(x, x)
        while parent[r] != r:
            parent[r] = parent[parent[r]]
            r = parent[r]
        parent[x] = r
        return r

    for r in rows:
        ra, rb = find(r["image_id"]), find(r["rep"])
        if ra != rb:
            parent[ra] = rb
    comp_min: dict = {}
    nodes = list(parent)
    for n in nodes:
        root = find(n)
        cur = comp_min.get(root)
        if cur is None or n < cur:
            comp_min[root] = n
    out = [(n, comp_min[find(n)]) for n in nodes]
    import pandas as pd
    cols = [f.split()[0] for f in out_schema.split(",")]
    # pandas + Arrow upload: createDataFrame(list-of-tuples) goes through
    # the pickled-RDD path and cost ~1 s per round-trip at bench scale
    # (measured round 7); the Arrow path is ~free at these sizes
    return spark.createDataFrame(
        pd.DataFrame(out, columns=cols), out_schema) if out else \
        spark.createDataFrame(out, out_schema)


def components_from_edges(edges: DataFrame, max_iter: int,
                          out_schema: str = "image_id string, cc_id string"
                          ) -> DataFrame:
    """Size-adaptive CC over a MATERIALIZED (image_id, rep) edge list ->
    labels (node, cc_id = min member id) for every endpoint. One bounded
    limit-collect probes the edge count AND fetches the edges; at or under
    CC_DRIVER_EDGES_MAX the driver union-find produces the identical
    labeling as a local relation, above it the truncated probe is
    discarded and the distributed label fixpoint runs. The one CC
    dispatcher, shared by EVERY CC entry point: at bench scale the
    fixpoint's per-round driver barrier, not data, dominated dedup_cc and
    the e2e cc stage (the same regime logic as the cosine exact-vs-ANN
    crossover dispatcher). Either way the labels come back materialized —
    a local relation, or the fixpoint's last counted checkpoint — so a
    caller may read them several times without re-running CC. ``edges``
    must already be localCheckpoint/parquet-materialized."""
    cap = CC_DRIVER_EDGES_MAX
    rows = edges.limit(cap + 1).collect() if cap > 0 else None
    if rows is not None and len(rows) <= cap:
        return _labels_driver_side(edges.sparkSession, rows, out_schema)
    out_cols = [f.split()[0] for f in out_schema.split(",")]
    return label_fixpoint(edges, max_iter).toDF(*out_cols)


def incremental_components_parts(old_cc: DataFrame, new_edges: DataFrame,
                                 new_ids: DataFrame, cfg: PipelineConfig
                                 ) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Warm-start CC for an incremental append: merge ``new_edges`` (star
    edges from delta-touched buckets + delta pair edges) into a CORRECT
    previous fixpoint ``old_cc`` without re-running CC over the corpus.

    The device: a converged labeling IS a spanning star of each old
    component (every member points at its cc_id, itself a member), so the
    union graph (old graph + new edges) is connectivity-equivalent to
    (old-label star edges + new edges). Restricting further to AFFECTED
    components — those containing an endpoint of a new edge — leaves the
    untouched corpus out of the CC entirely; the merged edge set is
    O(|new_edges| + |affected components|) and goes through the one
    size-gated dispatcher (components_from_edges), so a typical append
    resolves by driver union-find. Exactness: the merged min-label is the
    global min image_id of the merged component, which is also what a full
    rebuild emits (append==rebuild parity tests).

    Returns the pieces separately so the caller can choose the write
    strategy per piece:

      (affected old cc_ids, relabeled rows, singleton rows)

    ``affected`` is lazy. ``relabeled`` = members of affected components
    with their merged labels, as the dispatcher returns them (already
    materialized) — SMALL (only components the delta actually collides
    with) and the only rows superseding existing table content, so a
    partitioned table dynamic-overwrites just their partitions.
    ``singles`` = delta ids in no multi bucket — brand-new keys
    superseding nothing, so they APPEND as new files without touching any
    existing partition (they hash-scatter by own id; overwriting their
    partitions would rewrite the whole table and defeat the point).
    Everything else is byte-identical to old_cc: the full table is
    ``old_cc`` minus the affected components, plus ``relabeled`` and
    ``singles``."""
    new_edges = new_edges.localCheckpoint()
    endpoints = (new_edges.select("image_id")
                 .unionByName(new_edges.select(F.col("rep")
                                               .alias("image_id")))
                 .distinct())
    affected = (old_cc.join(endpoints, "image_id", "left_semi")
                .select("cc_id").distinct())
    aff_nodes = old_cc.join(affected, "cc_id", "left_semi")
    star_old = (aff_nodes.filter(F.col("image_id") != F.col("cc_id"))
                .select("image_id", F.col("cc_id").alias("rep")))
    # materialize the merged edge list ONCE — the fixpoint joins it every
    # round and incremental consumers must not re-derive it from the old
    # cc table. LAZY checkpoint (round 7): the dispatcher's size-probe
    # collect is the materializing action, so the eager-checkpoint job +
    # collect job pair collapses into one; ``new_edges`` above stays EAGER
    # because it appears twice in this very plan (endpoints + union) and
    # a lazy form would compute its lineage twice inside the one job
    edges = (new_edges.unionByName(star_old).distinct()
             .localCheckpoint(eager=False))
    labels = components_from_edges(edges, cfg.max_cc_iterations)
    singles = (new_ids.select("image_id")
               .join(labels.select("image_id"), "image_id", "left_anti")
               .join(old_cc.select("image_id"), "image_id", "left_anti")
               .withColumn("cc_id", F.col("image_id")))
    return affected, labels, singles


def connected_components(bands: DataFrame, cfg: PipelineConfig,
                         all_ids: DataFrame | None = None) -> DataFrame:
    """-> cc(image_id string, cc_id string) for every banded doc.

    cc_id = lexicographic min image_id of the component (stable, needs no
    dense relabeling — the reference's uint32 remapping, graph.py:29-46, is
    a Cassandra artifact we drop). Min-label propagation over the
    bucket-contracted star-edge graph; each round ends in localCheckpoint()
    to truncate lineage. Docs in no multi-member bucket are singleton
    components (cc_id = own id); pass ``all_ids`` to include docs that
    produced no bands at all (empty bags).

    CALLER CONTRACT: ``bands`` is consumed TWICE (star_edges' census agg +
    join). A checkpoint/parquet scan is fine as-is; a live lineage through
    an expensive kernel (WMH mapInPandas) must be localCheckpoint()ed by
    the caller first or the kernel executes twice.

    Round-7: routes through components_from_edges — a star-edge graph at
    or under CC_DRIVER_EDGES_MAX resolves in one bounded collect +
    driver union-find (bit-identical labels, pinned by
    tests/test_ops.py::test_cc_dispatch_parity); larger graphs run the
    distributed fixpoint exactly as before. The checkpoint is LAZY: the
    dispatcher's probe-collect is the materializing action (one job
    builds + persists the edges instead of an eager-checkpoint + collect
    pair), and partitions it leaves uncomputed on an over-cap graph are
    computed and persisted by fixpoint round 1."""
    edges = star_edges(bands).localCheckpoint(eager=False)
    cc = components_from_edges(edges, cfg.max_cc_iterations)
    if all_ids is not None:
        singletons = (all_ids.select("image_id")
                      .join(cc.select("image_id"), "image_id", "left_anti")
                      .withColumn("cc_id", F.col("image_id")))
        cc = cc.unionByName(singletons)
    return cc


# manifest marker for the partitioned cc/clusters layout: hive column
# p = pmod(xxhash64(cc_id), cc_parts), with cc_parts recorded in both
# manifest entries
CC_LAYOUT = "p-hash-v2"
# cc rows per hive partition (~30 MB at the ~31 B/row of a 480k-row table):
# each hive dir costs a file plus listing and catalog work on every write
# and load, so a table gets only as many dirs as its size needs
CC_ROWS_PER_PARTITION = 1_000_000


def cc_partitions(ndocs: int) -> int:
    """Hive partition count of the cc/clusters tables for a corpus of
    ``ndocs`` rows: ceil(ndocs / CC_ROWS_PER_PARTITION), at least 1."""
    return max(1, -(-ndocs // CC_ROWS_PER_PARTITION))


def with_cc_partition(cc: DataFrame, parts: int) -> DataFrame:
    """Attach the cc checkpoint's partition column:
    p = pmod(xxhash64(cc_id), parts). Hash-partitioning on the COMPONENT
    id means an incremental append touches only the partitions of the
    affected components' old and new labels — the dynamic-overwrite append
    path (checkpoint.overwrite_partitions)."""
    return cc.withColumn(
        "p", F.pmod(F.xxhash64("cc_id"), F.lit(parts)).cast("int"))


def with_clusters_partition(cl: DataFrame, parts: int) -> DataFrame:
    """Attach the clusters table's partition column. Keyed on the
    REPRESENTATIVE (rep == cc_id), with the same hash and modulus as the
    cc table (with_cc_partition) — so one component's cc rows and cluster
    rows land in the SAME partition number p, and an incremental append's
    touched-partition set (computed once from the affected/relabeled
    components) drives the dynamic overwrite of both tables."""
    return cl.withColumn(
        "p", F.pmod(F.xxhash64("rep"), F.lit(parts)).cast("int"))


def component_sizes(cc: DataFrame) -> DataFrame:
    """G5 triage input: (cc_id, n)."""
    return cc.groupBy("cc_id").agg(F.count(F.lit(1)).alias("n"))


def clusters(cc: DataFrame) -> DataFrame:
    """Final clusters table (FIXTURES.md §2): non-singleton components with
    a stable numeric id alongside the representative doc id."""
    sizes = component_sizes(cc).filter("n >= 2")
    return (cc.join(sizes, "cc_id")
            .select(F.xxhash64("cc_id").alias("cluster_id"),
                    F.col("cc_id").alias("rep"), "image_id"))


def dup_pairs(cc: DataFrame) -> DataFrame:
    """All within-component pairs (a < b) — the recall currency. Quadratic
    per component; evaluation-scale only (components are small in dedup;
    guarded upstream by bucket caps)."""
    a = cc.select(F.col("cc_id"), F.col("image_id").alias("a"))
    b = cc.select(F.col("cc_id"), F.col("image_id").alias("b"))
    return (a.join(b, "cc_id")
            .filter(F.col("a") < F.col("b"))
            .select("a", "b").distinct())
