"""Skew-safe bucket self-join: the one salting device every candidate
generator in the engine shares (north_rule: hot-bucket skew handled with
salted repartitioning and AQE).

Every dedup/ANN rung generates candidates by self-joining rows co-keyed on
a bucket key (LSH band, SimHash block, hyperplane bucket, IVF cell).
Without salting, a hot bucket of n rows lands its entire n² cross product
on ONE shuffle task — the classic skew blowup the reference sidesteps with
its linear --edges mode (/root/reference/apollo/graph.py:209-249). Here the
quadratic mode itself is made skew-safe with TWO-DIMENSIONAL salting:
buckets above ``salt_target`` members are split into an s × s shard grid,
s = ceil(n / salt_target); each side gets its own salt = hash(id) mod s
and is replicated across the OTHER side's s values, and the join key
becomes (keys..., salt_a, salt_b). Every unordered (a, b) combination
still appears exactly once — at the cell (hash(a) mod s, hash(b) mod s) —
so the device is SEMANTICS-FREE (the DuckDB oracles of the unsalted joins
stay green), and every grid cell's join output is ~salt_target², REGARDLESS
of bucket size. The round-5 one-sided form (a-side salted, b-side
replicated) bounded per-cell output only by salt_target·n, and the planted
480k-corpus skew probe caught exactly that: a 12k-member SimHash block put
256 s on one join task against a 28 s median (max/median 8.9; BASELINE.md
round-5 skew table). The grid form costs one extra replication of the hot
bucket's rows (2·n·s shuffled vs n·s + n) and buys max/median ≈ 1. Buckets
at or below salt_target have s = 1 and pay nothing. AQE skew-join
splitting stays on as the backstop for residual imbalance in the hash.

Used by: the MinHash LSH pair join (ops/dedup.candidate_pairs), both
SimHash block joins (ops/dedup.simhash_pairs text twin, stages/candidates.
simhash_pairs phash twin), and the ANN/IVF candidate joins
(ops/similarity.cosine_neardup_ann / cosine_neardup_ivf) — round-2 VERDICT
#2/#3: only the MinHash path had the treatment; now all five share it.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SALT_TARGET = 64    # max a-side rows per (bucket, salt) join shard


def salted_pairs(df: DataFrame, keys: Sequence[str], id_col: str,
                 payload: Sequence[str] = (),
                 salt_target: int = SALT_TARGET,
                 n_col: str | None = None) -> DataFrame:
    """All unordered co-keyed pairs (a < b) via a salted self-join.

    ``df`` holds one row per (bucket member); ``keys`` is the bucket key,
    ``id_col`` the member id (must be totally ordered — the a < b filter
    dedupes). ``payload`` columns are carried through as <col>_a / <col>_b
    (e.g. the sketch values a verify step compares). If the caller already
    joined a per-key size column onto df, pass its name as ``n_col`` to
    skip the extra count aggregation; otherwise sizes are computed here
    (a partial-agg shuffle on the same key the join uses, so Catalyst
    reuses the exchange).

    Output: (a, b, *payload_a, *payload_b) — NOT distinct; a pair sharing
    k buckets appears k times (callers .distinct() after any per-pair
    math, exactly as the unsalted joins did)."""
    keys = list(keys)
    if n_col is None:
        sizes = df.groupBy(*keys).agg(F.count(F.lit(1)).alias("__n"))
        df = df.join(sizes, keys)
        n_col = "__n"
    nshards = F.greatest(
        F.lit(1), F.ceil(F.col(n_col) / salt_target)).cast("int")
    # 2-D grid: a carries its own hash shard and replicates across b's
    # shard axis; b symmetrically. The (a, b) pair meets exactly once, in
    # cell (hash(a) mod s, hash(b) mod s), whose output is ~salt_target².
    a = df.select(*keys, F.col(id_col).alias("a"),
                  *[F.col(p).alias(f"{p}_a") for p in payload],
                  F.pmod(F.xxhash64(id_col), nshards).cast("int")
                  .alias("__sa"),
                  F.explode(F.sequence(F.lit(0), nshards - 1))
                  .alias("__sb"))
    b = df.select(*keys, F.col(id_col).alias("b"),
                  *[F.col(p).alias(f"{p}_b") for p in payload],
                  F.explode(F.sequence(F.lit(0), nshards - 1))
                  .alias("__sa"),
                  F.pmod(F.xxhash64(id_col), nshards).cast("int")
                  .alias("__sb"))
    # PIN the strategy to a shuffle join: the salt grid only balances work
    # if the join actually exchanges on (keys, __sa, __sb). Left to itself
    # AQE converts this join to broadcast whenever the build side's
    # MEASURED exchange (upstream of the block/salt explodes, which can
    # multiply rows 100x+) reads under the 10 MB threshold — and a
    # broadcast join's task balance is the STREAM side's physical layout,
    # where a hot cluster is typically co-located (the round-5 480k probe
    # measured exactly that: one stream task holding the planted 10k-dup
    # partition ran 302 s against a 3.3 s median while every salted cell
    # sat unused inside the broadcast map; BASELINE.md round-5 skew
    # table). shuffle_hash (not merge) — per-CELL build sides are bounded
    # by ~salt_target rows, so no sort is needed. Memory caveat (ADVICE
    # r5 #2): an SHJ task's in-memory hash map holds ALL cells routed to
    # its shuffle partition, and the salting replicates the build side
    # s-fold, so the per-TASK build bound is
    # ~(total build rows · avg s) / spark.sql.shuffle.partitions — not
    # salt_target. SHJ cannot spill or fall back to sort-merge, so at
    # extreme scale raise shuffle.partitions with the data (the engine's
    # per-cell work stays flat either way) and keep AQE skew-split on as
    # the backstop. Dropping the hint to let sort-merge spill would let
    # AQE broadcast-convert again and re-create the measured 92x
    # stream-side hot block.
    return (a.join(b.hint("shuffle_hash"), [*keys, "__sa", "__sb"])
            .filter(F.col("a") < F.col("b"))
            .drop(*keys, "__sa", "__sb"))
