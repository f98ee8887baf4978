"""Pipeline configuration.

Mirrors the reference's CLI surface (/root/reference/apollo/__main__.py:27-207)
as one frozen dataclass: signature size K (default 128, __main__.py:52),
similarity threshold (default 0.8, doc/101.md:37-41), FP/FN weights
(__main__.py:56-63), min document frequency (__main__.py:137-138), vocabulary
cap (doc/cmd/bags.md:15).
"""

from __future__ import annotations

from dataclasses import dataclass, field, replace


@dataclass(frozen=True)
class PipelineConfig:
    # Weighted MinHash / LSH (reference defaults)
    seed: int = 42
    size: int = 128                 # WMH sample count K (__main__.py:52)
    threshold: float = 0.8          # similarity threshold (doc/101.md:37-41)
    false_positive_weight: float = 0.5   # __main__.py:56-59
    false_negative_weight: float = 0.5   # __main__.py:60-63

    # Feature extraction (retargeted extractors, SURVEY.md §2.3)
    phash_ngram_bits: int = 8       # sliding bit n-gram length over the 64-bit phash
    phash_ngram_stride: int = 4
    caption_shingle_k: int = 3      # character shingle length
    phash_weight: float = 1.0       # per-extractor weight multiplier
    caption_weight: float = 1.0     # (hasher.py:102-131 analogue)

    # Vocabulary pruning (doc/cmd/bags.md:13-15)
    min_docfreq: int = 1
    vocabulary_size: int = 10_000_000

    # P5 input filter (doc/cmd/bags.md:9 --languages analogue): restrict
    # the corpus to these image formats before extraction; None = all
    formats: tuple[str, ...] | None = None

    # Axis extensions (north_star additions; no reference counterpart)
    simhash_max_hamming: int = 3    # Hamming-ball radius over phash
    substring_min_len: int = 32     # exact-substring candidate length over
                                    # captions. Winnowing guarantees the
                                    # pass for "captions share >= L+W-1
                                    # contiguous chars" (W = candidates.
                                    # WINNOW_W); L must be long enough that a
                                    # chance phrase collision is rare, else
                                    # transitive CC over-merges (observed at
                                    # L=16 on 60k synthetic captions: 92% of
                                    # docs swept into clusters vs ~40% truth)

    # G6 community refinement: which per-component algorithm splits fat CCs
    # (reference --algorithm, __main__.py:176-179; igraph menu replaced by
    # the NumPy kernels in core/community.py). label_propagation is the
    # cheapest; multilevel/fastgreedy/walktrap/leading_eigenvector/
    # edge_betweenness are the modularity-cut options (walktrap = the
    # reference's default); infomap optimizes the map equation.
    community_algorithm: str = "label_propagation"

    # Scale / skew controls (north_rule: salted repartitioning + AQE)
    bucket_pair_cap: int = 64       # buckets larger than this never emit quadratic
                                    # pairs (linear/bipartite mode instead) —
                                    # adaptive analogue of --edges (graph.py:209-249)
    max_cc_iterations: int = 20

    def lsh_params(self) -> tuple[int, int]:
        """(htnum, band_size) — memoized via module-level cache in core.lsh."""
        from apollo_spark.core.lsh import calc_hashtable_params

        return calc_hashtable_params(
            self.threshold, self.size,
            self.false_positive_weight, self.false_negative_weight)

    def with_(self, **kw) -> "PipelineConfig":
        return replace(self, **kw)


DEFAULT = PipelineConfig()
