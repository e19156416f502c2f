"""Engine configuration.

Mirrors the reference's tunables (``/root/reference/config/settings.py:16-26``,
``/root/reference/src/matching/advanced_matcher.py:181``) plus the Spark-side
knobs the reference has no concept of (partitioning, salting, checkpointing).
"""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass(frozen=True)
class MatchConfig:
    """Semantics knobs — reference-faithful defaults."""

    # rapidfuzz score threshold for accepting a fuzzy match
    # (reference: advanced_matcher.py:181, slider default address.py:973-977)
    fuzzy_threshold: float = 85.0
    # fixed score assigned to exact matches (advanced_matcher.py:99, :149)
    exact_score: float = 100.0
    # per-probe-record result cap in top-k mode (settings.py:22, engine.py:204-206)
    max_results_per_record: int = 100
    # v3 weighted-blend weights (settings.py:23-26, engine.py:95-102)
    blend_weights: tuple[float, float, float, float] = (0.4, 0.3, 0.2, 0.1)
    # quality bucket thresholds (settings.py:18-21, engine.py:106-115)
    quality_excellent: float = 90.0
    quality_good: float = 75.0
    quality_poor: float = 50.0
    # scorer strategy order — ties between strategies go to the EARLIER one
    # (advanced_matcher.py:380-397 uses strict `>` when comparing strategies)
    strategies: tuple[str, ...] = (
        "token_sort_ratio",
        "token_set_ratio",
        "partial_ratio",
        "ratio",
    )


@dataclass(frozen=True)
class ScaleConfig:
    """Physical-execution knobs — no analogue in the single-thread reference."""

    # target shuffle parallelism; None -> leave session default
    shuffle_partitions: int | None = None
    # blocks with more than this many build-side rows get salted
    hot_block_threshold: int = 10_000
    # number of salt buckets for hot keys
    salt_buckets: int = 32
    # hard cap on candidate pairs emitted per block (quadratic-block guard);
    # blocks exceeding it are truncated deterministically (skew-safe salted
    # ranking, blocking.cap_block) and recorded in lineage. Default ON: an
    # unguarded prefix/band block grows quadratically in the block's row
    # count, and at 10^12 rows a single ubiquitous key would otherwise emit
    # more pairs than the cluster can score. None disables (opt-out).
    max_pairs_per_block: int | None = 1_000_000
    # localCheckpoint between connected-components iterations
    cc_checkpoint_interval: int = 1
    cc_max_iterations: int = 50
    # connected-components per-node-min strategy switch: graphs at or
    # below this many (canonical) edges use a Window.partitionBy(src)
    # min — one shuffle, no join-back — because the total edge count
    # bounds ANY node's neighborhood, so the worst "hub" task sorts at
    # most this many rows (a few million string pairs sorts in low
    # seconds). Above it, the skew-safe groupBy+min+join-back path runs:
    # a collapsing billion-node component's hub neighborhood approaches
    # component size and a window would put it in ONE task. Measured at
    # sf0.1 (the window bound applies): the join-back path cost ~46%
    # extra wall on the clustering stage for zero skew benefit; at a
    # 1.27M-canonical-edge graph (just past the old 2M bidirected
    # bound) join-back rounds cost ~4x the window rounds' wall even
    # with the shuffle_hash join-back. 8M keeps mid-size graphs on the
    # window path — the worst-case hub task sorts 8M short rows, low
    # seconds and inside executor memory — while billion-edge graphs
    # still take the skew-safe path.
    cc_window_max_edges: int = 8_000_000

    def __post_init__(self) -> None:
        # fail fast with a named knob: a zero/negative value otherwise
        # surfaces deep in a job as an ANSI pmod/divide error or an
        # empty-quota truncation with no pointer back to the config
        for knob in ("hot_block_threshold", "salt_buckets", "cc_max_iterations"):
            if getattr(self, knob) < 1:
                raise ValueError(f"ScaleConfig.{knob} must be >= 1")
        if self.max_pairs_per_block is not None and self.max_pairs_per_block < 1:
            raise ValueError(
                "ScaleConfig.max_pairs_per_block must be >= 1 or None (off)"
            )


@dataclass(frozen=True)
class EngineConfig:
    match: MatchConfig = field(default_factory=MatchConfig)
    scale: ScaleConfig = field(default_factory=ScaleConfig)


DEFAULT = EngineConfig()
