"""Engine configuration (mirrors the reference's HOCON surface,
Configuration.scala:16-71 / reference.conf, as plain dataclasses)."""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class SectionRank:
    """Per-section importance (reference.conf:24-32)."""

    section: str
    rank: int
    weight: float


# publication-section-ranks (reference.conf:24-32)
DEFAULT_SECTION_RANKS: list[SectionRank] = [
    SectionRank("title", 1, 1.0),
    SectionRank("abstract", 1, 0.8),
    SectionRank("concl", 1, 0.7),
    SectionRank("results", 2, 0.6),
    SectionRank("discuss", 2, 0.5),
    SectionRank("methods", 3, 0.3),
    SectionRank("other", 4, 0.1),
]


@dataclass(frozen=True)
class Word2VecConfig:
    """embedding.model-configuration (reference.conf:84-90) + an
    explicit seed (SURVEY.md §7.5).

    The seed alone does not make the vectors reproducible: with
    ``num_partitions`` above 1, training tasks that run at the same time
    update shared vectors, so vectors, and the evidence built on them,
    depend on scheduling.  The default of 1 gives equal vectors from
    equal training sets; the reference's 16 stays selectable for
    clusters where parallel training pays."""

    window_size: int = 10
    num_partitions: int = 1
    max_iter: int = 3
    min_count: int = 1
    step_size: float = 0.02
    vector_size: int = 100
    seed: int | None = 42


@dataclass(frozen=True)
class EvidenceConfig:
    """evidence section (reference.conf:113)."""

    threshold: float = 0.01

