"""Engine configuration.

Mirrors the reference's ``MappingConfig`` fields, defaults and validation
(reference: mapping_engine.py:69-95) as a frozen dataclass. Unlike the
reference, the config never mutates a live SparkSession; session conf is set
once at builder time (see :mod:`mapping_timeseries_spark.session`).
"""

from __future__ import annotations

from dataclasses import dataclass, field

VALID_METHODS = ("correlation", "dtw", "auto")

#: Correlation threshold above which an entity is considered a "simple"
#: pattern in auto mode (reference: mapping_engine.py:693-699).
AUTO_SIMPLE_THRESHOLD = 0.7


@dataclass(frozen=True)
class MappingConfig:
    """Configuration for the mapping engine.

    Attributes
    ----------
    method:
        ``'correlation'`` | ``'dtw'`` | ``'auto'`` (reference default
        ``'auto'``, mapping_engine.py:71).
    min_correlation:
        Minimum correlation for a mapping to be emitted
        (reference default 0.3, mapping_engine.py:72).
    max_lag:
        Maximum lag in months to scan (reference default 6,
        mapping_engine.py:73).
    window_size:
        Sakoe-Chiba band half-width for DTW; ``None`` = unconstrained
        (mapping_engine.py:74).
    normalize:
        Z-score-normalize series before DTW (mapping_engine.py:75).
    broadcast_threshold:
        Reference-parity knob (mapping_engine.py:78 sets
        autoBroadcastJoinThreshold on the live session). This engine
        NEVER mutates session conf: values <= 0 ("forbid broadcast", the
        10^10-entity posture) become a query-scoped SHUFFLE_MERGE hint
        on the dim side of the lag join; any positive value defers to
        the session's own threshold/AQE (set a custom byte limit at
        builder time via :mod:`mapping_timeseries_spark.session`).
    """

    method: str = "auto"
    min_correlation: float = 0.3
    max_lag: int = 6
    window_size: int | None = None
    normalize: bool = True
    broadcast_threshold: int = 10 * 1024 * 1024

    def __post_init__(self) -> None:
        if self.method not in VALID_METHODS:
            raise ValueError("method must be 'correlation', 'dtw', or 'auto'")
        if not 0 <= self.min_correlation <= 1:
            raise ValueError("min_correlation must be between 0 and 1")
        if self.max_lag < 1:
            raise ValueError("max_lag must be at least 1")
