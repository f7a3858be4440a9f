"""Configuration model for the insights engine.

The reference hardcodes its workload as module-level globals
(columns main.py:88-103, bucket sizes main.py:106-115, id->display mapping
main.py:77-84, threshold main.py:118). Here the same knobs are a dataclass so
the identical pipeline runs on any table (Play-Store CSV, TPC-H orders, ...).
"""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass(frozen=True)
class InsightsConfig:
    """Declarative description of one insights workload.

    Attributes:
        agg_cols: columns swept by the combination/grouping-sets engine
            (reference ``cols_for_aggregations``, main.py:88-103). Order
            matters: it fixes the field order inside each insight string.
        bucket_sizes: numeric col -> bucket width; bucketed value is
            ``floor(col / size) * size`` (reference main.py:201) and is
            rendered ``[lo-(lo+size)]`` (main.py:301-305).
        id_to_value: ID col -> display cols resolved per group via a
            deterministic ``min`` (the reference used order-nondeterministic
            ``first``, main.py:285 — see SURVEY.md §7 risk 2).
        range_filters: col -> (lo, hi) inclusive range predicates applied
            before bucketing (reference main.py:214-217). Null-rejecting.
        int_cast_cols: columns cast to int before anything else
            (reference main.py:151-160).
        threshold_percent: support threshold; a group survives when
            ``count >= int(threshold_percent/100 * N)`` with N the row count
            of the *whole* filtered table (main.py:280, 344).
        max_combo_size: cap on grouping-set size (reference sweeps 1..14).
    """

    agg_cols: tuple[str, ...]
    bucket_sizes: dict[str, int] = field(default_factory=dict)
    id_to_value: dict[str, tuple[str, ...]] = field(default_factory=dict)
    range_filters: dict[str, tuple[float, float]] = field(default_factory=dict)
    int_cast_cols: tuple[str, ...] = ()
    threshold_percent: float = 2.0
    max_combo_size: int | None = None

    def __post_init__(self) -> None:
        if not self.agg_cols:
            raise ValueError("agg_cols is empty: the sweep needs at least one column")

    @property
    def numeric_cols(self) -> tuple[str, ...]:
        return tuple(self.bucket_sizes.keys())

    @property
    def id_cols(self) -> tuple[str, ...]:
        return tuple(self.id_to_value.keys())

    @property
    def display_cols(self) -> tuple[str, ...]:
        out: list[str] = []
        for vals in self.id_to_value.values():
            out.extend(vals)
        return tuple(out)

    def combo_sizes(self) -> range:
        hi = self.max_combo_size or len(self.agg_cols)
        return range(1, hi + 1)


# The reference's own Play-Store workload, verbatim knobs
# (main.py:88-103, 106-115, 77-84, 118) — used by fidelity tests.
PLAYSTORE_CONFIG = InsightsConfig(
    agg_cols=(
        "developerId",
        "free",
        "genreId",
        "minInstalls",
        "offersIAP",
        "originalPrice",
        "price",
        "ratings",
        "len screenshots",
        "adSupported",
        "containsAds",
        "reviews",
        "score",
        "releasedYear",
    ),
    bucket_sizes={
        "minInstalls": 1_000_000,
        "originalPrice": 100,
        "price": 100,
        "ratings": 1_000_000,
        "len screenshots": 5,
        "reviews": 1_000_000,
        "score": 1,
        "releasedYear": 5,
    },
    id_to_value={
        "developerId": ("developer", "developerWebsite"),
        "genreId": ("genre",),
    },
    range_filters={"ratings": (0, 100), "releasedYear": (1971, 2023)},
    int_cast_cols=(
        "minInstalls",
        "originalPrice",
        "price",
        "ratings",
        "len screenshots",
        "reviews",
        "score",
        "releasedYear",
    ),
    threshold_percent=2.0,
)
