"""Temporal feature operators (SURVEY.md §2.8 F1-F7, §2.11 U1).

The reference derives time-of-day / weekday / season features with
row-at-a-time Python UDFs (code/eda/project_eda.py:304-328) — each one
forces JVM<->Python row pickling and blocks whole-stage codegen. All three
are pure branching on integers, so here they are native ``when`` chains:
codegen-able, pushdown-friendly, zero Python round trips.

Semantics note (SURVEY.md §7 "hard parts"): the reference's `_is_weekday`
treats Sunday(1)/Saturday(7) as weekend — its markdown *says* Friday counts
as weekend but the code disagrees (code/eda/project_eda.py:296,313-317).
We implement the code's behavior.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# 8-way hour bucketing, mirroring the reference's when-chain shape
# (code/eda/project_eda.py:692-701: 3-hour slots).
_TIME_SLOTS = [
    (0, "late_night"),
    (3, "early_morning"),
    (6, "morning"),
    (9, "late_morning"),
    (12, "afternoon"),
    (15, "late_afternoon"),
    (18, "evening"),
    (21, "night"),
]


def time_slot(hour_col: Column) -> Column:
    """U1 `time_of_day_mapping` as a native when-chain (F7).

    Branches are evaluated highest-threshold first, so each `when` only
    fires for hours below every earlier threshold.
    """
    expr = None
    for start, label in reversed(_TIME_SLOTS[1:]):  # descending thresholds
        expr = F.when(hour_col >= start, label) if expr is None else expr.when(
            hour_col >= start, label
        )
    return expr.otherwise(_TIME_SLOTS[0][1])


def day_type(dow_col: Column) -> Column:
    """U1 `_is_weekday`: Sunday=1 / Saturday=7 are weekend (Spark dayofweek
    semantics, matching the reference's code not its markdown)."""
    return F.when(dow_col.isin(1, 7), "weekend").otherwise("weekday")


def season(month_col: Column) -> Column:
    """U1 `get_season`: meteorological seasons."""
    return (
        F.when(month_col.isin(12, 1, 2), "winter")
        .when(month_col.isin(3, 4, 5), "spring")
        .when(month_col.isin(6, 7, 8), "summer")
        .otherwise("fall")
    )
