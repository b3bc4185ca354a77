"""Plan inspection & audit utilities (SURVEY.md §4): the engine never
writes custom Catalyst rules — this package is for *verifying* that
Catalyst produced the plans the 100 TB posture requires."""

from noaa_etl_spark.plans.audit import (
    assert_plan,
    formatted_plan,
    has_broadcast_join,
    has_pushed_filters,
    scan_read_schema,
)

__all__ = [
    "formatted_plan",
    "assert_plan",
    "has_broadcast_join",
    "has_pushed_filters",
    "scan_read_schema",
]
