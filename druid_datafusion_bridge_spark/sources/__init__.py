"""Druid v9 segment data source (SURVEY.md §7 Phase D — the reference's core).

Pure-Python port of the reference's binary decode layer (reference
src/segment/*.rs + src/column/*.rs, ~1,500 LoC of Rust), exposed to
Spark through the Python DataSource API (Spark 4) so real Druid segment
directories can be queried as DataFrames.

Improvements over the reference scan (src/datafusion_ext/execution_plan.rs:42):
segments packed into at most one InputPartition per usable core instead of
a single partition, projection pruning honored at decode time, and segment-level time-interval pruning via
the `time_lower_ms`/`time_upper_ms` options — the reference parses the
interval (metadata.rs:22-23) but never uses it to skip IO.

Also includes a segment *writer* so tests can round-trip (the reference's
own build-then-parse test style, generic_indexed.rs:258-299) without the
5 MB wikipedia fixture blob that is absent from the snapshot.
"""

from .segment import DruidSegment, write_segment  # noqa: F401
from .datasource import DruidSegmentDataSource, register_druid_datasource  # noqa: F401
from .ingest import compact_segments, write_druid_segments  # noqa: F401
