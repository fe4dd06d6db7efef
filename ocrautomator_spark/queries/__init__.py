"""Driver-checked operator surface (SURVEY.md §2B + training-data pipeline ops).

Each family module registers its queries through ``common.q`` into the one
QUERIES (name → fn(spark, sf_dir) → DataFrame) and ORACLES (name → ANSI SQL
for DuckDB over the same parquet views) re-exported here. Names are
aligned column-for-column: every computed column is aliased identically on
both sides because the driver's compare hashes values after sorting columns
by name.

Numeric discipline (load-bearing for the value-hash gate): multi-row SUM/AVG
over doubles is computed as SUM(CAST(x AS DECIMAL(30,10))) then cast to
double — exact, order-independent, so Spark and DuckDB produce bit-identical
doubles regardless of partitioning. Timestamps in final projections are cast
to string on both sides.
"""

from __future__ import annotations

# Importing a family module registers its queries; this import order is the
# registry's iteration order.
from ocrautomator_spark.queries import (  # noqa: F401, I001
    relational,
    relational2,
    graph,
    scalars,
    windows,
    udfs,
    pipeline_ops,
    extraction,
    conversation_q,
    curation,
    events_analytics,
    corpus_ops,
    scale_demo,
)
from ocrautomator_spark.queries.common import ORACLES, QUERIES  # noqa: F401
