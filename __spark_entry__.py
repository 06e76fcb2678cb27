"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship query at sf0.001; ``queries()`` /
``oracle_sql()`` expose one entry per implemented operator (see
victorialogs_spark/driver_entry.py for the registry, and SURVEY.md §2 for
the coverage checklist).
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

FLAGSHIP = (
    "_time:[2024-01-01, 2024-02-01) event_type:error"
    " | stats by (event_type) count() as hits, avg(value) as av"
    " | sort by (hits) desc | limit 10"
)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    from victorialogs_spark.api import run_query
    from victorialogs_spark.schema import events_as_logs

    logs = events_as_logs(spark, "/root/testdata/sf0.001")
    return run_query(spark, logs, FLAGSHIP)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from victorialogs_spark.driver_entry import QUERIES

    return dict(QUERIES)


def oracle_sql(sf_dir: str | None = None) -> dict[str, str]:
    """DuckDB SQL per entry; the block-metadata entries read the events
    file of ``sf_dir`` (default: $SPARK_GRAFT_ORACLE_SF_DIR, else sf0.01)."""
    from victorialogs_spark.driver_entry import EVENTS_PQ, ORACLE

    sf_dir = sf_dir or os.environ.get(
        "SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01"
    )
    pq = f"{sf_dir}/events.parquet"
    return {k: v.replace(EVENTS_PQ, pq) for k, v in ORACLE.items()}
