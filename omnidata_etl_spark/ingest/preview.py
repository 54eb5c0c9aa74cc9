"""The `preview` verb: first-n rows + headers (reference R5).

Reference: 10-row preview with limit pushed into every source (Excel
`sheetRows:10` backend/index.js:96, text stop-after-11-lines :102-103,
Access `SELECT TOP 10` :72,:92). Spark's CollectLimit + source limit
pushdown give the same stop-early read declaratively, once the schema is
known: the first read of a JSON or XML file version scans it whole to
infer the schema, and every later read reuses the memoized schema
(readers.py), so a preview is then one limit job.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from omnidata_etl_spark.ingest.readers import read_any


def preview(
    spark: SparkSession, path: str, n: int = 10, fmt: str | None = None
) -> dict:
    """Return {headers, preview} like the reference's /upload response
    (backend/index.js:120-130), with rows as header-keyed dicts."""
    df = read_any(spark, path, fmt=fmt)
    rows = df.limit(n).collect()
    return {
        "headers": df.columns,
        "preview": [row.asDict() for row in rows],
    }
