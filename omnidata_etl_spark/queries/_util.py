"""Determinism helpers shared by the declared queries.

Float hash-parity with DuckDB is the #1 risk (SURVEY.md §7.3). Rules applied
throughout:

  * Money aggregates: cast each row's expression to DECIMAL(18,2) *before*
    SUM. Decimal addition is exact, so the result is independent of Spark's
    (and DuckDB's) partition/summation order; a double SUM would not be.
    The final value is cast to DOUBLE on both sides (a decimal with scale 2
    converts to the same double bit pattern everywhere).
  * Averages: exact decimal SUM cast to double, divided by COUNT in double —
    identical double division on identical inputs on both engines. Never
    AVG(decimal) (Spark yields decimal(.,6), DuckDB yields double: different
    rounding points).
  * Raw column values (no arithmetic) pass through untouched — bit-identical
    in parquet on both engines.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from omnidata_etl_spark.catalog import scan_splits
from omnidata_etl_spark.session import default_parallelism, state

DEC = "decimal(18,2)"


def local_df(spark, rows, schema: str) -> DataFrame:
    """Small driver-side result set as an Arrow-backed local DataFrame.

    ``spark.createDataFrame(list_of_tuples)`` ships rows through RDD
    parallelize + per-row pickling and every later materialization pays a
    full job over those partitions — measured ~290ms per toPandas() for a
    ONE-ROW frame (r3 profiling). Routing the same rows through a pandas
    frame takes the Arrow fast path into a LocalRelation (~40ms), a plain
    local scan with no job. Self-check/summary queries that end in a tiny
    driver-built result use this instead of createDataFrame(list).

    ``schema`` is the usual DDL string; Spark casts/validates against it
    exactly as in the list form. Empty ``rows`` falls back to the plain
    path (Arrow conversion of a columnless pandas frame is finicky).
    """
    if not rows or any(v is None for row in rows for v in row):
        # Empty rows: Arrow conversion of a columnless pandas frame is
        # finicky. None cells: pandas would coerce a numeric column with
        # None to float64 NaN, which errors (or silently changes
        # semantics) against a long-typed schema column, while the list
        # path yields a clean NULL — so fall back whenever a None appears
        # (r3 ADVICE; these frames are tiny, the slow path is fine).
        return spark.createDataFrame(rows, schema)
    import pandas as pd

    # top-level comma split: parameterized types (decimal(18,2),
    # array<struct<...>>) carry nested commas a bare split would shred
    names, depth, start = [], 0, 0
    for i, ch in enumerate(schema + ","):
        if ch in "(<":
            depth += 1
        elif ch in ")>":
            depth -= 1
        elif ch == "," and depth == 0:
            names.append(schema[start:i].strip().split()[0])
            start = i + 1
    return spark.createDataFrame(
        pd.DataFrame(list(rows), columns=names), schema
    )


def spread(df: DataFrame) -> DataFrame:
    """Fan a too-narrow scan out to all cores before CPU-heavy per-row work.

    The local testdata tables are single-file / single-row-group parquet, so
    a scan yields ONE input partition and expression-heavy map stages
    (shingle hashing, per-token explodes) run on one core of 32 (measured:
    text_decontaminate 1.95s → 0.9s at sf0.1 with this). The round-robin
    repartition moves the small input bytes once and buys full parallelism
    for the expensive stage. Conditional on observed scan parallelism: on a
    real multi-file corpus the scan is already wide and this is a no-op plan
    (no shuffle inserted) — AQE cannot do this adaptively because it only
    coalesces shuffle outputs, never splits a too-coarse scan, and a
    single-row-group file is unsplittable by maxPartitionBytes.

    The width probe is metadata-only: ``inputFiles()`` (the plan's file
    listing, no job), counted by catalog.scan_splits, which reads a catalog
    mirror's row-group count from its file name. Never
    `df.rdd.getNumPartitions()` — that materializes an RDD lineage through
    py4j on every query build (r2 ADVICE: a measurable slice of the
    per-query overhead floor).
    """
    target = default_parallelism()
    try:
        splits = scan_splits(df.inputFiles())
    except Exception:
        splits = 1
    if splits >= target:
        return df
    return df.repartition(target)


def dec2(col: str | Column) -> Column:
    """Exact decimal view of a 2dp-generated money column.

    Only ever applied to RAW columns whose generated values are exact 2dp
    decimals (l_extendedprice, l_discount, o_totalprice, events.value, ...):
    for those the nearest-double is within 1e-13 of the true decimal, so both
    engines land on the same DECIMAL regardless of their double→decimal
    rounding mode. Never cast a *computed* double to decimal — the two
    engines disagree on half-cent boundaries (observed on sum_disc_price).
    """
    c = F.col(col) if isinstance(col, str) else col
    return c.cast(DEC)


def dsum(expr: Column) -> Column:
    """Order-independent money sum: SUM(CAST(expr AS DECIMAL(18,2)))::DOUBLE.

    Safe only when `expr` is a raw 2dp column (see dec2). For derived money
    expressions, build the expression from dec2() inputs so the arithmetic
    itself is decimal, then F.sum(...).cast('double') directly.
    """
    return F.sum(expr.cast(DEC)).cast("double")


def cents(col: str | Column, scale: int = 2) -> Column:
    """Exact scaled-integer (units of 10^-scale) view of a raw 2dp column.

    The int64 fast path for money aggregation — the same representation
    DuckDB uses internally for DECIMAL (int64-scaled), re-created on Spark:
    `round(x*100)::long` recovers the exact generated 2dp value from its
    nearest-double (HALF_UP absorbs the ≤1e-13 double error, see dec2), and
    long addition stays inside whole-stage codegen's primitive loop, where
    decimal sums promote to a BigDecimal-backed buffer (sum(decimal(18,2))
    → decimal(28,2) > Decimal.MAX_LONG_DIGITS). Measured on the sf0.1
    pricing summary: 886ms (decimal) → 434ms (cents) fresh-built.

    Exactness at scale: int64 overflows past ~9e9 rows/group at max-price
    cents products; under ANSI that RAISES (fail-safe), and groups that
    large should use the decimal path (dsum) instead. Cross-engine
    bit-parity of the final double holds while the group total stays under
    2^53 units (the driver's sf0.01 check is ~3 orders of magnitude below
    that); past it, both paths remain correctly-rounded-to-1-ulp doubles.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.round(c * (10**scale)).cast("long")


def csum(col: str | Column) -> Column:
    """Order-independent money sum on the int64 fast path → DOUBLE.

    Value-identical to dsum (both emit the correctly-rounded double of the
    same exact total — parity asserted against the unchanged DECIMAL oracle
    SQL in tests/test_parity.py and scripts/verify_driver.py)."""
    return F.sum(cents(col)) / F.lit(100.0)


def rev_units(price: str | Column = "l_extendedprice",
              disc: str | Column = "l_discount") -> Column:
    """Per-row revenue price*(1-disc) as exact int64 units of 1e-4.

    Building block for the TPC-H revenue sums: SUM(rev_units())/1e4 equals
    SUM(DECIMAL(18,2)price * (1-DECIMAL(18,2)disc))::DOUBLE exactly (same
    rational total, one correctly-rounded double conversion each)."""
    return cents(price) * (100 - cents(disc))


def crevsum(price: str | Column = "l_extendedprice",
            disc: str | Column = "l_discount") -> Column:
    """SUM(price*(1-disc)) on the int64 fast path → DOUBLE (see rev_units)."""
    return F.sum(rev_units(price, disc)) / F.lit(10000.0)


def davg(expr: Column, count: Column | None = None) -> Column:
    """Deterministic average of a money expression (see module doc).

    Unrounded: exact decimal SUM → double ÷ COUNT is bit-identical across
    engines, while ROUND(double, n) is not (Spark rounds the shortest decimal
    repr, DuckDB the exact binary)."""
    n = count if count is not None else F.count(expr)
    return F.sum(expr.cast(DEC)).cast("double") / n


def pin(spark, key: tuple, build) -> DataFrame:
    """The engine's one way to share an intermediate within a session.

    Materializes ``build()`` once per (session, key), at the first build,
    and hands every later build the same frame, so repeat builds fire no
    Spark job. ``key = (kind, sf_dir, fingerprint, ...)``: the fingerprint
    (catalog.table_fingerprint) changes when a source table is
    regenerated, and the pin of the same (kind, sf_dir) it supersedes is
    released, its blocks freed.

    On a local master the frame is ``localCheckpoint(eager=True)``ed: the
    blocks live outside the SQL cache manager, so a long-lived session's
    ``clearCache()`` cannot evict them (r10: persist-backed memos re-ran
    their full build after every bench clearCache). Those blocks are
    unreplicated and truncate lineage, so on executor loss there is no
    recompute path; that is only sound where block loss means the whole
    app died. Any other master gets ``persist(MEMORY_AND_DISK)`` plus a
    count: lineage-backed, and re-persisted here if clearCache() evicted it.

    A frame ``build()`` persists internally is the build's own business: it
    is not tracked, and an identical plan's persist is a cache hit."""
    pins = state(spark).pins
    hit = pins.get(key)
    if hit is not None:
        df, local = hit
        if not local and df.storageLevel == StorageLevel.NONE:
            df.persist(StorageLevel.MEMORY_AND_DISK).count()
        return df
    for old in [k for k in pins if k[:2] == key[:2]]:
        df, local = pins.pop(old)
        if local:  # DataFrame.unpersist() leaves checkpoint blocks alone
            df._jdf.queryExecution().logical().rdd().unpersist(True)
        else:
            df.unpersist()
    local = spark.sparkContext.master.startswith("local")
    if local:
        df = build().localCheckpoint(eager=True)
    else:
        df = build().persist(StorageLevel.MEMORY_AND_DISK)
        df.count()
    pins[key] = (df, local)
    return df
