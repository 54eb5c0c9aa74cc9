"""The `load` verb: projection → typed cast → surrogate key → atomic sink.

Mirrors the reference's save flow (SURVEY.md §3.2): column selection
(backend/index.js:167,:223), type mapping (:167-171), smart-id injection
(:174-182), exists-check → error (:153-160), transactional batched insert
(:186-236,:249-273).

Atomicity: Spark has no cross-partition transaction (SURVEY.md §7.3 #3), so
the sink stages the whole write into a hidden directory and atomically
renames it into place — all-or-nothing like the reference's single
BEGIN/COMMIT, with the semantic difference documented here: concurrent
readers see old-or-new, never partial; concurrent *writers* are not
serialized by the engine.
"""

from __future__ import annotations

import os
import re
import shutil
import uuid

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from omnidata_etl_spark.ingest.readers import empty_to_null
from omnidata_etl_spark.ingest.types import map_user_type


class TableExistsError(RuntimeError):
    """Target exists and mode='error' (reference HTTP 409, R13)."""


def sanitize_identifier(name: str) -> str:
    """Strip [^a-zA-Z0-9_] and lowercase (backend/index.js:146)."""
    return re.sub(r"[^a-zA-Z0-9_]", "", name or "").lower()


def has_id_column(df: DataFrame) -> bool:
    return any(c.lower() == "id" for c in df.columns)


def add_surrogate_key(
    df: DataFrame,
    order_by: list[str] | None = None,
    as_long: bool = False,
) -> DataFrame:
    """Inject a dense 1..N `id` iff no case-insensitive `id` exists (R12,
    reference `backend/index.js:174-182` — `id SERIAL` when absent).

    `id` is the row's position in `ORDER BY order_by` (default: all
    columns, stable for deduplicated loads), computed as a local row
    number within sorted partitions, never a global `Window.orderBy`
    (that form moves every row to one partition whatever the input size —
    the single-node sort WindowExec itself warns about). Which path runs
    is read off the input's physical plan, without a job:

    * The input already arrives in one partition (a plan with no
      exchange over a file no bigger than one scan split, about 1 MB on a
      multi-core host under the engine's 1 MB `openCostInBytes`): the
      rows are sorted in that partition and `id` IS the local row number.
      Nothing that ran in parallel before is serialized, and there is no
      exchange, sample job, persist or offsets join.
    * Any other input: range-partition on the ordering key into one
      partition per core (partition i's keys all sort before partition
      i+1's), sort each partition in parallel, and add per-partition
      row-count offsets (one row per partition, broadcast). The ranged
      frame is persisted for its two consumers; `load` unpersists it
      after its write.

    For a unique ordering key both paths give every row its position in
    the total order, so ids do not depend on the path. Ties get an
    arbitrary-but-dense assignment — the same nondeterminism any ORDER BY
    with ties has. `id` stays int for reference `SERIAL` parity; past
    INT_MAX the projection raises an explicit error (never wraps).
    `as_long=True` is the BIGSERIAL opt-in: long ids, no INT_MAX guard
    (for consumers whose row space legitimately exceeds 2.1B, e.g.
    etl_global_shuffle positions at corpus scale).
    """
    return _keyed(df, order_by, as_long)[0]


def _input_partitions(df: DataFrame) -> int:
    """Partitions ``df``'s physical plan yields, read off its RDD without
    running a job; 0 when the plan holds an exchange (adaptive or not),
    whose partition count is only known once its stages run."""
    plan = df._jdf.queryExecution().executedPlan()
    nodes = [plan]
    while nodes:
        node = nodes.pop()
        name = node.nodeName()
        if name == "AdaptiveSparkPlan" or "Exchange" in name:
            return 0
        kids = node.children()
        nodes.extend(kids.apply(i) for i in range(kids.size()))
    return plan.execute().getNumPartitions()


def _keyed(
    df: DataFrame, order_by: list[str] | None, as_long: bool
) -> tuple[DataFrame, DataFrame | None]:
    """(add_surrogate_key's result, its scratch frame): the persisted ranged
    frame both id branches read on the range-partitioned path, returned so
    load() can unpersist it once its write has run. The scratch is None
    when ``df`` already has an id or arrives in one partition."""
    if has_id_column(df):
        return df, None
    ocols = [F.col(c) for c in order_by or df.columns]
    single = _input_partitions(df) == 1
    if single:
        # no exchange; the coalesce is free here and keeps the ids right
        # should the scan re-plan into more splits when it executes
        ranged = df.coalesce(1)
    else:
        from omnidata_etl_spark.session import default_parallelism

        ranged = df.repartitionByRange(default_parallelism(), *ocols)
    # Local row number WITHOUT a Window: a Window.partitionBy(pid) would
    # demand hashpartitioning(pid) — a second full-data shuffle Catalyst
    # can't elide even though each partition already holds exactly one pid.
    # monotonically_increasing_id() is documented (its API doc + source) as
    # partition id in the upper bits and the consecutive-from-0 record
    # number within the partition in the low 33 bits; masked, it IS the
    # local row number over the sorted stream (the id is nondeterministic-
    # tagged, so Catalyst never reorders it across the sort below it).
    numbered = ranged.sortWithinPartitions(*ocols).withColumn(
        "_sk_rn",
        F.monotonically_increasing_id().bitwiseAND(F.lit((1 << 33) - 1)) + 1,
    )
    scratch = None
    if single:
        pos = F.col("_sk_rn")
    else:
        # Two consumers below; ReusedExchange cannot dedupe a broadcast-side
        # subtree, so without the cache the offsets branch would re-run the
        # range shuffle. load() unpersists after its sink write; other
        # callers inherit the session-scoped cache lifetime.
        numbered = numbered.withColumn("_sk_pid", F.spark_partition_id())
        scratch = numbered = numbered.persist()
        # Per-partition offsets: one row per partition — the single-
        # partition prefix-sum window over them is trivial at any scale.
        offsets = (
            numbered.groupBy("_sk_pid")
            .agg(F.count(F.lit(1)).alias("_sk_n"))
            .withColumn(
                "_sk_off",
                F.coalesce(
                    F.sum("_sk_n").over(
                        Window.orderBy("_sk_pid").rowsBetween(
                            Window.unboundedPreceding, -1
                        )
                    ),
                    F.lit(0).cast("long"),
                ),
            )
            .select("_sk_pid", "_sk_off")
        )
        numbered = numbered.join(F.broadcast(offsets), "_sk_pid")
        pos = F.col("_sk_rn") + F.col("_sk_off")
    # id arithmetic stays in LONG; the default int cast is guarded with an
    # explicit, actionable error: a >2^31-row load must not wrap (or die in
    # an opaque ANSI overflow) — SERIAL parity caps at INT_MAX by design,
    # and bigger loads opt into BIGSERIAL via as_long (r5 ADVICE on the
    # silent-wrap hazard).
    id_expr = (
        pos
        if as_long
        else F.when(
            pos > 2147483647,
            F.raise_error(
                F.lit(
                    "surrogate_key: row number exceeds INT_MAX (SERIAL "
                    "parity); use BIGSERIAL semantics upstream for "
                    ">2.1B-row loads"
                )
            ),
        ).otherwise(pos.cast("int"))
    )
    out = numbered.withColumn("id", id_expr).drop("_sk_pid", "_sk_rn", "_sk_off")
    return out, scratch


def apply_types(df: DataFrame, types: dict[str, str] | None) -> DataFrame:
    """ANSI (strict) casts from user-declared SQL type strings (R7)."""
    if not types:
        return df
    cols = []
    for c in df.columns:
        if c in types:
            cols.append(F.col(c).cast(map_user_type(types[c])).alias(c))
        else:
            cols.append(F.col(c))
    return df.select(*cols)


def load(
    df: DataFrame,
    table_name: str,
    *,
    warehouse: str,
    columns: list[str] | None = None,
    types: dict[str, str] | None = None,
    mode: str = "error",
    surrogate_key: bool = True,
    order_by: list[str] | None = None,
) -> str:
    """Project → normalize → cast → key → atomically sink as parquet.

    Returns the final table path. mode: 'error' (reference default, R13) or
    'overwrite'. The staged write + rename gives reference-style
    all-or-nothing loads (R15).
    """
    name = sanitize_identifier(table_name)
    if not name:
        raise ValueError("table name sanitized to empty string")
    target = os.path.join(warehouse, name)
    if os.path.exists(target) and mode == "error":
        raise TableExistsError(f"table {name!r} already exists")

    out = df.select(*columns) if columns else df
    out = empty_to_null(out)
    out = apply_types(out, types)
    scratch = None
    if surrogate_key:
        out, scratch = _keyed(out, order_by, False)

    staging = os.path.join(warehouse, f".{name}.staging-{uuid.uuid4().hex}")
    try:
        out.write.mode("overwrite").parquet(staging)  # executes the plan
    finally:
        if scratch is not None:  # surrogate-key scratch frame: one-shot here
            scratch.unpersist()
    if os.path.exists(target):
        if mode == "error":  # re-check: lost race
            shutil.rmtree(staging, ignore_errors=True)
            raise TableExistsError(f"table {name!r} already exists")
        old = target + f".old-{uuid.uuid4().hex}"
        os.rename(target, old)
        os.rename(staging, target)
        shutil.rmtree(old, ignore_errors=True)
    else:
        os.rename(staging, target)
    return target


def write_jdbc(
    df: DataFrame,
    url: str,
    table: str,
    *,
    mode: str = "error",
    batchsize: int = 1000,
    **options: str,
) -> None:
    """JDBC sink with the reference's batch size (1000-row INSERT batches,
    backend/index.js:188,:226). Per-partition transactions only — true
    cross-partition atomicity needs the staging pattern of :func:`load`.
    Extra ``options`` pass through to the JDBC writer (e.g. ``driver`` for
    drivers not registered with java.sql.DriverManager's service loader —
    exercised live in tests/test_jdbc.py)."""
    writer = (
        df.write.format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .option("batchsize", str(batchsize))
    )
    for k, v in options.items():
        writer = writer.option(k, v)
    writer.mode(mode).save()
