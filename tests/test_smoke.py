"""Smoke: the driver contract module loads, entry() returns rows, and every
rows-only query executes with a stable schema."""

from __future__ import annotations

import pytest

import __spark_entry__ as contract
from omnidata_etl_spark.registry import all_specs

_SPECS = all_specs()
_ROWS_ONLY = sorted(n for n, s in _SPECS.items() if s.oracle is None)


def test_entry_returns_rows(spark):
    df = contract.entry(spark)
    assert len(df.columns) > 0
    assert df.count() > 0


def test_contract_shape():
    qs = contract.queries()
    oracles = contract.oracle_sql()
    assert set(oracles) <= set(qs)
    assert len(qs) >= 40


@pytest.mark.parametrize("name", _ROWS_ONLY)
def test_rows_only_queries_run(spark, sf_dir, name):
    df = _SPECS[name].fn(spark, sf_dir)
    assert df.columns  # stable, non-empty schema
    assert df.count() >= 0


def test_mirror_parity(spark):
    """The layout mirror (catalog._splittable_path) must be value-invisible.

    Forces a mirror of the largest sf0.01 table and checks the mirrored scan
    is row- and value-identical to a direct scan of the original file, and
    actually splittable (>1 row group)."""
    import pyarrow.parquet as pq

    from omnidata_etl_spark import catalog

    sf = "/root/testdata/sf0.01"
    path = catalog._splittable_path(sf, "lineitem")
    assert path != f"{sf}/lineitem.parquet", "60k-row table should mirror"
    assert pq.ParquetFile(path).metadata.num_row_groups > 1
    assert catalog.scan_splits([path]) > 1
    mirrored = spark.read.parquet(path)
    direct = spark.read.parquet(f"{sf}/lineitem.parquet")
    assert mirrored.schema == direct.schema
    assert mirrored.count() == direct.count()
    # order-independent full-content fingerprint
    from pyspark.sql import functions as F

    def fp(df):
        cols = [F.col(c).cast("string") for c in df.columns]
        return df.select(
            F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("h"),
            F.count(F.lit(1)).alias("n"),
        ).collect()[0]

    assert fp(mirrored) == fp(direct)


def test_local_df_handles_parameterized_types(spark):
    """local_df's top-level schema split must survive nested commas in
    parameterized types (decimal(18,2), array<struct<...>>) — a bare
    split-on-comma shredded the column-name list (r3 review fix)."""
    from decimal import Decimal

    from omnidata_etl_spark.queries._util import local_df

    df = local_df(
        spark,
        [(1, Decimal("2.50"), [3, 4])],
        "a bigint, b decimal(18,2), c array<bigint>",
    )
    row = df.collect()[0]
    assert row["a"] == 1
    assert row["b"] == Decimal("2.50")
    assert list(row["c"]) == [3, 4]
    assert df.columns == ["a", "b", "c"]


def test_catalog_sizes_advisory_from_input(spark, sf_dir):
    """The catalog sizer derives the AQE advisory partition bytes from
    input stats: at bench scale it must land on the 1MB floor (so small
    shuffles still fan out across cores), and the shuffle partition count
    on the core floor."""
    from omnidata_etl_spark.catalog import table
    from omnidata_etl_spark.session import default_parallelism

    table(spark, sf_dir, "lineitem")  # triggers the sizer
    adv = int(spark.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes"))
    assert adv == 1 << 20  # sf<=0.1 inputs sit on the floor
    assert int(spark.conf.get("spark.sql.shuffle.partitions")) == (
        default_parallelism()
    )

