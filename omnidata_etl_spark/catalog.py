"""Test-table catalog: the driver's parquet star schema (TESTDATA.md).

Tables: region nation customer supplier part orders lineitem events documents
embeddings — one parquet per table under an ``sf_dir``. Parquet scans get
predicate pushdown / column pruning / vectorized reads from Catalyst for free
(SURVEY.md §4).
"""

from __future__ import annotations

import glob
import hashlib
import math
import os
import threading
from urllib.parse import urlparse

from pyspark.sql import DataFrame, DataFrameReader, SparkSession
from pyspark.sql.types import StructType

from omnidata_etl_spark.session import default_parallelism, ensure_tuned, state

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


# --- storage-layout optimizer -------------------------------------------------
#
# The driver's generated tables are ONE parquet file with ONE row group each
# (sf0.1 lineitem: 600k rows, 1 row group). Spark's scan split granularity is
# the row group, so every scan of such a file is a single task on one core of
# 32 — the dominant term in the local bench floor (measured: filter_numeric
# 184ms exec, ~150ms of it a 1-core scan DuckDB intra-row-group-parallelizes).
# A cluster never sees this shape: 100 TB arrives as thousands of files with
# 128 MB row groups, written by the engine's own sinks. The catalog therefore
# OWNS its local storage layout the way Delta's OPTIMIZE does: an unsplittable
# input file is transparently mirrored once into a multi-row-group twin (same
# rows, same schema, same values — pyarrow round-trip, pinned by
# tests/test_smoke.py::test_mirror_parity) under /tmp, keyed by the source's
# (mtime, size) so a regenerated table invalidates its mirror. The oracle
# (DuckDB) keeps reading the original file. Opt out: OMNIDATA_NO_MIRROR=1.
_MIRROR_ROOT = os.environ.get("OMNIDATA_MIRROR_DIR", "/tmp/omnidata_mirror")
_MIN_MIRROR_ROWS = 50_000  # below this a 1-task scan is already ~free
_MIN_GROUP_ROWS = 8_192  # don't shred into groups too small to scan well
# Wide-row SMALL tables (documents: 5k rows / 594 KB disk / 1.6 MB unc,
# embeddings: 2k rows / 798 KB) deliberately do NOT mirror — settled by
# r12 measurement, closing the r11 byte-threshold question (VERDICT r11
# #1). Two facts:
#   1. A single file below `spark.sql.files.openCostInBytes` can never
#      scan as more than one task whatever its row-group count
#      (maxSplitBytes = min(maxPartitionBytes, max(openCost, bytesPerCore))
#      is floored at openCost = 1 MB here), so the r11 plan — fix the 4 MB
#      byte threshold so documents mirrors into 32 row groups — could not
#      have removed the spread() exchange even once the threshold fired.
#      The only mechanism that fans such a table out at the scan is a
#      DIRECTORY of single-group part files.
#   2. The directory mirror was implemented (commit a1d5948) and A/B'd
#      same-session, mirror vs OMNIDATA_NO_MIRROR, noop sink, min of 4
#      (OPTIMIZATION_r12.md item 1): it LOSES on most consumers —
#      binary_stats −63 ms, curriculum −62, similarity_cosine −34,
#      ann_pq −34, udtf_chunk −20, decontaminate −15, decode_stats −14,
#      vs wins of +38 (audio_stats) and +20 (scene_cut) only. 32 micro-file
#      scan tasks cost more than the 1-task scan plus the ~1.6 MB
#      round-robin exchange they replace (trivial-op decomposition:
#      1-task scan 0.31 s, +spread 0.57 s, 32-file mirror 0.50 s).
# At the 100 TB design point both shapes vanish: a real corpus arrives as
# thousands of files, the scan is already wide, and spread() no-ops.


def _splittable_path(sf_dir: str, name: str) -> str:
    """Path to scan for a catalog table.

    Returns the original path untouched for directory-style (already
    multi-file) tables, small tables, and already-chunked files; otherwise
    the lazily-built multi-row-group mirror, whose file name ends in its
    row-group count (see scan_splits).
    """
    src = os.path.join(sf_dir, f"{name}.parquet")
    if os.path.isdir(src) or os.environ.get("OMNIDATA_NO_MIRROR"):
        return src
    try:
        import pyarrow.parquet as pq

        meta = pq.ParquetFile(src).metadata
        rows, groups = meta.num_rows, meta.num_row_groups
    except Exception:
        return src
    cores = default_parallelism()
    target = min(cores, max(1, rows // _MIN_GROUP_ROWS))
    if rows < _MIN_MIRROR_ROWS or groups >= max(2, target // 2):
        return src
    st = os.stat(src)
    key = hashlib.md5(os.path.abspath(src).encode()).hexdigest()[:12]
    mdir = os.path.join(_MIRROR_ROOT, key)
    dst = os.path.join(
        mdir, f"{name}-{st.st_mtime_ns}-{st.st_size}-{target}.parquet"
    )
    if not os.path.exists(dst):
        try:
            import shutil

            os.makedirs(mdir, exist_ok=True)
            tbl = pq.read_table(src)
            tmp = f"{dst}.tmp{os.getpid()}"
            # version 2.6 preserves ns timestamps (events.ts) losslessly
            pq.write_table(
                tbl,
                tmp,
                row_group_size=math.ceil(rows / target),
                compression="snappy",
                version="2.6",
            )
            os.replace(tmp, dst)  # atomic vs a concurrent test session
            for stale in glob.glob(os.path.join(mdir, f"{name}-*.parquet")):
                if stale != dst:
                    try:
                        if os.path.isdir(stale):
                            # a directory mirror left by commit a1d5948
                            shutil.rmtree(stale, ignore_errors=True)
                        else:
                            os.remove(stale)
                    except OSError:
                        pass
        except Exception:  # pragma: no cover - mirror is an optimization only
            return src
    return dst


def scan_splits(files: list[str]) -> int:
    """Scan tasks a list of input files yields, from names alone: one per
    file, except that a catalog mirror counts as the row-group target
    _splittable_path wrote into its name (``<table>-<mtime>-<size>-
    <target>.parquet``)."""
    root = os.path.realpath(_MIRROR_ROOT)
    n = 0
    for f in files:
        path = urlparse(f).path
        if os.path.realpath(os.path.dirname(os.path.dirname(path))) == root:
            n += int(path.rsplit("-", 1)[1].removesuffix(".parquet"))
        else:
            n += 1
    return n


def _size_shuffle_partitions(spark: SparkSession, sf_dir: str) -> None:
    """Size `spark.sql.shuffle.partitions` AND the AQE advisory partition
    bytes from the catalog's input stats.

    Plan-time analog of AQE coalescing: the right reducer count is a
    function of the data — `total on-disk bytes × fileCompressionFactor ÷
    64 MB advisory` — floored at the core count (a CPU-heavy shuffle stage
    with fewer tasks than cores starves: measured +100-500ms on the
    hash-heavy dedup/text queries with an 8-partition floor on 32 cores,
    while the small-aggregate "win" of fewer tasks was a warm-up artifact
    that disappears at steady state) and capped at 2000. At bench scale
    this resolves to the core count; at cluster scale the byte term yields
    thousands, and AQE still coalesces/splits per-stage at runtime.

    The advisory bytes get the same treatment in the other direction: a
    static 64 MB advisory is the right *cluster* setting (per-task overhead
    amortizes over big partitions) but at local scale it lets AQE coalesce
    an entire 5-10 MB shuffle into 1-2 tasks, serializing CPU-heavy
    sort/window/join stages on a 32-core box. Sized as
    `clamp(est_bytes / (4 × cores), 1 MB, 64 MB)` — i.e. aim for ~4 waves
    of post-shuffle tasks when the whole input shuffles, hitting the 1 MB
    floor at bench scale (r4 interleaved A/B over 22 shuffle-heavy
    queries: 1 MB 4.60s vs 64 MB 5.03s, with q18/skew-salted/scd2 −30-50%)
    and the 64 MB cluster cap from ~8 GB of input upward. Runs once per
    (session, sf_dir): a deliberate later override by the user would be
    clobbered on the next table() call otherwise.
    """
    st = state(spark)
    if st.sized_for == sf_dir:
        return
    st.sized_for = sf_dir
    try:
        # Respect an explicit external setting (ADVICE r2): only replace the
        # stock default (200), ensure_tuned's core-count floor, or a value
        # this sizer itself wrote earlier for another sf_dir.
        cur = spark.conf.get("spark.sql.shuffle.partitions", "200")
        if cur not in {"200", str(default_parallelism()), st.sized_partitions}:
            return
    except Exception:  # pragma: no cover
        pass
    try:
        total = 0
        for f in glob.glob(os.path.join(sf_dir, "*.parquet")):
            if os.path.isdir(f):  # directory-style parquet (multi-part)
                for root, _, files in os.walk(f):
                    total += sum(
                        os.path.getsize(os.path.join(root, p)) for p in files
                    )
            else:
                total += os.path.getsize(f)
        est = total * 3  # uncompressed estimate, mirrors fileCompressionFactor
        n = max(default_parallelism(), min(2000, est // (64 << 20)))
        spark.conf.set("spark.sql.shuffle.partitions", str(n))
        st.sized_partitions = str(n)
        advisory = max(1 << 20, min(64 << 20, est // (4 * default_parallelism())))
        cur_adv = spark.conf.get(
            "spark.sql.adaptive.advisoryPartitionSizeInBytes", "67108864"
        )
        # same override discipline: only replace the stock default (64m,
        # also what ensure_tuned writes) or our own earlier sizing
        if cur_adv in {"64m", "67108864", str(64 << 20), st.sized_advisory}:
            spark.conf.set(
                "spark.sql.adaptive.advisoryPartitionSizeInBytes", str(advisory)
            )
            st.sized_advisory = str(advisory)
    except Exception:  # pragma: no cover - stats are an optimization only
        pass


def fingerprint(path: str) -> tuple:
    """Cheap version stamp of a file or directory: ``(mtime_ns, size,
    ctime_ns, inode)`` of a file, the sorted ``(name, *stamp)`` of a
    directory's files, ``()`` when the path cannot be stat()ed. stat()
    calls only, no data read. ctime and inode catch what mtime and size
    miss: a same-size rewrite whose mtime was set back (``cp -p``,
    ``rsync -a``, ``os.utime``) still moves ctime, which no user tool can
    set, and a file replaced by rename gets a new inode. Every memo that
    must not outlive a regenerated input carries it: pins, corpus counts,
    table handles and inferred schemas."""

    def stamp(s: os.stat_result) -> tuple:
        return (s.st_mtime_ns, s.st_size, s.st_ctime_ns, s.st_ino)

    try:
        if os.path.isdir(path):
            parts = []
            for root, _, files in os.walk(path):
                for p in files:
                    parts.append((p, *stamp(os.stat(os.path.join(root, p)))))
            return tuple(sorted(parts))
        return stamp(os.stat(path))
    except OSError:
        return ()


def table_fingerprint(sf_dir: str, name: str) -> tuple:
    """fingerprint() of a catalog table's source parquet."""
    return fingerprint(os.path.join(sf_dir, f"{name}.parquet"))


# Spark's inferred schema per file version, for the whole process: like
# Spark's own catalog it is shared by every session on the context.
# (absolute path, format, options, session conf) -> (fingerprint,
# StructType), in
# least-recently-used order and capped at _MAX_SCHEMAS entries, so a
# long-running driver that sees a new upload path per request holds at
# most that many schemas. Each entry is tagged with the fingerprint taken
# before its inference, so a lost race costs a repeat inference, never a
# stale schema.
_SCHEMAS: dict = {}
_SCHEMAS_LOCK = threading.Lock()
_MAX_SCHEMAS = 256
# Session conf that changes what Spark infers for the same bytes; its
# values are part of the memo key, so sessions that differ in any of them
# never share a schema.
_INFERENCE_CONF = (
    "spark.sql.caseSensitive",
    "spark.sql.timestampType",
    "spark.sql.columnNameOfCorruptRecord",
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
)


def read_inferred(
    spark: SparkSession,
    reader: DataFrameReader,
    fmt: str,
    path: str,
    options: tuple = (),
) -> DataFrame:
    """``reader.format(fmt).load(path)`` with Spark's inferred schema of
    ``path``, inferred once per file version.

    The first read of a file version is the inferring read itself (a CSV
    header read, a JSON or XML scan, a parquet footer job: one Spark job
    each), and its schema is memoized by (absolute path, ``fmt``,
    ``options``, the reader options that change inference such as the CSV
    separator, and ``spark``'s values of the _INFERENCE_CONF settings),
    tagged with the path's fingerprint(). A read that finds the same
    fingerprint passes the memo to ``.schema(...)``, so no inference job
    fires. A rewritten file's entry is replaced at its next read. The memo
    holds the _MAX_SCHEMAS (256) most recently read entries for the life
    of the process; older ones, such as those of deleted uploads, are
    dropped. A path that cannot be stat()ed (a glob, a remote URI) is
    inferred on every read.
    """
    reader = reader.format(fmt)
    conf = tuple(spark.conf.get(k, None) for k in _INFERENCE_CONF)
    key = (os.path.abspath(path), fmt, options, conf)
    stamp = fingerprint(path)
    with _SCHEMAS_LOCK:
        hit = _SCHEMAS.pop(key, None)
        if hit is not None:
            _SCHEMAS[key] = hit  # re-insert: most recently used
    if stamp and hit is not None and hit[0] == stamp:
        return reader.schema(hit[1]).load(path)
    df = reader.load(path)
    if stamp:
        with _SCHEMAS_LOCK:
            _SCHEMAS.pop(key, None)
            _SCHEMAS[key] = (stamp, df.schema)
            while len(_SCHEMAS) > _MAX_SCHEMAS:
                del _SCHEMAS[next(iter(_SCHEMAS))]
    return df


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one catalog table; also ensures engine conf on the session.

    events.ts arrives in whatever physical type the generator used: nanosecond
    parquet is illegal as a Spark timestamp, so it is read as a nanos long
    (`nanosAsLong`) and truncated to a µs timestamp here (integer `div`, never
    float division: ns epochs exceed 2^53); µs parquet arrives as
    TIMESTAMP_NTZ and is normalized to session-time TIMESTAMP (a value-level
    no-op under the engine's pinned UTC session zone) so downstream epoch
    arithmetic (`cast(ts as double)`) stays legal under ANSI.
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    ensure_tuned(spark)
    _size_shuffle_partitions(spark, sf_dir)
    # DataFrame *handles* (logical plans, not data) live in the session
    # state, so the cache's lifetime IS the session's. The source's
    # fingerprint is part of the key: a regenerated table gets a fresh
    # handle (over a fresh listing) and its superseded one is dropped.
    # Handles open through the process-wide schema memo, so a new
    # session's first open of an unchanged table fires no job.
    handles = state(spark).tables
    key = (sf_dir, name, table_fingerprint(sf_dir, name))
    cached = handles.get(key)
    if cached is not None:
        return cached
    for old in [k for k in handles if k[:2] == key[:2]]:
        del handles[old]
    path = _splittable_path(sf_dir, name)
    df = read_inferred(spark, spark.read, "parquet", path)
    if name == "events":
        from pyspark.sql import functions as F
        from pyspark.sql import types as T

        if isinstance(df.schema["ts"].dataType, T.LongType):
            df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
        elif isinstance(df.schema["ts"].dataType, T.TimestampNTZType):
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    handles[key] = df
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every catalog table as a temp view (for SQL-form queries)."""
    for name in TABLES:
        table(spark, sf_dir, name).createOrReplaceTempView(name)
