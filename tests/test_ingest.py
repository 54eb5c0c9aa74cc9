"""Ingestion-fixture tests (FIXTURES.md §B): every reference parse path.

Expected-result conventions from FIXTURES.md: identical (row_count,
header_list) across comma/tab/pipe/quoted after cleaning; nulls exactly where
cells were empty in people_sparse; people_badtypes raises; people_noid gains
a dense 1..N id, people_withid does not.
"""

from __future__ import annotations

import contextlib
import tempfile

import pytest

from omnidata_etl_spark.ingest import (
    TableExistsError,
    load,
    preview,
    read_any,
    sanitize_identifier,
    sniff_delimiter,
)
from omnidata_etl_spark.ingest.fixtures import (
    N_PEOPLE,
    PEOPLE_HEADERS,
    fixture_path,
)


def test_sniff_precedence():
    # tab > pipe > comma (/root/reference backend/index.js:107-109)
    assert sniff_delimiter("a\tb|c,d") == "\t"
    assert sniff_delimiter("a|b,c") == "|"
    assert sniff_delimiter("a,b") == ","


@pytest.mark.parametrize(
    "name",
    [
        "people_comma.csv",
        "people_tab.tsv",
        "people_pipe.md",
        "people_quoted.csv",
    ],
)
def test_formats_agree(spark, name):
    df = read_any(spark, fixture_path(name))
    assert tuple(df.columns) == PEOPLE_HEADERS
    rows = df.orderBy("person_id").collect()
    assert len(rows) == N_PEOPLE
    assert rows[0]["full_name"] == "Ada Lovelace"
    assert rows[0]["balance"] == "100.50"  # text-by-default (R7)


def test_blank_lines_skipped(spark):
    df = read_any(spark, fixture_path("people_blanklines.csv"))
    assert df.count() == N_PEOPLE


def test_sparse_nulls(spark):
    rows = (
        read_any(spark, fixture_path("people_sparse.csv"))
        .orderBy("person_id")
        .collect()
    )
    assert rows[0]["balance"] is None  # empty cell → NULL (R10)
    assert rows[0]["notes"] is None  # trailing empty → NULL
    assert rows[1]["signup_ts"] is None  # short row → NULL
    assert rows[1]["full_name"] is None
    assert rows[2]["signup_ts"] is None


def test_json_ingest_stringifies_nested(spark):
    df = read_any(spark, fixture_path("people.jsonl"))
    rows = df.orderBy("person_id").collect()
    assert len(rows) == N_PEOPLE
    # row 0's notes was a nested object → stringified (R11)
    assert rows[0]["notes"].startswith("{")
    assert "pioneer" in rows[0]["notes"]
    assert rows[1]["notes"] == "compiler"


def test_markdown_preview(spark):
    p = preview(spark, fixture_path("people_pipe.md"), n=3)
    assert p["headers"] == list(PEOPLE_HEADERS)
    assert len(p["preview"]) == 3
    assert p["preview"][0]["person_id"] == "1"


def test_excel_roundtrip(spark, tmp_path):
    """R3: first-sheet Excel read via the dependency-free xlsx reader
    (fixture workbook written by the same module's minimal writer)."""
    from omnidata_etl_spark.ingest.fixtures import _ROWS
    from omnidata_etl_spark.ingest.xlsx import write_xlsx

    path = str(tmp_path / "people.xlsx")
    rows = list(_ROWS)
    rows[2] = rows[2][:4] + ("", "")  # blank cells → NULL
    write_xlsx(path, list(PEOPLE_HEADERS), rows)
    df = read_any(spark, path)
    assert tuple(df.columns) == PEOPLE_HEADERS
    got = {r["person_id"]: r for r in df.collect()}
    assert len(got) == N_PEOPLE
    assert got["1"]["full_name"] == "Ada Lovelace"
    assert got["3"]["active"] is None  # blank cell → NULL (R10)
    assert got["3"]["notes"] is None


def test_sanitize_identifier():
    # strip [^a-zA-Z0-9_] + lowercase (backend/index.js:146)
    assert sanitize_identifier("My Table-2024!") == "mytable2024"


def test_surrogate_key_injection(spark):
    wh = tempfile.mkdtemp(prefix="omnidata_wh_")
    noid = read_any(spark, fixture_path("people_noid.csv"))
    t = load(noid, "noid", warehouse=wh)
    got = spark.read.parquet(t)
    assert "id" in got.columns
    assert sorted(r["id"] for r in got.collect()) == list(range(1, N_PEOPLE + 1))

    withid = read_any(spark, fixture_path("people_withid.csv"))
    t2 = load(withid, "withid", warehouse=wh)
    got2 = spark.read.parquet(t2)
    # case-insensitive `ID` present → no injection (backend/index.js:174-182)
    assert [c for c in got2.columns if c.lower() == "id"] == ["ID"]


def test_errorifexists(spark):
    wh = tempfile.mkdtemp(prefix="omnidata_wh_")
    df = read_any(spark, fixture_path("people_comma.csv"))
    load(df, "t", warehouse=wh)
    with pytest.raises(TableExistsError):
        load(df, "t", warehouse=wh)
    load(df, "t", warehouse=wh, mode="overwrite")  # overwrite allowed


def test_strict_cast_aborts_whole_load(spark):
    import os

    wh = tempfile.mkdtemp(prefix="omnidata_wh_")
    bad = read_any(spark, fixture_path("people_badtypes.csv"))
    with pytest.raises(Exception):
        load(bad, "bad", warehouse=wh, types={"balance": "DECIMAL(12,2)"})
    # atomic: nothing (not even a partial table) left behind (R15 semantics)
    assert not os.path.exists(os.path.join(wh, "bad"))


def test_typed_load_roundtrip(spark):
    from decimal import Decimal

    wh = tempfile.mkdtemp(prefix="omnidata_wh_")
    df = read_any(spark, fixture_path("people_comma.csv"))
    t = load(
        df,
        "typed",
        warehouse=wh,
        columns=["person_id", "full_name", "balance", "signup_ts", "active"],
        types={
            "person_id": "BIGINT",
            "balance": "DECIMAL(12,2)",
            "signup_ts": "TIMESTAMP",
            "active": "BOOLEAN",
        },
    )
    got = spark.read.parquet(t)
    dtypes = dict(got.dtypes)
    assert dtypes["person_id"] == "bigint"
    assert dtypes["balance"] == "decimal(12,2)"
    assert dtypes["signup_ts"] == "timestamp"
    assert dtypes["active"] == "boolean"
    row = got.orderBy("person_id").first()
    assert row["balance"] == Decimal("100.50")
    assert row["active"] is True


def test_gzip_jsonl_dispatches_to_json_reader(spark, tmp_path):
    """Codec suffixes are stripped before extension dispatch: a .jsonl.gz
    must reach the JSON reader (not be sniffed as delimiter text)."""
    import gzip

    from omnidata_etl_spark.ingest.fixtures import fixture_path
    from omnidata_etl_spark.ingest.readers import read_any

    src = fixture_path("people.jsonl")
    gz = str(tmp_path / "people.jsonl.gz")
    with open(src, "rb") as fin, gzip.open(gz, "wb") as fout:
        fout.write(fin.read())
    got = read_any(spark, gz)
    want = read_any(spark, src)
    assert sorted(got.columns) == sorted(want.columns)
    assert got.count() == want.count()


def test_xml_ingest_matches_csv_rows(spark):
    """Spark-4 native XML source: same logical people table as the CSV twin
    (XML infers types, so compare values loosely; schema order is the
    source's inference order, not file order)."""
    xml = read_any(spark, fixture_path("people.xml"))
    assert sorted(xml.columns) == sorted(PEOPLE_HEADERS)
    rows = {int(r["person_id"]): r for r in xml.collect()}
    assert len(rows) == N_PEOPLE
    ada = rows[1]
    assert ada["full_name"] == "Ada Lovelace"
    assert float(ada["balance"]) == 100.50
    assert ada["active"] in (True, "true")


def test_schema_evolution_merge(spark, sf_dir):
    """mergeSchema across two staged parquet generations: unified 4-column
    schema, rows from both, NULL backfill exactly on the old generation,
    id sum preserved — all proven by the op's own evolution_ok column."""
    from omnidata_etl_spark.registry import all_specs

    row = all_specs()["ingest_schema_evolution"].fn(spark, sf_dir).collect()[0]
    assert row["evolution_ok"] is True
    assert row["n_columns"] == 4
    assert row["n_backfilled"] * 2 == row["n_rows"]


def _jobs(spark, fn):
    """(fn's result, the Spark jobs it fired)."""
    import uuid

    sc = spark.sparkContext
    group = f"ingest-test-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _write_rows(path, fmt: str, cols: list[str], n: int) -> None:
    """n rows whose every cell differs, as csv, jsonl or xml."""
    import json

    rows = [[f"{c}{(i * 7919) % n}" for c in cols] for i in range(n)]
    with open(path, "w") as f:
        if fmt == "csv":
            f.write(",".join(cols) + "\n")
            f.writelines(",".join(r) + "\n" for r in rows)
        elif fmt == "jsonl":
            f.writelines(json.dumps(dict(zip(cols, r))) + "\n" for r in rows)
        else:
            f.write("<rows>\n")
            for r in rows:
                cells = "".join(f"<{c}>{v}</{c}>" for c, v in zip(cols, r))
                f.write(f"<row>{cells}</row>\n")
            f.write("</rows>\n")


@contextlib.contextmanager
def _forced_ranges(spark):
    """A test-local split size small enough that the input scans as
    several partitions, so the key sort takes the range-partitioned path."""
    key = "spark.sql.files.maxPartitionBytes"
    old = spark.conf.get(key)
    spark.conf.set(key, "1024")
    try:
        yield
    finally:
        spark.conf.set(key, old)


def test_surrogate_key_is_global_row_number_on_both_paths(spark, tmp_path):
    """Keyed ids equal row_number() OVER (ORDER BY all columns) whether
    the sort runs in the one partition a small file scans as, or in range
    partitions with offsets when the scan yields several; both plans keep
    the INT_MAX guard."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from omnidata_etl_spark.ingest.load import _keyed

    path = str(tmp_path / "unique.csv")
    _write_rows(path, "csv", ["a", "b", "c"], 3000)
    df = read_any(spark, path)
    want = {
        tuple(r[:3]): r[3]
        for r in df.withColumn(
            "want", F.row_number().over(Window.orderBy(*df.columns))
        ).collect()
    }
    assert len(want) == 3000

    def check(keyed):
        plan = keyed._jdf.queryExecution().executedPlan().toString()
        assert "raise_error" in plan
        got = {tuple(r[:3]): r["id"] for r in keyed.collect()}
        assert got == want
        return plan

    keyed, scratch = _keyed(df, None, False)
    assert scratch is None
    plan = check(keyed)
    assert "rangepartitioning" not in plan.lower()
    assert "InMemoryRelation" not in plan
    assert "BroadcastExchange" not in plan

    with _forced_ranges(spark):
        keyed, scratch = _keyed(read_any(spark, path), None, False)
    try:
        plan = check(keyed)
    finally:
        scratch.unpersist()
    assert "rangepartitioning" in plan.lower()
    assert "_sk_pid" in plan


@pytest.mark.parametrize("fmt", ["csv", "jsonl", "xml"])
def test_schema_inferred_once_per_file_version(spark, tmp_path, fmt):
    """Repeating read_any + preview on an unchanged file fires only
    preview's limit job, in any session; a rewritten file is inferred
    again, so a new column appears."""
    path = str(tmp_path / f"evolving.{fmt}")
    _write_rows(path, fmt, ["a", "b"], 50)

    def read_and_preview(session):
        return read_any(session, path), preview(session, path, n=3)

    read_and_preview(spark)
    for session in (spark, spark.newSession()):
        (df, head), jobs = _jobs(spark, lambda: read_and_preview(session))
        assert jobs == 1, jobs
        assert sorted(df.columns) == ["a", "b"]
        assert len(head["preview"]) == 3

    _write_rows(path, fmt, ["a", "b", "new_col"], 50)
    df, head = read_and_preview(spark)
    assert sorted(df.columns) == ["a", "b", "new_col"]
    assert sorted(head["headers"]) == ["a", "b", "new_col"]
    assert df.filter(df.new_col.isNull()).count() == 0


def test_small_keyed_load_fires_no_bookkeeping_jobs(spark, tmp_path):
    """A small keyed load runs its write and nothing else: at most 2 jobs,
    nothing left persisted, and ids dense 1..N."""
    path = str(tmp_path / "small.csv")
    _write_rows(path, "csv", ["a", "b", "c"], 2000)
    df = read_any(spark, path)
    rdds = set(spark.sparkContext._jsc.getPersistentRDDs().keySet())
    target, jobs = _jobs(
        spark, lambda: load(df, "small", warehouse=str(tmp_path / "wh"))
    )
    assert jobs <= 2, jobs
    assert set(spark.sparkContext._jsc.getPersistentRDDs().keySet()) == rdds
    ids = [r["id"] for r in spark.read.parquet(target).collect()]
    assert sorted(ids) == list(range(1, 2001))


def test_same_size_rewrite_with_restored_mtime_is_seen(spark, tmp_path):
    """A CSV whose header is rewritten at the same size, with its old
    mtime set back (as cp -p or rsync -a leave it), shows the new header:
    the fingerprint's ctime and inode move even when mtime and size do
    not."""
    import os

    path = str(tmp_path / "renamed.csv")
    with open(path, "w") as f:
        f.write("aa,bb\n1,2\n")
    assert read_any(spark, path).columns == ["aa", "bb"]
    st = os.stat(path)
    with open(path, "w") as f:
        f.write("xx,yy\n1,2\n")
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns))
    now = os.stat(path)
    assert (now.st_mtime_ns, now.st_size) == (st.st_mtime_ns, st.st_size)
    assert read_any(spark, path).columns == ["xx", "yy"]


def test_schema_memo_is_bounded(spark, tmp_path, monkeypatch):
    """The process-wide schema memo keeps only its most recently read
    entries, so files read once (uploads at fresh paths) do not pile up."""
    import os

    from omnidata_etl_spark import catalog

    monkeypatch.setattr(catalog, "_MAX_SCHEMAS", 2)
    paths = []
    for i in range(3):
        paths.append(str(tmp_path / f"upload{i}.csv"))
        with open(paths[-1], "w") as f:
            f.write(f"c{i}\n{i}\n")
        assert read_any(spark, paths[-1]).columns == [f"c{i}"]
    held = {key[0] for key in catalog._SCHEMAS}
    assert len(catalog._SCHEMAS) == 2
    assert os.path.abspath(paths[0]) not in held
    assert {os.path.abspath(p) for p in paths[1:]} <= held


def test_session_with_other_inference_conf_infers_for_itself(spark, tmp_path):
    """The memo key carries the session's inference conf: a session that
    reads the same file with another spark.sql.caseSensitive runs its own
    inference instead of reusing the other session's schema."""
    path = str(tmp_path / "cased.csv")
    _write_rows(path, "csv", ["a", "b"], 10)
    read_any(spark, path)
    same = spark.newSession()
    _, jobs = _jobs(spark, lambda: read_any(same, path))
    assert jobs == 0, jobs
    other = spark.newSession()
    other.conf.set("spark.sql.caseSensitive", "true")
    _, jobs = _jobs(spark, lambda: read_any(other, path))
    assert jobs == 1, jobs
