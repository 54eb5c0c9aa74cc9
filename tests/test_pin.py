"""pin(): the engine's one way to share an intermediate within a session.

A memoized builder materializes its pins at its first build only, so repeat
builds fire no Spark job; pins survive ``clearCache()``; a regenerated
source table frees the pin it supersedes; and pinned results equal a fresh
session's build.
"""

from __future__ import annotations

import os
import shutil
import time
import uuid

from omnidata_etl_spark import catalog
from omnidata_etl_spark.queries._util import pin
from omnidata_etl_spark.registry import all_specs

# Builders whose only build-time work is their pins: every build after the
# first fires no job. etl_global_shuffle is not memoized at all; it builds
# lazily and belongs here for the same reason.
REPEAT_BUILDS_FREE = (
    "dedup_near_minhash",
    "dedup_simhash",
    "dedup_ngram_jaccard",
    "dedup_embedding_cosine",
    "text_tfidf_topterms",
    "text_perplexity_proxy",
    "multimodal_audio_fingerprint",
    "multimodal_image_phash",
    "etl_global_shuffle",
)


def _build_jobs(spark, name: str, sf_dir: str) -> int:
    """Spark jobs one build of ``name`` fires."""
    sc = spark.sparkContext
    group = f"pin-test-{name}-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        all_specs()[name].fn(spark, sf_dir)
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _persistent(spark) -> int:
    """Persisted RDDs on the context, counted once unreferenced ones are
    gone. Spark's ContextCleaner unpersists an RDD that nothing references
    only after a JVM GC, at a time no test controls, so garbage left by
    earlier tests could otherwise leave the count between two reads. A
    Python and a JVM collection, then equal reads 0.3 s apart, settle it."""
    import gc

    gc.collect()
    spark._jvm.System.gc()
    rdds = spark.sparkContext._jsc.getPersistentRDDs
    count = len(rdds())
    for _ in range(20):
        time.sleep(0.3)
        count, last = len(rdds()), count
        if count == last:
            break
    return count


def _sorted(pdf):
    return pdf.sort_values(list(pdf.columns)).reset_index(drop=True)


def test_pin_builds_once_and_frees_superseded(spark):
    calls = []

    def build():
        calls.append(1)
        return spark.range(100).selectExpr("id % 7 AS k").groupBy("k").count()

    before = _persistent(spark)
    first = pin(spark, ("pin_unit", "/no/such/dir", 1), build)
    assert pin(spark, ("pin_unit", "/no/such/dir", 1), build) is first
    assert len(calls) == 1
    assert _persistent(spark) == before + 1
    # a new fingerprint for the same (kind, sf_dir) releases the old pin
    second = pin(spark, ("pin_unit", "/no/such/dir", 2), build)
    assert len(calls) == 2
    assert _persistent(spark) == before + 1
    assert second.count() == 7


def test_repeat_builds_fire_no_jobs(spark, sf_dir):
    for name in catalog.TABLES:
        catalog.table(spark, sf_dir, name)
    for name in REPEAT_BUILDS_FREE:
        jobs = [_build_jobs(spark, name, sf_dir) for _ in range(3)]
        assert jobs[1:] == [0, 0], f"{name} build jobs {jobs}"


def test_pins_survive_clear_cache(spark, sf_dir):
    for name in REPEAT_BUILDS_FREE:
        _build_jobs(spark, name, sf_dir)
    spark.catalog.clearCache()
    for name in REPEAT_BUILDS_FREE:
        assert _build_jobs(spark, name, sf_dir) == 0, name


def test_regenerated_source_frees_superseded_pins(spark, sf_dir, tmp_path):
    """Touching every table of a copied sf dir changes the fingerprint in
    each pin key: the rebuild replaces the pins instead of adding to
    them, and its results equal both the first build's and a fresh
    session's."""
    copy = str(tmp_path / "sf")
    shutil.copytree(sf_dir, copy)
    names = (
        "dedup_simhash",
        "dedup_near_minhash",
        "multimodal_image_phash",
        "embedding_power_iteration",
        "text_tfidf_topterms",
    )
    first = {n: all_specs()[n].fn(spark, copy).toPandas() for n in names}
    before = _persistent(spark)
    later = time.time() + 60
    for f in os.listdir(copy):
        os.utime(os.path.join(copy, f), (later, later))
    again = {n: all_specs()[n].fn(spark, copy).toPandas() for n in names}
    assert _persistent(spark) == before
    fresh = spark.newSession()
    for n in names:
        want = _sorted(all_specs()[n].fn(fresh, copy).toPandas())
        assert _sorted(first[n]).equals(want), n
        assert _sorted(again[n]).equals(want), n


def test_regenerated_table_gets_fresh_handle(spark, sf_dir, tmp_path):
    """Table handles are keyed by the source's fingerprint: an unchanged
    table reopens to the same handle, and in a new session with no
    inference job; a table rewritten with a new size gets a new handle
    whose rows equal a fresh session's."""
    import pyarrow.parquet as pq

    copy = str(tmp_path / "sf")
    shutil.copytree(sf_dir, copy)
    first = catalog.table(spark, copy, "nation")
    assert catalog.table(spark, copy, "nation") is first
    for name in catalog.TABLES:
        catalog.table(spark, copy, name)
    fresh = spark.newSession()
    sc = spark.sparkContext
    group = f"pin-test-reopen-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        for name in catalog.TABLES:
            catalog.table(fresh, copy, name)
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 0

    path = os.path.join(copy, "nation.parquet")
    size = os.path.getsize(path)
    pq.write_table(pq.read_table(path).slice(0, 20), path)
    assert os.path.getsize(path) != size
    again = catalog.table(spark, copy, "nation")
    assert again is not first
    got = _sorted(again.toPandas())
    assert len(got) == 20
    want = catalog.table(spark.newSession(), copy, "nation").toPandas()
    assert got.equals(_sorted(want))
