"""Reuse across an interactive KAFSQL session: a materialized topic
version resolves to one DataFrame for the catalog's lifetime, and a
result-cache hit is a LocalRelation that collects with zero Spark jobs."""

from __future__ import annotations

from datetime import datetime

import pytest

from platform_spark.sql.compiler import CompilerOptions
from platform_spark.sql.engine import EngineOptions, KafSqlEngine
from platform_spark.topics import TopicCatalog
from tests.conftest import SF_DIR

NOW = datetime(2024, 1, 31)


def _next_job(spark) -> int:
    return spark.sparkContext._jsc.sc().dagScheduler().nextJobId()


def _uncached_opts() -> EngineOptions:
    opts = EngineOptions()
    opts.enable_cache = False
    return opts


@pytest.fixture(scope="module")
def mat_catalog(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("reuse_topics"))
    return TopicCatalog(spark, SF_DIR, cache_root=root)


def test_second_topic_call_submits_no_job(spark, mat_catalog):
    first = mat_catalog.topic("events")
    before = _next_job(spark)
    again = mat_catalog.topic("events")
    assert _next_job(spark) == before
    assert again is first
    # the implicit-only frame is its own entry
    bare = mat_catalog.topic("events", with_schema_columns=False)
    assert bare is not first and "amount" not in bare.columns
    assert mat_catalog.topic("events", with_schema_columns=False) is bare


def test_envelope_topic_is_rebuilt_per_call(catalog):
    # unmaterialized envelope views may change under a frame: never reused
    assert catalog.topic("events") is not catalog.topic("events")


def test_cache_hit_submits_zero_jobs(spark, mat_catalog):
    eng = KafSqlEngine(mat_catalog, now=NOW)
    stmt = (
        "SELECT _partition, count(*) AS n FROM events "
        "WHERE _ts BETWEEN '2024-01-10 00:00:00' AND '2024-01-10 23:59:59' "
        "GROUP BY _partition"
    )
    cold = eng.sql(stmt).collect()
    warm = eng.sql(stmt).collect()
    before = _next_job(spark)
    hit = eng.sql(stmt).collect()
    assert _next_job(spark) == before
    assert sorted(hit) == sorted(warm) == sorted(cold)
    plan = eng.sql(stmt)._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan


def test_cache_hit_rows_match_cold_values_and_types(spark, tmp_path):
    """Binary `_key`, `_ts` and a NULL-bearing schema column survive the
    JVM-side collect and LocalRelation rebuild unchanged."""
    from platform_spark import kfs

    src = TopicCatalog(spark, SF_DIR)
    root = str(tmp_path / "kfs")
    kfs.write_kfs(
        src.topic("events", with_schema_columns=False), root, "events",
        segment_rows=500,
    ).collect()
    opts = EngineOptions()
    opts.compiler = CompilerOptions(render_text=False)
    eng = KafSqlEngine(
        kfs.KfsTopicCatalog(spark, root, configs=src.configs), options=opts, now=NOW
    )
    stmt = (
        "SELECT _offset, _key, _ts, amount FROM events "
        "WHERE _partition = 1 AND _ts <= '2024-01-31 00:00:00' LIMIT 5000"
    )
    cold = eng.sql(stmt).collect()
    eng.sql(stmt)  # warm promotion
    hit = eng.sql(stmt)
    assert "LocalTableScan" in hit._jdf.queryExecution().executedPlan().toString()
    got = hit.collect()
    key = lambda r: r["_offset"]  # noqa: E731
    cold, got = sorted(cold, key=key), sorted(got, key=key)
    assert got == cold
    assert [[type(v) for v in r] for r in got] == [[type(v) for v in r] for r in cold]
    assert isinstance(got[0]["_key"], (bytes, bytearray))
    assert isinstance(got[0]["_ts"], datetime)
    assert any(r["amount"] is None for r in got)
    assert any(r["amount"] is not None for r in got)


def test_self_join_on_reused_frame_matches_fresh_catalog(mat_catalog, catalog):
    stmt = (
        "SELECT a._offset AS lo, b._offset AS ro FROM events a "
        "JOIN events b ON a._key = b._key WITHIN 10m LAST 30d LIMIT 100000"
    )
    mat_catalog.topic("events")  # the frame is resolved before the join
    reused = KafSqlEngine(mat_catalog, options=_uncached_opts(), now=NOW)
    fresh = KafSqlEngine(catalog, options=_uncached_opts(), now=NOW)
    got = sorted(reused.sql(stmt).collect())
    assert got and got == sorted(fresh.sql(stmt).collect())


def test_set_spark_conf_drops_frame_cache(mat_catalog):
    eng = KafSqlEngine(mat_catalog, now=NOW)
    first = mat_catalog.topic("events")
    eng.sql("SET spark.sql.shuffle.partitions = 8")
    again = mat_catalog.topic("events")
    assert again is not first
    assert mat_catalog.topic("events") is again


def test_new_version_path_gets_fresh_frame(spark, mat_catalog, tmp_path):
    first = mat_catalog.topic("events")
    old = mat_catalog._materialized["events"]
    new = mat_catalog.materialize("events", str(tmp_path / "other_root"))
    try:
        assert new != old
        fresh = mat_catalog.topic("events")
        assert fresh is not first
        assert all(str(tmp_path) in f for f in fresh.inputFiles())
        assert sorted(fresh.collect()) == sorted(first.collect())
    finally:
        mat_catalog.materialize("events", mat_catalog.cache_root)
