"""catalog.load_table remembers the schema Spark inferred per file, so a
repeat load starts no Spark job, and a rewritten file is inferred again."""

from __future__ import annotations

import os
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from dmshadoop_spark import catalog


def _jobs_started(spark, call):
    sc = spark.sparkContext
    group = f"catalog-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "load_table")
    try:
        out = call()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01", "sf0.1"])
def test_remembered_schema_equals_inferred_schema(spark, monkeypatch, sf):
    """For every table, load_table's schema is the same on the first call
    (inferred) and on a repeat call (remembered, 0 jobs), and the
    remembered read's schema equals a fresh ``spark.read.parquet``."""
    sf_dir = os.path.join(os.path.dirname(catalog.DEFAULT_SF_DIR), sf)
    if not os.path.isdir(sf_dir):
        pytest.skip(f"{sf_dir} not present")
    monkeypatch.setattr(catalog, "_SCHEMAS", {})
    for name in catalog.TABLES:
        first, jobs_first = _jobs_started(
            spark, lambda: catalog.load_table(spark, sf_dir, name))
        again, jobs_again = _jobs_started(
            spark, lambda: catalog.load_table(spark, sf_dir, name))
        assert jobs_first == 1 and jobs_again == 0, name
        assert first.schema == again.schema, name
        path = f"{sf_dir}/{name}.parquet"
        assert catalog._read_parquet(spark, path).schema == \
            spark.read.parquet(path).schema, name
    assert len(catalog._SCHEMAS) == len(catalog.TABLES)


def test_rewritten_file_is_inferred_again(spark, tmp_path, monkeypatch):
    """A file rewritten with another schema is inferred again (its size
    and mtime key the remembered schema); rows read back are the new
    ones."""
    monkeypatch.setattr(catalog, "_SCHEMAS", {})
    path = tmp_path / "documents.parquet"
    pq.write_table(pa.table({"doc_id": [1, 2], "text": ["a", "b"]}), path)
    assert catalog.load_table(spark, str(tmp_path), "documents").count() == 2
    assert _jobs_started(
        spark, lambda: catalog.load_table(spark, str(tmp_path), "documents"))[1] == 0
    pq.write_table(
        pa.table({"doc_id": [7], "text": ["c"], "source": ["web"]}), path)
    df, jobs = _jobs_started(
        spark, lambda: catalog.load_table(spark, str(tmp_path), "documents"))
    assert jobs == 1
    assert df.columns == ["doc_id", "text", "source"]
    assert [tuple(r) for r in df.collect()] == [(7, "c", "web")]


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01", "sf0.1"])
def test_events_load_leaves_session_conf_as_it_was(spark, monkeypatch, sf):
    """An events file whose ts is TIMESTAMP(µs) is loaded without setting
    ``spark.sql.legacy.parquet.nanosAsLong``: the conf reads the same
    before and after, and ts still surfaces as TIMESTAMP_NTZ."""
    from pyspark.sql.types import TimestampNTZType

    sf_dir = os.path.join(os.path.dirname(catalog.DEFAULT_SF_DIR), sf)
    if not os.path.isdir(sf_dir):
        pytest.skip(f"{sf_dir} not present")
    conf = "spark.sql.legacy.parquet.nanosAsLong"
    ts = pq.read_schema(f"{sf_dir}/events.parquet").field("ts").type
    assert ts == pa.timestamp("us")
    monkeypatch.setattr(catalog, "_SCHEMAS", {})
    prior = spark.conf.get(conf)
    spark.conf.set(conf, "false")  # so a leaked "true" shows
    try:
        before = spark.conf.get(conf)
        df = catalog.load_table(spark, sf_dir, "events")
        assert spark.conf.get(conf) == before == "false"
    finally:
        spark.conf.set(conf, prior)
    assert isinstance(df.schema["ts"].dataType, TimestampNTZType)


def test_events_path_that_is_no_file_is_left_to_spark(spark, tmp_path):
    """An events path that is not a local file is read by Spark as before,
    with the escape hatch set: a missing file raises Spark's own error,
    and an events.parquet directory Spark wrote loads with ts as
    TIMESTAMP_NTZ."""
    from pyspark.errors import AnalysisException
    from pyspark.sql.types import TimestampNTZType

    conf = "spark.sql.legacy.parquet.nanosAsLong"
    prior = spark.conf.get(conf)
    try:
        with pytest.raises(AnalysisException):
            catalog.load_table(spark, str(tmp_path / "missing"), "events")
        spark.sql(
            "SELECT 1 AS id, TIMESTAMP '2024-01-02 03:04:05' AS ts"
        ).write.parquet(str(tmp_path / "events.parquet"))
        df = catalog.load_table(spark, str(tmp_path), "events")
        assert spark.conf.get(conf) == "true"
        assert isinstance(df.schema["ts"].dataType, TimestampNTZType)
        assert df.count() == 1
    finally:
        spark.conf.set(conf, prior)
