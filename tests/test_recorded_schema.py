"""Recorded file schemas in the commit log: reads build without Spark
jobs, match footer inference exactly, and legacy entries still read."""

from __future__ import annotations

import contextlib
import datetime
import decimal
import glob
import json
import os
import shutil
import uuid

import pytest

from pyspark.sql import functions as F

from privacy_cdc_lakehouse_spark import catalog
from privacy_cdc_lakehouse_spark.tables import LakeTable


@contextlib.contextmanager
def _spark_jobs(spark):
    """Collect the ids of every Spark job started inside the block."""
    sc = spark.sparkContext
    group = f"probe-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "count jobs")
    ids: list[int] = []
    try:
        yield ids
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        # job starts reach the status store through the listener bus
        sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
        ids.extend(sc.statusTracker().getJobIdsForGroup(group))


def _strip_schemas(t: LakeTable, dest: str) -> LakeTable:
    """Copy of ``t`` whose log records no entry schemas — the shape of
    a log written before schemas were recorded."""
    shutil.copytree(t.path, dest)
    for p in glob.glob(os.path.join(dest, "_log", "*.json")):
        with open(p) as f:
            m = json.load(f)
        for e in m.get("files", []) + m.get("delta", {}).get("add", []):
            if isinstance(e, dict):
                e.pop("schema", None)
        with open(p, "w") as f:
            json.dump(m, f)
    return LakeTable(t.spark, dest)


def _assert_same_as_inferred(t: LakeTable, tmp_path, **read_kw) -> None:
    legacy = _strip_schemas(t, str(tmp_path / f"legacy-{uuid.uuid4().hex}"))
    got, want = t.read(**read_kw), legacy.read(**read_kw)
    assert got.schema == want.schema
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def _partitioned(spark, tmp_path) -> LakeTable:
    t = LakeTable(spark, str(tmp_path / "part"))
    t.overwrite(
        spark.range(40).select(
            F.col("id"),
            (F.col("id") % 4).alias("p"),
            F.concat(F.lit("v"), F.col("id").cast("string")).alias("s"),
        ),
        partition_by=["p"],
    )
    t.append(spark.createDataFrame([(100, 1, "late")], "id long, p long, s string"))
    t.merge(
        spark.createDataFrame([(1, 1, "upd"), (200, 1, "ins")], "id long, p long, s string"),
        keys=["id"],
        partition_filter="p = 1",
    )
    return t


def test_every_write_path_records_the_file_schema(spark, tmp_path):
    t = _partitioned(spark, tmp_path)
    t.update_where("id = 2", {"s": F.lit("mor")}, mode="merge_on_read")
    t.delete_where("id = 3")  # copy-on-write full rewrite
    files = t._snapshot_files(t.current_version())
    assert files and all(e.get("schema") for e in files)
    for e in files:
        names = [f["name"] for f in e["schema"]["fields"]]
        assert names == ["id", "s"]  # partition column left in the paths
        assert all(f["nullable"] for f in e["schema"]["fields"])


def test_building_reads_runs_no_spark_job(spark, tmp_path):
    t = _partitioned(spark, tmp_path)
    with _spark_jobs(spark) as jobs:
        t.read()
        t.read(where=[("id", "=", 5)])
        t.read(where=[("id", ">", 10_000)])  # every dir pruned: limit(0) arm
        catalog.snapshot_sql(t)
    assert jobs == []

    # the append path's schema check reads the table; stop it right
    # before the data write and count what ran until then
    class Stop(Exception):
        pass

    def stop(self, df, partition_by=None):
        raise Stop

    orig = LakeTable._write_entry
    LakeTable._write_entry = stop
    try:
        with _spark_jobs(spark) as jobs:
            with pytest.raises(Stop):
                t.append(spark.createDataFrame([(7, 3, "x")], "id long, p long, s string"))
    finally:
        LakeTable._write_entry = orig
    assert jobs == []

    # control: the same builds on a schema-less log infer footers
    legacy = _strip_schemas(t, str(tmp_path / "legacy"))
    with _spark_jobs(spark) as jobs:
        legacy.read()
        catalog.snapshot_sql(legacy)
    assert jobs


def test_partitioned_table_reads_as_inferred(spark, tmp_path):
    t = _partitioned(spark, tmp_path)
    _assert_same_as_inferred(t, tmp_path)
    _assert_same_as_inferred(t, tmp_path, where=[("id", ">=", 30)])
    _assert_same_as_inferred(t, tmp_path, where=[("id", ">", 10_000)])
    _assert_same_as_inferred(t, tmp_path, version=1)
    legacy = _strip_schemas(t, str(tmp_path / "legacy_sql"))
    assert catalog.snapshot_sql(t) == catalog.snapshot_sql(legacy).replace(
        legacy.path, t.path
    )


def test_generated_and_evolved_tables_read_as_inferred(spark, tmp_path):
    g = LakeTable(spark, str(tmp_path / "gen"))
    g.overwrite(spark.createDataFrame([(1, 10)], "id int, v int"))
    g.add_generated_column("v2", "v * 2")
    g.append(spark.createDataFrame([(2, 20)], "id int, v int"))
    added = g._snapshot_files(g.current_version())[-1]
    assert [f["name"] for f in added["schema"]["fields"]] == ["id", "v", "v2"]
    _assert_same_as_inferred(g, tmp_path)

    e = LakeTable(spark, str(tmp_path / "evolved"))
    e.overwrite(spark.createDataFrame([(1, "a")], "id int, s string"))
    e.append(
        spark.createDataFrame([(2, "b", 2.5)], "id int, s string, x double"),
        merge_schema=True,
    )
    e.append(spark.createDataFrame([(3, None, 1.0)], "id int, s string, x double"))
    assert e.read().columns == ["id", "s", "x"]
    _assert_same_as_inferred(e, tmp_path)


def test_nested_decimal_timestamp_table_reads_as_inferred(spark, tmp_path):
    t = LakeTable(spark, str(tmp_path / "nested"))
    t.overwrite(
        spark.createDataFrame(
            [
                (
                    1,
                    decimal.Decimal("12.34"),
                    datetime.datetime(2024, 1, 5, 12, 30),
                    (7, [1, 2]),
                    {"k": 3},
                )
            ],
            "id bigint not null, amount decimal(12,2), ts timestamp, "
            "s struct<x: int not null, arr: array<int>>, m map<string, int>",
        )
    )
    fields = {f["name"]: f for f in t._snapshot_files(1)[0]["schema"]["fields"]}
    assert fields["id"]["nullable"]
    assert fields["s"]["type"]["fields"][0]["nullable"]
    assert fields["s"]["type"]["fields"][1]["type"]["containsNull"]
    _assert_same_as_inferred(t, tmp_path)


def test_compact_restore_clone_keep_recorded_schemas(spark, tmp_path):
    t = _partitioned(spark, tmp_path)
    t.compact(target_partitions=2)
    _assert_same_as_inferred(t, tmp_path)
    t.restore(2)
    assert all(e.get("schema") for e in t._snapshot_files(t.current_version()))
    _assert_same_as_inferred(t, tmp_path)
    clone = t.clone_to(str(tmp_path / "clone"))
    assert all(e.get("schema") for e in clone._snapshot_files(1))
    _assert_same_as_inferred(clone, tmp_path)
    with _spark_jobs(spark) as jobs:
        clone.read()
        catalog.snapshot_sql(clone)
    assert jobs == []


def test_v1_string_manifest_without_schema_still_reads(spark, tmp_path):
    root = tmp_path / "v1"
    spark.createDataFrame([(1, "a"), (2, "b")], "id int, s string").write.parquet(
        str(root / "data" / "d0")
    )
    os.makedirs(root / "_log")
    with open(root / "_log" / "00000001.json", "w") as f:
        json.dump({"op": "overwrite", "partition_by": [], "files": ["data/d0"]}, f)
    t = LakeTable(spark, str(root))
    assert sorted(map(tuple, t.read().collect())) == [(1, "a"), (2, "b")]
    assert "parquet.`" in catalog.snapshot_sql(t)
    t.append(spark.createDataFrame([(3, "c")], "id int, s string"))
    files = t._snapshot_files(t.current_version())
    assert "schema" not in files[0] and files[1]["schema"]
    assert sorted(map(tuple, t.read().collect())) == [(1, "a"), (2, "b"), (3, "c")]
