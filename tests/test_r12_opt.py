"""Round-12 optimization pins: the fixture/writer fast paths must be
byte-equivalent to the slow paths they replaced.

Covers (OPTIMIZATION_r12.md):
- ``_write_cp_parquet`` pyarrow driver write vs the original Spark
  from_json job (same rows back through ``spark.read.parquet``);
- ``_cp_driver_replay`` (driver-side checkpoint bootstrap) vs the
  distributed DataFrame reconciliation (same metaData + live set);
- footer-derived ``record_count``/``numRecords`` vs Spark count jobs;
- ``local_rows_df`` (one-slice local frames) row fidelity.
"""

from __future__ import annotations

import json
import os
import shutil

import pytest
from pyspark.sql import functions as F

from rust_dataframe_spark.sources import delta as d
from rust_dataframe_spark.sources import iceberg as ice
from rust_dataframe_spark.sources import lakehouse_util
from rust_dataframe_spark.sources.lakehouse_util import local_rows_df


@pytest.fixture(scope="module")
def spark():
    from rust_dataframe_spark.context import get_spark

    return get_spark("test-r12-opt")


def _canon(rows):
    return sorted(
        tuple(sorted((k, repr(v)) for k, v in r.asDict(True).items()))
        for r in rows
    )


def test_cp_parquet_pyarrow_matches_spark(spark, tmp_path):
    rows = [
        {"add": {"path": "p=a%20b/part-1.parquet",
                 "partitionValues": {"p": "a b"},
                 "size": 123, "modificationTime": 5, "dataChange": True,
                 "stats": json.dumps({"numRecords": 7})},
         "remove": None, "metaData": None, "protocol": None},
        {"add": {"path": "part-2.parquet", "partitionValues": {},
                 "size": 9, "modificationTime": 6, "dataChange": True,
                 "deletionVector": {"storageType": "p",
                                    "pathOrInlineDv": "/dv.bin",
                                    "offset": 1, "sizeInBytes": 8,
                                    "cardinality": 2}},
         "remove": None, "metaData": None, "protocol": None},
        {"add": None, "remove": {"path": "gone.parquet",
                                 "deletionTimestamp": 4,
                                 "dataChange": True},
         "metaData": None, "protocol": None},
        {"add": None, "remove": None,
         "metaData": {"id": "m-1", "schemaString": "{}",
                      "partitionColumns": "[\"p\"]",
                      "configuration": "{}", "createdTime": 1},
         "protocol": None},
        {"add": None, "remove": None, "metaData": None,
         "protocol": {"minReaderVersion": 1, "minWriterVersion": 2,
                      "readerFeatures": None, "writerFeatures": None}},
    ]
    base = str(tmp_path / "tbl")
    os.makedirs(os.path.join(base, d._LOG), exist_ok=True)
    fast = os.path.join(base, d._LOG, "fast.parquet")
    slow = os.path.join(base, d._LOG, "slow.parquet")
    d._write_cp_parquet(spark, base, rows, d._CP_DDL, fast)

    # force the original Spark job by writing through the fallback body
    import pandas as pd

    pdf = pd.DataFrame({"json": [json.dumps(r) for r in rows]})
    parsed = spark.createDataFrame(pdf).select(
        F.from_json("json", d._CP_DDL).alias("a")
    ).select("a.*")
    cp_tmp = os.path.join(base, d._LOG, "_cp_tmp_test")
    parsed.coalesce(1).write.mode("overwrite").parquet(cp_tmp)
    part = [n for n in os.listdir(cp_tmp) if n.endswith(".parquet")][0]
    os.replace(os.path.join(cp_tmp, part), slow)
    shutil.rmtree(cp_tmp, ignore_errors=True)

    got = _canon(spark.read.parquet(fast).collect())
    want = _canon(spark.read.parquet(slow).collect())
    assert got == want


def _mk_checkpointed_table(spark, path):
    shutil.rmtree(path, ignore_errors=True)
    d.write_delta_commit(
        spark, path,
        spark.range(20).select(
            F.col("id").cast("int").alias("id"),
            (F.col("id") % 2).cast("int").alias("p"),
        ),
        partition_by=["p"],
    )
    d.write_delta_commit(
        spark, path,
        spark.range(100, 104).select(
            F.col("id").cast("int").alias("id"),
            (F.col("id") % 2).cast("int").alias("p"),
        ),
        partition_by=["p"],
    )
    d.write_delta_checkpoint(spark, path)
    # drop the JSON commits so resolution must bootstrap from the cp
    for v in (0, 1):
        os.remove(os.path.join(path, d._LOG, d._commit_name(v)))


def test_cp_driver_replay_matches_distributed(
    spark, tmp_path, monkeypatch
):
    path = str(tmp_path / "cp_tbl")
    _mk_checkpointed_table(spark, path)
    meta_fast, adds_fast = d.delta_snapshot_files(spark, path)
    monkeypatch.setattr(lakehouse_util, "DRIVER_BYTES", 0)  # force fallback
    meta_slow, adds_slow = d.delta_snapshot_files(spark, path)

    def canon_adds(adds):
        return sorted(
            (a["path"], tuple(sorted((a.get("partitionValues") or {})
                                     .items())),
             a.get("size"), json.dumps(a.get("deletionVector")))
            for a in adds
        )

    assert meta_fast["id"] == meta_slow["id"]
    assert meta_fast["partitionColumns"] == meta_slow["partitionColumns"]
    assert meta_fast.get("configuration") == meta_slow.get(
        "configuration"
    )
    assert canon_adds(adds_fast) == canon_adds(adds_slow)


def test_cp_driver_replay_styles(spark, tmp_path, monkeypatch):
    for style in ("multipart", "v2"):
        path = str(tmp_path / f"cp_{style}")
        shutil.rmtree(path, ignore_errors=True)
        d.write_delta_commit(
            spark, path,
            spark.range(10).select(
                F.col("id").cast("int").alias("id"),
                (F.col("id") % 2).cast("int").alias("p"),
            ),
            partition_by=["p"],
        )
        d.write_delta_checkpoint(spark, path, style=style)
        os.remove(os.path.join(path, d._LOG, d._commit_name(0)))
        fast = d.delta_snapshot_files(spark, path)
        monkeypatch.setattr(lakehouse_util, "DRIVER_BYTES", 0)
        slow = d.delta_snapshot_files(spark, path)
        monkeypatch.undo()
        assert sorted(a["path"] for a in fast[1]) == sorted(
            a["path"] for a in slow[1]
        )


def test_delta_writer_footer_stats(spark, tmp_path):
    path = str(tmp_path / "stats_tbl")
    d.write_delta_commit(
        spark, path,
        local_rows_df(
            spark, [(1, 0), (2, 0), (3, 1)], "id int, p int"
        ),
        partition_by=["p"],
    )
    _meta, adds = d.delta_snapshot_files(spark, path)
    by_p = {a["partitionValues"]["p"]: json.loads(a["stats"])
            for a in adds}
    assert by_p["0"]["numRecords"] == 2
    assert by_p["1"]["numRecords"] == 1
    assert by_p["0"]["minValues"]["id"] == 1
    assert by_p["0"]["maxValues"]["id"] == 2


def test_iceberg_writer_footer_record_count(spark, tmp_path):
    path = str(tmp_path / "ice_tbl")
    ice.write_iceberg_commit(
        spark, path,
        local_rows_df(
            spark, [(1, 0), (2, 0), (3, 1)], "id int, p int"
        ),
        partition_by=["p"],
    )
    meta, _v = ice._load_metadata(path)
    manifests = ice._snapshot_manifest_entries(
        path, meta, meta["current-snapshot-id"]
    )
    counts = {
        e["data_file"]["partition"]["p"]: e["data_file"]["record_count"]
        for _c, _s, entries in ice._walk_manifests(manifests, path)
        for e in entries
    }
    assert counts == {0: 2, 1: 1}


def test_local_rows_df_one_slice(spark):
    df = local_rows_df(spark, [(1, "a"), (2, "b")], "id int, s string")
    assert df.rdd.getNumPartitions() == 1
    assert sorted((r["id"], r["s"]) for r in df.collect()) == [
        (1, "a"), (2, "b")
    ]
