"""Round-13 optimization pins: the driver-side DATA-FILE fast path
(``lakehouse_util.write_rows_hive_tmp`` + the per-writer hooks) must be
equivalent to the Spark write jobs it replaces.

Covers (OPTIMIZATION_r13.md):
- ``write_rows_hive_tmp`` vs ``df.write.partitionBy(...).parquet``:
  same hive dir layout, same file census (one file per partition
  value for a one-slice frame), same read-back schema AND values
  through ``spark.read.parquet``, footer min/max statistics present,
  ``PARQUET:field_id`` stamping identical to Spark's
  ``parquet.field.id`` metadata path;
- fallback triggers: >4096 rows, unsupported types (boolean and
  double partition columns among them), null / escaped partition
  values, empty input;
- the one gate (``lakehouse_util.driver_rows``): its whitelists, and a
  source scan keeping the gate's names out of every other module;
- the Iceberg transform fast path (``_iceberg_local_transform_vals``)
  vs the distributed ``_transform_column`` kernels;
- the Hudi meta-field prepend/coalesce replication;
- end-to-end: a Delta/Iceberg/Hudi table written through the fast
  path reads back identically to one written with the fast path
  disabled (tag stripped), and a Hypothesis property over random
  schemas of atomic types does the same for the Delta commit;
- compaction's duplicate-basename refusal and the Hudi log writer's
  struct-column fallback.
"""

from __future__ import annotations

import datetime
import os

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from rust_dataframe_spark.sources import delta as d
from rust_dataframe_spark.sources import hudi as h
from rust_dataframe_spark.sources import iceberg as ice
from rust_dataframe_spark.sources import lakehouse_util
from rust_dataframe_spark.sources.lakehouse_util import (
    driver_rows,
    local_rows_df,
    write_rows_hive_tmp,
)


@pytest.fixture(scope="module")
def spark():
    from rust_dataframe_spark.context import get_spark

    return get_spark("test-r13-opt")


def _canon(rows):
    return sorted(
        tuple(sorted((k, repr(v)) for k, v in r.asDict(True).items()))
        for r in rows
    )


def _untag(df):
    """Strip the fast-path tag: forces the writer's Spark job path."""
    try:
        del df._sg_rows
    except AttributeError:
        pass
    return df


def _census(root):
    out = {}
    for r, _dirs, files in os.walk(root):
        rel = os.path.relpath(r, root)
        pq = sorted(n for n in files if n.endswith(".parquet"))
        if pq:
            out[rel] = len(pq)
    return out


# ---------------------------------------------------------------------------
# write_rows_hive_tmp vs the Spark write job
# ---------------------------------------------------------------------------


def test_hive_tmp_matches_spark_partitioned(spark, tmp_path):
    import pyarrow.parquet as pq

    rows = [(i, f"s{i}", float(i) / 4, i % 3) for i in range(12)]
    ddl = "id int, name string, x double, p int"
    fast = str(tmp_path / "fast")
    slow = str(tmp_path / "slow")
    assert write_rows_hive_tmp(rows, StructType.fromDDL(ddl), fast, ["p"])
    local_rows_df(spark, rows, ddl).write.mode("overwrite").partitionBy(
        "p"
    ).parquet(slow)
    # same partition dirs, same one-file-per-value census
    cf = {k: v for k, v in _census(fast).items()}
    cs = {k: v for k, v in _census(slow).items()}
    assert cf == cs == {"p=0": 1, "p=1": 1, "p=2": 1}
    # same read-back schema and values (partition col re-inferred)
    got_f = spark.read.parquet(fast)
    got_s = spark.read.parquet(slow)
    assert got_f.schema == got_s.schema
    assert _canon(got_f.collect()) == _canon(got_s.collect())
    # footer stats present on both (data skipping depends on them)
    ff = [os.path.join(r, n) for r, _d2, fs in os.walk(fast)
          for n in fs if n.endswith(".parquet")]
    md = pq.read_metadata(ff[0])
    col = md.row_group(0).column(0)
    assert col.statistics is not None
    assert col.statistics.has_min_max


def test_hive_tmp_field_ids_match_spark(spark, tmp_path):
    import pyarrow.parquet as pq

    rows = [(i, i * 2) for i in range(5)]
    schema = StructType.fromDDL("a int, b long")
    fast = str(tmp_path / "fast")
    slow = str(tmp_path / "slow")
    assert write_rows_hive_tmp(
        rows, schema, fast, field_ids={"a": 7, "b": 9}
    )
    spark.conf.set("spark.sql.parquet.fieldId.write.enabled", "true")
    from rust_dataframe_spark.sources.fieldid import with_field_ids

    with_field_ids(
        local_rows_df(spark, rows, "a int, b long"), {"a": 7, "b": 9}
    ).write.mode("overwrite").parquet(slow)

    def ids_of(root):
        f = next(
            os.path.join(r, n) for r, _d2, fs in os.walk(root)
            for n in sorted(fs) if n.endswith(".parquet")
        )
        return {
            fld.name: (fld.metadata or {}).get(b"PARQUET:field_id")
            for fld in pq.read_schema(f)
        }

    assert ids_of(fast) == ids_of(slow) == {"a": b"7", "b": b"9"}


def test_hive_tmp_fallbacks(tmp_path):
    schema = StructType.fromDDL("a int")
    part = StructType.fromDDL("a int, p string")
    # empty input
    assert not write_rows_hive_tmp([], schema, str(tmp_path / "t1"))
    # >4096 rows (would be a multi-slice frame -> different census)
    assert not write_rows_hive_tmp(
        [(i,) for i in range(4097)], schema, str(tmp_path / "t2"),
    )
    # unsupported data type
    ts = StructType.fromDDL("a timestamp")
    assert not write_rows_hive_tmp([(None,)], ts, str(tmp_path / "t3"))
    # null partition value (Spark path fail-louds; fast path declines)
    assert not write_rows_hive_tmp(
        [(1, None)], part, str(tmp_path / "t4"), ["p"],
    )
    # partition value Spark would hive-escape
    assert not write_rows_hive_tmp(
        [(1, "a b:c")], part, str(tmp_path / "t5"), ["p"],
    )
    # missing field id
    assert not write_rows_hive_tmp(
        [(1,)], schema, str(tmp_path / "t6"), field_ids={},
    )
    # partition types whose str() differs from Spark's dir name:
    # boolean renders True (Spark: true), double 0.0002 (Spark: 2.0E-4)
    assert not write_rows_hive_tmp(
        [(1, True)], StructType.fromDDL("a int, flag boolean"),
        str(tmp_path / "t7"), ["flag"],
    )
    assert not write_rows_hive_tmp(
        [(1, 0.0002)], StructType.fromDDL("a int, x double"),
        str(tmp_path / "t8"), ["x"],
    )
    # the same types are fine as DATA columns
    assert write_rows_hive_tmp(
        [(1, True, 0.0002)],
        StructType.fromDDL("a int, flag boolean, x double"),
        str(tmp_path / "t9"), ["a"],
    )
    # nothing was written for any declined case
    assert sorted(os.listdir(tmp_path)) == ["t9"]


def test_hive_tmp_row_order_preserved(spark, tmp_path):
    # positions within a data file are load-bearing for position
    # deletes: input order within each partition group must survive
    rows = [(i, i % 2) for i in range(10)]
    fast = str(tmp_path / "fast")
    assert write_rows_hive_tmp(
        rows, StructType.fromDDL("id int, p int"), fast, ["p"]
    )
    got = [
        r.id for r in spark.read.parquet(os.path.join(fast, "p=0"))
        .collect()
    ]
    assert got == [0, 2, 4, 6, 8]


# ---------------------------------------------------------------------------
# end-to-end writer equivalence (fast path vs tag-stripped slow path)
# ---------------------------------------------------------------------------


def test_delta_commit_fast_vs_slow(spark, tmp_path):
    rows = [(i, i % 3, i * 2) for i in range(20)]
    ddl = "id int, p int, val int"
    pa_t = str(tmp_path / "fastd")
    sp_t = str(tmp_path / "slowd")
    d.write_delta_commit(
        spark, pa_t, local_rows_df(spark, rows, ddl),
        partition_by=["p"],
    )
    d.write_delta_commit(
        spark, sp_t, _untag(local_rows_df(spark, rows, ddl)),
        partition_by=["p"],
    )
    assert _census(pa_t) == _census(sp_t)
    a = d.read_delta(spark, pa_t)
    b = d.read_delta(spark, sp_t)
    assert a.schema == b.schema
    assert _canon(a.collect()) == _canon(b.collect())
    # per-file stats in the log match (numRecords + min/max)
    import json as _json

    def stats(p):
        _m, adds = d.delta_snapshot_files(spark, p)
        return sorted(
            (a2["partitionValues"]["p"],
             _json.loads(a2["stats"])["numRecords"],
             _json.loads(a2["stats"]).get("minValues"),
             _json.loads(a2["stats"]).get("maxValues"))
            for a2 in adds
        )

    assert stats(pa_t) == stats(sp_t)


def test_delta_commit_fast_vs_slow_id_mode(spark, tmp_path):
    rows = [(i, i % 2, i * 3) for i in range(8)]
    ddl = "id int, p int, val int"
    pa_t = str(tmp_path / "fastid")
    sp_t = str(tmp_path / "slowid")
    for path, tag in ((pa_t, True), (sp_t, False)):
        frame = local_rows_df(spark, rows, ddl)
        if not tag:
            _untag(frame)
        d.write_delta_commit(
            spark, path, frame, partition_by=["p"],
            column_mapping="id",
        )
    a = d.read_delta(spark, pa_t)
    b = d.read_delta(spark, sp_t)
    assert a.schema == b.schema
    assert _canon(a.collect()) == _canon(b.collect())


def test_iceberg_commit_fast_vs_slow_identity(spark, tmp_path):
    rows = [(i, i % 2, i * 5) for i in range(10)]
    ddl = "id int, p int, val int"
    pa_t = str(tmp_path / "fasti")
    sp_t = str(tmp_path / "slowi")
    ice.write_iceberg_commit(
        spark, pa_t, local_rows_df(spark, rows, ddl),
        partition_by=["p"],
    )
    ice.write_iceberg_commit(
        spark, sp_t, _untag(local_rows_df(spark, rows, ddl)),
        partition_by=["p"],
    )
    a = ice.read_iceberg(spark, pa_t)
    b = ice.read_iceberg(spark, sp_t)
    assert a.schema == b.schema
    assert _canon(a.collect()) == _canon(b.collect())

    # manifest bounds identical (metadata pruning keys on them)
    def bounds(p):
        _m, files = ice.iceberg_snapshot_files(p)
        return sorted(
            (f["partition"].get("p"), f["record_count"],
             f.get("lower_bounds"), f.get("upper_bounds"))
            for f in files
        )

    assert bounds(pa_t) == bounds(sp_t)


def test_iceberg_commit_fast_vs_slow_transforms(spark, tmp_path):
    from datetime import date, timedelta

    rows = [
        (i, i % 7, date(2024, 3, 1) + timedelta(days=i % 3), f"w{i}")
        for i in range(15)
    ]
    ddl = "id int, k int, d date, s string"
    tr = [("k_b", "k", "bucket[4]"), ("d_day", "d", "day"),
          ("s_t", "s", "truncate[2]")]
    pa_t = str(tmp_path / "fastt")
    sp_t = str(tmp_path / "slowt")
    ice.write_iceberg_commit(
        spark, pa_t, local_rows_df(spark, rows, ddl),
        partition_transforms=tr,
    )
    ice.write_iceberg_commit(
        spark, sp_t, _untag(local_rows_df(spark, rows, ddl)),
        partition_transforms=tr,
    )
    a = ice.read_iceberg(spark, pa_t)
    b = ice.read_iceberg(spark, sp_t)
    assert a.schema == b.schema
    assert _canon(a.collect()) == _canon(b.collect())

    def parts(p):
        _m, files = ice.iceberg_snapshot_files(p)
        return sorted(
            (tuple(sorted(f["partition"].items())), f["record_count"])
            for f in files
        )

    assert parts(pa_t) == parts(sp_t)


def test_hudi_commit_fast_vs_slow_meta_fields(spark, tmp_path):
    rows = [(i, i % 2, i * 2) for i in range(10)]
    ddl = "id int, p int, val int"
    pa_t = str(tmp_path / "fasth")
    sp_t = str(tmp_path / "slowh")
    h.write_hudi_commit(
        spark, pa_t, local_rows_df(spark, rows, ddl),
        partition_by=["p"], meta_fields=True,
    )
    h.write_hudi_commit(
        spark, sp_t, _untag(local_rows_df(spark, rows, ddl)),
        partition_by=["p"], meta_fields=True,
    )
    a = h.read_hudi(spark, pa_t).drop("_hoodie_commit_time")
    b = h.read_hudi(spark, sp_t).drop("_hoodie_commit_time")
    assert a.schema == b.schema
    assert _canon(a.collect()) == _canon(b.collect())
    # the meta column exists and is the commit instant in both
    ta = h.read_hudi(spark, pa_t).select("_hoodie_commit_time").distinct()
    assert ta.count() == 1


def test_cdf_rewrite_local_vs_distributed(spark, tmp_path, monkeypatch):
    rows = [(i, i * 10) for i in range(12)]
    ddl = "id int, v long"

    def build(path, fast):
        monkeypatch.setattr(
            lakehouse_util, "DRIVER_BYTES", (8 << 20) if fast else -1
        )
        d.write_delta_commit(
            spark, path, local_rows_df(spark, rows, ddl),
            enable_cdf=True,
        )
        d.update_delta_rows_cdf(spark, path, "id = 5", {"v": "v + 1"})
        d.delete_delta_rows_cdf(spark, path, "id = 7")
        return d.read_delta_changes(
            spark, path, starting_version=0, ending_version=2
        )

    a = build(str(tmp_path / "fastc"), True)
    b = build(str(tmp_path / "slowc"), False)
    assert a.schema == b.schema
    assert _canon(a.collect()) == _canon(b.collect())
    # the rewritten table itself matches too
    ta = d.read_delta(spark, str(tmp_path / "fastc"))
    tb = d.read_delta(spark, str(tmp_path / "slowc"))
    assert _canon(ta.collect()) == _canon(tb.collect())


def test_cdf_rewrite_local_null_condition(spark, tmp_path, monkeypatch):
    # NULL condition rows drop from BOTH outputs on delete (the
    # distributed filter semantics) — pin the local path replicates it
    rows = [(1, 10), (2, None), (3, 30)]
    ddl = "id int, v long"

    def build(path, fast):
        monkeypatch.setattr(
            lakehouse_util, "DRIVER_BYTES", (8 << 20) if fast else -1
        )
        d.write_delta_commit(
            spark, path, local_rows_df(spark, rows, ddl),
            enable_cdf=True,
        )
        d.delete_delta_rows_cdf(spark, path, "v > 15")
        return d.read_delta(spark, path)

    a = build(str(tmp_path / "fn"), True)
    b = build(str(tmp_path / "sn"), False)
    assert _canon(a.collect()) == _canon(b.collect())
    # the null-condition row (id=2) vanished in both
    assert sorted(r.id for r in a.collect()) == [1]


def test_compact_local_vs_distributed(spark, tmp_path, monkeypatch):
    rows_a = [(i, i % 2) for i in range(10)]
    rows_b = [(100 + i, i % 2) for i in range(6)]
    ddl = "id int, p int"

    def build(path, fast):
        monkeypatch.setattr(
            lakehouse_util, "DRIVER_BYTES", (8 << 20) if fast else -1
        )
        d.write_delta_commit(
            spark, path, local_rows_df(spark, rows_a, ddl),
            partition_by=["p"],
        )
        d.write_delta_commit(
            spark, path, local_rows_df(spark, rows_b, ddl),
            partition_by=["p"],
        )
        d.compact_delta_files(spark, path)
        return d.read_delta(spark, path)

    a = build(str(tmp_path / "fo"), True)
    b = build(str(tmp_path / "so"), False)
    assert a.schema == b.schema
    assert _canon(a.collect()) == _canon(b.collect())
    # one compacted file per partition in both
    assert _census(str(tmp_path / "fo")) == _census(str(tmp_path / "so"))


def test_compact_local_with_dvs(spark, tmp_path, monkeypatch):
    rows = [(i, i * 2) for i in range(10)]
    ddl = "id int, v int"

    def build(path, fast):
        monkeypatch.setattr(
            lakehouse_util, "DRIVER_BYTES", (8 << 20) if fast else -1
        )
        d.write_delta_commit(
            spark, path, local_rows_df(spark, rows, ddl)
        )
        _m, adds = d.delta_snapshot_files(spark, path)
        d.write_delta_delete_rows(
            spark, path, {adds[0]["path"]: [2, 5]}
        )
        d.compact_delta_files(spark, path)
        return d.read_delta(spark, path)

    a = build(str(tmp_path / "fdv"), True)
    b = build(str(tmp_path / "sdv"), False)
    assert _canon(a.collect()) == _canon(b.collect())
    assert sorted(r.id for r in a.collect()) == [0, 1, 3, 4, 6, 7, 8, 9]


def test_tag_semantics(spark):
    df = local_rows_df(spark, [(1, 2)], "a int, b int")
    assert driver_rows(df) == [(1, 2)]
    # any transformation drops the tag
    assert driver_rows(df.select("a")) is None
    assert driver_rows(df.filter("a = 1")) is None
    # >4096 rows: multi-slice, never tagged
    big = local_rows_df(
        spark, [(i, i) for i in range(5000)], "a int, b int"
    )
    assert driver_rows(big) is None
    # the gate's type whitelists: data vs partition columns
    mixed = local_rows_df(spark, [(1, True)], "a int, flag boolean")
    assert driver_rows(mixed) == [(1, True)]
    assert driver_rows(mixed, ["a"]) == [(1, True)]
    assert driver_rows(mixed, ["flag"]) is None
    stamped = local_rows_df(
        spark, [(1, datetime.datetime(2024, 1, 1))], "a int, t timestamp"
    )
    assert driver_rows(stamped) is None


def test_compact_local_duplicate_basename_raises(spark, tmp_path):
    # two live files in two directories share one basename and one
    # carries a DV: keyed by basename, its tombstones would also drop
    # rows of the other file, so compaction must refuse as the
    # distributed branch does
    import json
    import shutil

    path = str(tmp_path / "dup")
    d.write_delta_commit(
        spark, path, local_rows_df(spark, [(i,) for i in range(6)], "id int")
    )
    _m, adds = d.delta_snapshot_files(spark, path)
    rel = adds[0]["path"]
    os.makedirs(os.path.join(path, "copy"))
    shutil.copy(os.path.join(path, rel), os.path.join(path, "copy", rel))
    with open(os.path.join(path, d._LOG, d._commit_name(1)), "w") as fh:
        fh.write(json.dumps({"add": dict(adds[0], path=f"copy/{rel}")}))
    d.write_delta_delete_rows(spark, path, {rel: [1, 4]})
    with pytest.raises(d.DeltaError, match="duplicate data-file basename"):
        d.compact_delta_files(spark, path)


def test_hudi_log_struct_column_collects(spark, tmp_path):
    # a struct column is outside the gate: the log writer collects
    # (nested dicts) instead of encoding raw tuples, and reads back
    ddl = "id int, s struct<a:int,b:string>, p int"
    path = str(tmp_path / "hs")
    h.write_hudi_commit(
        spark, path,
        local_rows_df(
            spark, [(i, (i, f"b{i}"), i % 2) for i in range(6)], ddl
        ),
        partition_by=["p"], table_type="MERGE_ON_READ", record_key="id",
    )
    ups = local_rows_df(spark, [(2, (200, "x"), 0), (3, None, 1)], ddl)
    assert driver_rows(ups, ["p"]) is None
    h.write_hudi_log_commit(spark, path, ups)
    got = {
        r.id: (r.s.asDict() if r.s is not None else None)
        for r in h.read_hudi(spark, path).collect()
    }
    assert got == {
        0: {"a": 0, "b": "b0"}, 1: {"a": 1, "b": "b1"},
        2: {"a": 200, "b": "x"}, 3: None,
        4: {"a": 4, "b": "b4"}, 5: {"a": 5, "b": "b5"},
    }


def test_driver_write_gate_lives_in_one_module():
    # the driver-side write decision is made in lakehouse_util only
    import pathlib
    import re

    pkg = pathlib.Path(lakehouse_util.__file__).resolve().parents[1]
    owner = pathlib.Path(lakehouse_util.__file__).resolve()
    patterns = [
        re.compile(r"\btagged_rows\("),
        re.compile(r"_FAST_(DATA|PART)_TYPES"),
        re.compile(r"^\s*\w*DRIVER_BYTES\s*=", re.M),
    ]
    offenders = [
        (str(f.relative_to(pkg)), p.pattern)
        for f in sorted(pkg.rglob("*.py")) if f.resolve() != owner
        for p in patterns if p.search(f.read_text(encoding="utf-8"))
    ]
    assert offenders == []
    delta_src = (pkg / "sources" / "delta.py").read_text(encoding="utf-8")
    assert "os.environ" not in delta_src


# ---------------------------------------------------------------------------
# property: a tagged frame and its untagged twin commit identically
# ---------------------------------------------------------------------------

_ATOMIC = {
    "boolean": st.booleans(),
    "tinyint": st.integers(-(1 << 7), (1 << 7) - 1),
    "smallint": st.integers(-(1 << 15), (1 << 15) - 1),
    "int": st.integers(-(1 << 31), (1 << 31) - 1),
    "bigint": st.integers(-(1 << 63), (1 << 63) - 1),
    "float": st.floats(width=32),
    "double": st.floats(),
    "string": st.one_of(
        st.text(alphabet="ab1._-", min_size=1, max_size=3),
        st.text(
            alphabet=st.characters(blacklist_categories=("Cs",)),
            max_size=3,
        ),
    ),
    "date": st.dates(
        min_value=datetime.date(1900, 1, 1),
        max_value=datetime.date(2100, 12, 31),
    ),
    "timestamp": st.datetimes(
        min_value=datetime.datetime(1970, 1, 2),
        max_value=datetime.datetime(2100, 1, 1),
    ),
    "decimal(10,2)": st.decimals(
        min_value=-(10 ** 7), max_value=10 ** 7, places=2,
        allow_nan=False, allow_infinity=False,
    ),
}


@st.composite
def _frames(draw):
    types = draw(st.lists(st.sampled_from(sorted(_ATOMIC)), min_size=1,
                          max_size=4))
    names = [f"c{i}" for i in range(len(types))]
    rows = draw(st.lists(
        st.tuples(*[
            # about one value in eight is null
            st.integers(0, 7).flatmap(
                lambda k, t=t: st.none() if k == 0 else _ATOMIC[t]
            )
            for t in types
        ]),
        min_size=1, max_size=6,
    ))
    part = draw(st.lists(st.sampled_from(names), unique=True,
                         max_size=min(2, len(names))))
    ddl = ", ".join(f"{n} {t}" for n, t in zip(names, types))
    return ddl, rows, part


def _delta_outcome(spark, path, frame, partition_by):
    import json

    try:
        d.write_delta_commit(spark, path, frame, partition_by=partition_by)
    except Exception as e:  # both paths must refuse alike
        return ("error", type(e).__name__)
    _m, adds = d.delta_snapshot_files(spark, path)
    return (
        sorted(a["path"].rpartition("/")[0] for a in adds),
        sorted(json.dumps(a["partitionValues"], sort_keys=True)
               for a in adds),
        _census(path),
        _canon(d.read_delta(spark, path).collect()),
    )


@settings(max_examples=25, deadline=None, derandomize=True,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.too_slow])
@given(frame=_frames())
@example(frame=("c0 int, c1 boolean", [(1, True), (2, False)], ["c1"]))
@example(frame=("c0 int, c1 double", [(1, 0.0002), (2, 0.5)], ["c1"]))
def test_delta_commit_tagged_equals_untagged(spark, tmp_path, frame):
    import uuid

    ddl, rows, part = frame
    root = tmp_path / uuid.uuid4().hex[:8]
    fast = _delta_outcome(
        spark, str(root / "t"), local_rows_df(spark, rows, ddl), part
    )
    slow = _delta_outcome(
        spark, str(root / "u"), _untag(local_rows_df(spark, rows, ddl)),
        part,
    )
    assert fast == slow
