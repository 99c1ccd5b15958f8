"""Catalog queries whose LIMIT cuts through rows tied on the leading sort
keys must still select the same rows as their DuckDB oracle."""

from __future__ import annotations

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

from rust_dataframe_spark import catalog


def _lineitem(root):
    """120 rows that all pass q02's filter.  Six of them share the key
    ``(98, 1)`` and fill sorted positions 98-103, so ``LIMIT 100`` keeps
    three of the six; they are written in descending revenue order and
    spread over three files."""
    rows = [(k, 1, 1000.0 + k, 46.0 + k % 3) for k in range(1, 98)]
    rows += [(98, 1, 3000.0 - 100.0 * t, 47.0 + t % 2) for t in range(6)]
    rows += [(k, 1, 1000.0 + k, 46.0) for k in range(99, 116)]
    (root / "lineitem.parquet").mkdir()
    for f in range(3):
        part = rows[f::3]
        pq.write_table(
            pa.table({
                "l_orderkey": pa.array([r[0] for r in part], pa.int64()),
                "l_linenumber": pa.array([r[1] for r in part], pa.int32()),
                "l_quantity": pa.array([r[3] for r in part], pa.float64()),
                "l_extendedprice": pa.array([r[2] for r in part], pa.float64()),
                "l_discount": pa.array([0.05] * len(part), pa.float64()),
            }),
            root / "lineitem.parquet" / f"part-{f}.parquet",
        )


def test_q02_limit_through_tied_keys_matches_oracle(spark, tmp_path):
    _lineitem(tmp_path)
    name = "q02_select_filter_project"
    got = [tuple(r) for r in catalog.QUERIES[name](spark, str(tmp_path)).collect()]
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW lineitem AS SELECT * FROM "
        f"read_parquet('{tmp_path}/lineitem.parquet/*.parquet')"
    )
    want = con.execute(catalog.ORACLE[name]).fetchall()
    assert len(got) == 100
    assert [r[:2] for r in got[97:100]] == [(98, 1)] * 3
    assert got == want
