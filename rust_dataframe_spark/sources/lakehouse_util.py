"""Shared lakehouse-reader helper: re-inject per-file metadata
(partition values) over ONE distributed scan.

All three lakehouse readers (sources/delta.py, iceberg.py, hudi.py)
read every live data file in a single ``spark.read.parquet`` scan and
join the per-file partition values back via ``input_file_name()`` with
a broadcast map — no per-partition union chains, scale-safe at 100 TB.

Join key subtlety: ``input_file_name()`` returns a percent-encoded
URI (``file:///…/p=a%20b/part-….parquet``), while the reader holds
decoded filesystem paths, and the two encodings (Hadoop ``Path.toUri``
vs ``urllib.quote``) don't agree on every character.  Rather than
re-implement Hadoop's escaping, the join key is the part-file
BASENAME: every lakehouse writer (Delta/Iceberg/Hudi, Spark's own
committers) embeds a UUID in the file name, so basenames are unique
per table and URI-safe ASCII.  Uniqueness is verified loudly before
the join — a duplicate basename falls back to nothing silently wrong.

Driver-side writes.  This module is the only place that decides
whether a lakehouse write may skip its Spark job:

* :func:`driver_rows` is the gate for a DataFrame.  It returns the rows
  of a tagged one-slice :func:`local_rows_df` frame only when every
  data column's type is in ``_FAST_DATA_TYPES``, every partition
  column's type is in ``_FAST_PART_TYPES`` and there are at most 4096
  rows; otherwise None, and the caller runs its Spark job.  Callers:
  the Delta, Iceberg (parquet) and Hudi commits, the Iceberg
  equality-delete writer and the Hudi log writer.
* :func:`write_rows_hive_tmp` writes gated rows in the hive layout the
  Spark job would produce.  It re-applies the same predicate, so the
  Iceberg position-delete writer can hand it a plain row list.
* ``DRIVER_BYTES`` (8 MiB) is the one byte budget for the size-gated
  driver halves in sources/delta.py: checkpoint replay, the CDF
  rewrite and OPTIMIZE compaction.
* :func:`arrow_table` is the one rows→Arrow conversion those writers
  share.
"""

from __future__ import annotations

import os
import re
import uuid

from pyspark.sql import DataFrame, functions as F


_PRED_RE = __import__("re").compile(
    r"^\s*`?([A-Za-z_]\w*)`?\s*(<=|>=|==|=|<|>)\s*(.+?)\s*$"
)


def parse_conjuncts(where: str) -> list[tuple[str, str, object]]:
    """Best-effort parse of ``a AND b AND ...`` into (column, op,
    literal) triples for METADATA-SIDE file pruning.  Conjuncts that
    don't fit the simple col-op-literal shape are dropped — pruning
    is advisory in every caller (the residual filter still runs), so
    a dropped conjunct costs pruning power, never correctness.

    Disjunction guard: an OR (or NOT) anywhere makes the AND-split
    unsound — ``x = 1 AND y = 2 OR z = 3`` would yield a false
    'required' conjunct ``x = 1`` and prune files that only satisfy
    the ``z = 3`` arm, which the residual filter CANNOT restore.  Any
    OR/NOT token (word match, case-insensitive, including inside
    string literals — conservative) disables pruning entirely."""
    import re as _re

    if _re.search(r"(?i)\b(or|not)\b", where):
        return []
    out: list[tuple[str, str, object]] = []
    for part in _re.split(r"(?i)\s+and\s+", where):
        m = _PRED_RE.match(part)
        if not m:
            continue
        col, op, lit = m.groups()
        lit = lit.strip()
        if (lit.startswith("'") and lit.endswith("'")) or (
            lit.startswith('"') and lit.endswith('"')
        ):
            val = lit[1:-1]
            if "'" in val or '"' in val:
                # a quote surviving inside the stripped literal means
                # the AND-split cut through a string — unsound, drop
                continue
            val: object = val
        else:
            try:
                val = int(lit)
            except ValueError:
                try:
                    val = float(lit)
                except ValueError:
                    continue
        out.append((col, op, val))
    return out


def range_survives(lo, hi, op: str, val) -> bool:
    """False only when a file's [lo, hi] value interval PROVES no row
    can satisfy ``column op val``; None bounds always survive."""
    try:
        if op in ("=", "=="):
            if (hi is not None and hi < val) or (
                lo is not None and lo > val
            ):
                return False
        elif op == "<":
            if lo is not None and lo >= val:
                return False
        elif op == "<=":
            if lo is not None and lo > val:
                return False
        elif op == ">":
            if hi is not None and hi <= val:
                return False
        elif op == ">=":
            if hi is not None and hi < val:
                return False
    except TypeError:
        return True  # uncomparable literal: keep the file
    return True


def local_rows_df(spark, rows: list, schema: str):
    """Slice-capped DataFrame from driver-local rows.

    ``spark.createDataFrame(rows, ddl)`` parallelizes the list into
    ``defaultParallelism`` pickled slices (32 on local[32], mostly
    empty for fixture-sized data); a later ``.coalesce(1)`` then
    evaluates all 32 slices SEQUENTIALLY in one task — one Python
    worker round-trip each, ~4.5 s of pure overhead measured for a
    24-row frame (guide §4: every Python-boundary crossing costs).
    Slices are therefore capped at one per 4096 rows (fixture-sized
    frames get exactly ONE): the same rows, the same output, one
    Python round-trip for the common case, while a genuinely large
    driver-side list (e.g. a million-file manifest map) still spreads
    across the cluster."""
    n = max(1, min(
        spark.sparkContext.defaultParallelism, (len(rows) + 4095) // 4096
    ))
    df = spark.createDataFrame(
        spark.sparkContext.parallelize(rows, numSlices=n), schema
    )
    if n == 1:
        # Fast-path tag: the lakehouse writers recognize a one-slice
        # local frame and can write its data file DRIVER-SIDE (pyarrow)
        # instead of launching a Spark write job (~0.25-0.4 s each; see
        # write_rows_hive_tmp).  The tag lives on this exact DataFrame
        # object only — any transformation returns an untagged frame,
        # so a derived plan can never be mistaken for driver rows.
        try:
            df._sg_rows = [tuple(r) for r in rows]
        except Exception:
            pass
    return df


def tagged_rows(df: DataFrame) -> list[tuple] | None:
    """Driver-local rows of a one-slice :func:`local_rows_df` frame,
    or None for any other DataFrame (including anything derived from
    a tagged frame by a transformation).  Writers go through
    :func:`driver_rows`, which adds the type and size checks."""
    return getattr(df, "_sg_rows", None)


# Byte budget for the size-gated driver halves in sources/delta.py
# (checkpoint replay, CDF rewrite, OPTIMIZE compaction): at or under
# it the work runs in pyarrow on the driver, above it the distributed
# path runs unchanged.  8 MiB never opens at scale.
DRIVER_BYTES = 8 << 20
# One tagged frame is at most one slice of local_rows_df.  More rows
# would be a multi-slice frame, where the Spark job writes one file
# PER SLICE per value: a different file census.
_MAX_DRIVER_ROWS = 4096
# Data-column types for which the pyarrow write is pinned equal to
# Spark's parquet writer (tests/test_r13_opt.py: same read-back schema
# and values, same footer row counts and min/max stats, same census).
_FAST_DATA_TYPES = {
    "integer", "long", "string", "double", "float", "boolean", "date",
    "short", "byte",
}
# Partition columns must also render to the directory string Spark
# writes.  Python's str() agrees with Spark for these types only: a
# boolean renders ``True`` where Spark writes ``true``, a double
# ``0.0002`` where Spark writes ``2.0E-4``.
_FAST_PART_TYPES = {"integer", "long", "string", "date", "short", "byte"}
# Characters Spark/Hive never escape in a partition dir name.  Anything
# outside (including '%', so unquote() round-trips) falls back.
_SAFE_PART_RE = re.compile(r"^[A-Za-z0-9._+-]+$")


def driver_types_ok(schema, partition_by=()) -> bool:
    """True when every column of ``schema`` has a type the driver-side
    writers are pinned for: partition columns (by name) against
    ``_FAST_PART_TYPES``, all others against ``_FAST_DATA_TYPES``."""
    return all(
        f.dataType.typeName() in (
            _FAST_PART_TYPES if f.name in partition_by
            else _FAST_DATA_TYPES
        )
        for f in schema.fields
    )


def driver_rows(df: DataFrame, partition_by=()) -> list[tuple] | None:
    """THE gate for driver-side writes of a DataFrame: the rows of a
    tagged one-slice frame when every column type passes
    :func:`driver_types_ok` and there are at most 4096 rows; None
    otherwise, and the caller runs its Spark job."""
    rows = tagged_rows(df)
    if (
        rows is None or len(rows) > _MAX_DRIVER_ROWS
        or not driver_types_ok(df.schema, partition_by)
    ):
        return None
    return rows


def arrow_table(rows: list[tuple], schema):
    """pyarrow Table of driver-local row tuples under an arrow
    ``schema`` (one ``pa.array`` per column, typed by the schema)."""
    import pyarrow as pa

    return pa.Table.from_arrays(
        [
            pa.array([r[i] for r in rows], type=t)
            for i, t in enumerate(schema.types)
        ],
        schema=schema,
    )


def write_rows_hive_tmp(
    rows: list[tuple],
    schema,
    tmp: str,
    partition_by=(),
    *,
    field_ids: dict[str, int] | None = None,
) -> bool:
    """Driver-side twin of ``df.write.mode('overwrite')
    .partitionBy(*partition_by).parquet(tmp)`` for ONE-SLICE local-rows
    frames (guide §5: the driver should do almost no data work — and a
    distributed write job over a driver-local fixture list is exactly
    that work, ~0.25-0.4 s of scheduling per tiny commit).

    ``rows`` are full row tuples aligned with the Spark ``schema``,
    partition columns included, in input order.  Produces the SAME
    tmp layout the Spark job would: hive partition dirs ``k=v`` in
    ``partition_by`` order, ONE part file per partition value (a
    one-slice frame is a one-task write), data columns in schema order
    minus the partition columns, footer min/max statistics on, optional
    ``PARQUET:field_id`` stamping keyed by data-column name.
    Returns False — caller runs the original Spark job — whenever
    equivalence is not provable: empty input, rows or types failing
    the :func:`driver_rows` predicate, no data column left after the
    partition columns, a partition value that is null or would be
    hive-escaped (chars outside ``_SAFE_PART_RE``), or a data column
    without a field id."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    if (
        not rows or len(rows) > _MAX_DRIVER_ROWS
        or not driver_types_ok(schema, partition_by)
    ):
        return False
    names = [f.name for f in schema.fields]
    pidx = [names.index(c) for c in partition_by]
    didx = [i for i, c in enumerate(names) if c not in partition_by]
    if not didx:
        return False  # Spark refuses to partition by every column
    arrow_schema = to_arrow_schema(
        StructType([schema.fields[i] for i in didx])
    )
    if field_ids is not None:
        if any(n not in field_ids for n in arrow_schema.names):
            return False
        arrow_schema = pa.schema([
            f.with_metadata(
                {b"PARQUET:field_id": str(int(field_ids[f.name])).encode()}
            )
            for f in arrow_schema
        ])
    # stable group by partition tuple: input order within each group is
    # exactly the one-task Spark write's order (positions in the file
    # matter to position-delete fixtures)
    groups: dict[tuple, list[tuple]] = {}
    for r in rows:
        pv = tuple(r[i] for i in pidx)
        if any(v is None or not _SAFE_PART_RE.match(str(v)) for v in pv):
            return False  # null: Spark path fail-louds identically
        groups.setdefault(pv, []).append(tuple(r[i] for i in didx))
    try:
        for pv, grp in groups.items():
            sub = "/".join(
                f"{c}={v}" for c, v in zip(partition_by, pv)
            )
            out_dir = os.path.join(tmp, sub) if sub else tmp
            os.makedirs(out_dir, exist_ok=True)
            pq.write_table(
                arrow_table(grp, arrow_schema),
                os.path.join(
                    out_dir, f"part-00000-{uuid.uuid4().hex[:12]}.parquet"
                ),
                compression="snappy",
            )
    except Exception:
        # half-written tmp must not leak into the caller's discovery
        import shutil

        shutil.rmtree(tmp, ignore_errors=True)
        return False
    return True


def assert_unique_basenames(
    paths: list[str], *, err_cls: type[Exception], tag: str
) -> None:
    """Loud duplicate-basename check for any basename-keyed join.

    ``attach_file_values`` performs this check itself, but the
    position-delete / deletion-vector anti-joins key on the scan
    basename WITHOUT going through it — an unpartitioned table with
    two live files sharing a basename in different directories would
    otherwise tombstone rows in the wrong file silently."""
    seen: dict[str, str] = {}
    for path in paths:
        base = os.path.basename(path)
        if base in seen and seen[base] != path:
            raise err_cls(
                f"{tag}: duplicate data-file basename {base!r} "
                "(basename-keyed row-level-delete join would be "
                "ambiguous)"
            )
        seen[base] = path


def attach_file_values(
    df: DataFrame,
    spark,
    file_to_vals: list[tuple[str, list]],
    value_cols: list[str],
    *,
    err_cls: type[Exception],
    tag: str,
    key_col: str | None = None,
) -> DataFrame:
    """Broadcast-join ``value_cols`` onto ``df`` keyed by the source
    file of each row.  ``file_to_vals`` is ``[(abs file path,
    [values...]), ...]`` — one entry per live data file.  With
    ``key_col`` the basename was already computed into that column
    (needed when a join sits between the scan and this call, where
    ``input_file_name()`` would be ambiguous); the column is kept."""
    rows = []
    seen: dict[str, str] = {}
    for path, vals in file_to_vals:
        base = os.path.basename(path)
        if base in seen and seen[base] != path:
            raise err_cls(
                f"{tag}: duplicate data-file basename {base!r} "
                "(file-map join would be ambiguous)"
            )
        seen[base] = path
        rows.append((base, *vals))
    key = key_col or f"__{tag}_file"
    map_df = spark.createDataFrame(
        spark.sparkContext.parallelize(
            rows,
            numSlices=max(1, min(
                spark.sparkContext.defaultParallelism,
                (len(rows) + 4095) // 4096,
            )),
        ),
        [key] + [f"__pv_{c}" for c in value_cols],
    )
    if key_col is None:
        df = df.withColumn(
            key, F.element_at(F.split(F.input_file_name(), "/"), -1)
        )
    out = df.join(F.broadcast(map_df), key, "left")
    return out if key_col else out.drop(key)
