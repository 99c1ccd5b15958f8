"""Pure-stdlib Avro Object Container File source & sink — the third
row/columnar interchange format next to parquet/ORC/Arrow-IPC.

Spark's own ``format("avro")`` lives in the external spark-avro module,
which (like the H2 jar) is not bundled and not fetchable in this
environment.  But the Avro 1.x container format itself (the public spec:
magic ``Obj\\x01``, a metadata map carrying the JSON schema + codec, then
sync-delimited blocks of binary-encoded records) needs nothing beyond
``json``, ``struct`` and ``zlib`` — the same move as the PNG codec
(operators/png.py): implement the documented subset honestly instead of
stubbing.

Supported subset (documented, validated, everything else raises):
records of primitive fields — null / boolean / int / long / float /
double / string / bytes — plus the 2-branch nullable union
``["null", <prim>]``; codecs ``null`` and ``deflate``.  That covers the
interchange shapes the reference's IO layer handles (flat typed tables,
io/datasource.rs).  Spark struct columns map to nested records (the
Hudi log writer carries them); no enums, and the Spark schema mapping
has no maps or arrays.

Spark integration mirrors the Arrow-IPC pair in sources/files.py:

* :func:`write_avro_dir` — each partition encodes its rows and writes
  ``part-{pid:05d}.avro`` (deterministic name -> idempotent retries); the
  driver never touches record bytes.
* :func:`read_avro_dir` — ``binaryFile`` scan + mapInPandas decode, one
  task per file, driver never touches record bytes.  Whole-file-per-task
  is the documented granularity (Avro blocks ARE splittable on the sync
  marker; per-file tasks keep this implementation small — size files via
  the writer's partitioning).
"""

from __future__ import annotations

import io
import json
import os
import struct
import zlib

from pyspark.sql import DataFrame, SparkSession

__all__ = [
    "AvroError",
    "encode_records",
    "decode_records",
    "spark_schema_to_avro",
    "avro_schema_to_spark",
    "write_avro_dir",
    "read_avro_dir",
]

_MAGIC = b"Obj\x01"
_SYNC = bytes(range(16))  # fixed, deterministic sync marker
_PRIMS = {"null", "boolean", "int", "long", "float", "double", "string", "bytes"}


class AvroError(ValueError):
    """Malformed container bytes or a schema outside the supported subset."""


# --------------------------- binary primitives ------------------------------


def _zigzag_encode(n: int) -> bytes:
    u = (n << 1) ^ (n >> 63)
    out = bytearray()
    while True:
        b = u & 0x7F
        u >>= 7
        if u:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _zigzag_decode(buf: memoryview, pos: int) -> tuple[int, int]:
    shift = u = 0
    while True:
        if pos >= len(buf):
            raise AvroError("truncated varint")
        b = buf[pos]
        pos += 1
        u |= (b & 0x7F) << shift
        if not b & 0x80:
            break
        shift += 7
        if shift > 70:
            raise AvroError("varint too long")
    return (u >> 1) ^ -(u & 1), pos


def _write_value(out: bytearray, typ, v) -> None:
    if isinstance(typ, list):  # ["null", T]
        if v is None:
            out += _zigzag_encode(0)
            return
        out += _zigzag_encode(1)
        typ = typ[1]
    if isinstance(typ, dict):
        kind = typ.get("type")
        if kind == "record":
            if v is None:
                raise AvroError("record value is None outside a union")
            for f in typ["fields"]:
                _write_value(out, f["type"], (v or {}).get(f["name"]))
            return
        if kind == "array":
            items = list(v or [])
            if items:
                out += _zigzag_encode(len(items))
                for it in items:
                    _write_value(out, typ["items"], it)
            out += _zigzag_encode(0)
            return
        if kind == "map":
            pairs = dict(v or {})
            if pairs:
                out += _zigzag_encode(len(pairs))
                for k, mv in pairs.items():
                    raw = str(k).encode("utf-8")
                    out += _zigzag_encode(len(raw)) + raw
                    _write_value(out, typ["values"], mv)
            out += _zigzag_encode(0)
            return
        raise AvroError(f"unsupported complex type {kind!r}")
    if typ == "null":
        return
    if typ == "boolean":
        out.append(1 if v else 0)
    elif typ in ("int", "long"):
        out += _zigzag_encode(int(v))
    elif typ == "float":
        out += struct.pack("<f", float(v))
    elif typ == "double":
        out += struct.pack("<d", float(v))
    elif typ == "string":
        raw = str(v).encode("utf-8")
        out += _zigzag_encode(len(raw)) + raw
    elif typ == "bytes":
        raw = bytes(v)
        out += _zigzag_encode(len(raw)) + raw
    else:
        raise AvroError(f"unsupported type {typ!r}")


def _read_value(buf: memoryview, pos: int, typ):
    if isinstance(typ, list):
        idx, pos = _zigzag_decode(buf, pos)
        if not 0 <= idx < len(typ):
            raise AvroError(f"union branch {idx} out of range")
        typ = typ[idx]
    if isinstance(typ, dict):
        kind = typ.get("type")
        if kind == "record":
            rec = {}
            for f in typ["fields"]:
                rec[f["name"]], pos = _read_value(buf, pos, f["type"])
            return rec, pos
        if kind == "array":
            out = []
            while True:
                n, pos = _zigzag_decode(buf, pos)
                if n == 0:
                    return out, pos
                if n < 0:  # block with byte size (skippable variant)
                    n = -n
                    _sz, pos = _zigzag_decode(buf, pos)
                # Amplification bound: a crafted block can declare a
                # huge count of zero-byte items ('null' type) and loop
                # unboundedly.  Every honest non-null item consumes at
                # least one byte, and a null-typed collection larger
                # than the whole buffer is pathological — fail loud.
                if len(out) + n > len(buf) + 16:
                    raise AvroError(
                        "array block count exceeds buffer-derived "
                        "ceiling (decode-amplification guard)"
                    )
                for _ in range(n):
                    v, pos = _read_value(buf, pos, typ["items"])
                    out.append(v)
        if kind == "map":
            out = {}
            while True:
                n, pos = _zigzag_decode(buf, pos)
                if n == 0:
                    return out, pos
                if n < 0:
                    n = -n
                    _sz, pos = _zigzag_decode(buf, pos)
                if len(out) + n > len(buf) + 16:
                    raise AvroError(
                        "map block count exceeds buffer-derived "
                        "ceiling (decode-amplification guard)"
                    )
                for _ in range(n):
                    kn, pos = _zigzag_decode(buf, pos)
                    if kn < 0 or pos + kn > len(buf):
                        raise AvroError("truncated map key")
                    key = bytes(buf[pos : pos + kn]).decode("utf-8")
                    pos += kn
                    out[key], pos = _read_value(buf, pos, typ["values"])
        # a named-type wrapper like {"type": "string", ...} degrades to
        # its primitive; fixed/enum stay loud
        if isinstance(kind, str) and kind in _PRIMS:
            return _read_value(buf, pos, kind)
        raise AvroError(f"unsupported complex type {kind!r}")
    if typ == "null":
        return None, pos
    if typ == "boolean":
        if pos >= len(buf):
            raise AvroError("truncated boolean")
        return buf[pos] != 0, pos + 1
    if typ in ("int", "long"):
        return _zigzag_decode(buf, pos)
    if typ == "float":
        return struct.unpack_from("<f", buf, pos)[0], pos + 4
    if typ == "double":
        return struct.unpack_from("<d", buf, pos)[0], pos + 8
    if typ in ("string", "bytes"):
        n, pos = _zigzag_decode(buf, pos)
        if n < 0 or pos + n > len(buf):
            raise AvroError("truncated string/bytes")
        raw = bytes(buf[pos : pos + n])
        return (raw.decode("utf-8") if typ == "string" else raw), pos + n
    raise AvroError(f"unsupported type {typ!r}")


def _check_type(t) -> None:
    """Recursive schema validation (round-9 continuation: records,
    arrays and maps joined the primitive + ['null', T] surface so the
    Iceberg manifest schemas fit)."""
    if isinstance(t, str):
        if t not in _PRIMS:
            raise AvroError(f"unsupported field type {t!r}")
        return
    if isinstance(t, list):
        if len(t) != 2 or t[0] != "null":
            raise AvroError(f"unsupported union {t!r} (only ['null', T])")
        _check_type(t[1])
        return
    if isinstance(t, dict):
        kind = t.get("type")
        if kind == "record":
            for f in t.get("fields", []):
                _check_type(f["type"])
            return
        if kind == "array":
            _check_type(t["items"])
            return
        if kind == "map":
            _check_type(t["values"])
            return
        if isinstance(kind, str) and kind in _PRIMS:
            return  # annotated primitive (logicalType etc.)
        raise AvroError(f"unsupported complex type {kind!r}")
    raise AvroError(f"unsupported field type {t!r}")


def _validate_schema(schema: dict) -> list[tuple[str, object]]:
    if schema.get("type") != "record" or "fields" not in schema:
        raise AvroError("schema must be a record")
    fields = []
    for f in schema["fields"]:
        _check_type(f["type"])
        fields.append((f["name"], f["type"]))
    return fields


# ------------------------- container encode/decode --------------------------


def encode_records(
    schema: dict, records: list[dict], *, codec: str = "deflate", block_records: int = 4096
) -> bytes:
    """Encode dict-rows into one Avro Object Container File (bytes)."""
    fields = _validate_schema(schema)
    if codec not in ("null", "deflate", "snappy"):
        raise AvroError(f"unsupported codec {codec!r}")
    out = bytearray()
    out += _MAGIC
    meta = {
        "avro.schema": json.dumps(schema, separators=(",", ":")).encode(),
        "avro.codec": codec.encode(),
    }
    out += _zigzag_encode(len(meta))
    for k, v in sorted(meta.items()):
        kk = k.encode()
        out += _zigzag_encode(len(kk)) + kk
        out += _zigzag_encode(len(v)) + v
    out += _zigzag_encode(0)  # end of metadata map
    out += _SYNC
    for i in range(0, len(records), block_records):
        block = records[i : i + block_records]
        body = bytearray()
        for rec in block:
            for name, typ in fields:
                _write_value(body, typ, rec.get(name))
        if codec == "deflate":
            data = zlib.compress(bytes(body), 6)[2:-4]
        elif codec == "snappy":
            # Avro spec: snappy block + 4-byte big-endian CRC-32 of the
            # UNCOMPRESSED data
            from ..operators.snappy import snappy_compress

            data = snappy_compress(bytes(body)) + struct.pack(
                ">I", zlib.crc32(bytes(body)) & 0xFFFFFFFF
            )
        else:
            data = bytes(body)
        out += _zigzag_encode(len(block))
        out += _zigzag_encode(len(data))
        out += data
        out += _SYNC
    return bytes(out)


def _read_meta(buf: memoryview, pos: int) -> tuple[dict, int]:
    meta = {}
    while True:
        n, pos = _zigzag_decode(buf, pos)
        if n == 0:
            break
        if n < 0:  # negative count variant: abs count then byte size
            n, (_, pos) = -n, _zigzag_decode(buf, pos)
        for _ in range(n):
            kl, pos = _zigzag_decode(buf, pos)
            key = bytes(buf[pos : pos + kl]).decode()
            pos += kl
            vl, pos = _zigzag_decode(buf, pos)
            meta[key] = bytes(buf[pos : pos + vl])
            pos += vl
    return meta, pos


def decode_records(data: bytes) -> tuple[dict, list[dict]]:
    """Decode one container file -> (schema dict, list of dict-rows)."""
    buf = memoryview(bytes(data))
    if bytes(buf[:4]) != _MAGIC:
        raise AvroError("not an Avro container file (bad magic)")
    meta, pos = _read_meta(buf, 4)
    try:
        schema = json.loads(meta["avro.schema"].decode())
    except (KeyError, ValueError) as e:
        raise AvroError(f"bad avro.schema metadata: {e}") from None
    codec = meta.get("avro.codec", b"null").decode()
    if codec not in ("null", "deflate", "snappy"):
        raise AvroError(f"unsupported codec {codec!r}")
    fields = _validate_schema(schema)
    sync = bytes(buf[pos : pos + 16])
    pos += 16
    rows: list[dict] = []
    while pos < len(buf):
        count, pos = _zigzag_decode(buf, pos)
        size, pos = _zigzag_decode(buf, pos)
        raw = bytes(buf[pos : pos + size])
        pos += size
        if codec == "deflate":
            raw = zlib.decompress(raw, wbits=-15)
        elif codec == "snappy":
            from ..operators.snappy import SnappyError, snappy_uncompress

            if len(raw) < 4:
                raise AvroError("snappy block missing its CRC-32")
            want = struct.unpack(">I", raw[-4:])[0]
            try:
                raw = snappy_uncompress(raw[:-4])
            except SnappyError as e:
                raise AvroError(f"corrupt snappy block: {e}") from None
            if zlib.crc32(raw) & 0xFFFFFFFF != want:
                raise AvroError("snappy block CRC-32 mismatch")
        bpos, bbuf = 0, memoryview(raw)
        for _ in range(count):
            rec = {}
            for name, typ in fields:
                rec[name], bpos = _read_value(bbuf, bpos, typ)
            rows.append(rec)
        if bytes(buf[pos : pos + 16]) != sync:
            raise AvroError("sync marker mismatch (corrupt block boundary)")
        pos += 16
    return schema, rows


# ----------------------------- schema mapping -------------------------------

_SPARK_TO_AVRO = {
    "boolean": "boolean",
    "integer": "int",
    "long": "long",
    "float": "float",
    "double": "double",
    "string": "string",
    "binary": "bytes",
}
_AVRO_TO_SPARK = {v: k for k, v in _SPARK_TO_AVRO.items()}


def spark_schema_to_avro(schema, name: str = "row") -> dict:
    """Spark struct -> Avro record schema.  Primitive columns map via
    ``_SPARK_TO_AVRO``; a struct column becomes a nested record named
    ``{parent}_{column}`` (Avro names must be unique in one schema)."""
    fields = []
    for f in schema.fields:
        tn = f.dataType.typeName()
        if tn == "struct":
            at = spark_schema_to_avro(f.dataType, f"{name}_{f.name}")
        elif tn in _SPARK_TO_AVRO:
            at = _SPARK_TO_AVRO[tn]
        else:
            raise AvroError(
                f"column {f.name!r}: Spark type {tn} outside the supported "
                "subset of primitives and structs (cast or drop it first)"
            )
        fields.append({"name": f.name, "type": ["null", at] if f.nullable else at})
    return {"type": "record", "name": name, "fields": fields}


def _avro_type_to_spark(name: str, typ) -> str:
    at = typ[1] if isinstance(typ, list) else typ
    if isinstance(at, dict) and at.get("type") == "record":
        inner = ", ".join(
            f"`{f['name']}`: {_avro_type_to_spark(f['name'], f['type'])}"
            for f in at["fields"]
        )
        return f"struct<{inner}>"
    if at == "null":
        raise AvroError(f"column {name!r}: bare null type has no Spark analog")
    if not isinstance(at, str) or at not in _AVRO_TO_SPARK:
        raise AvroError(f"column {name!r}: Avro type {at!r} has no Spark mapping here")
    return _AVRO_TO_SPARK[at]


def avro_schema_to_spark(schema: dict) -> str:
    """Avro record schema -> Spark DDL string (nested records become
    structs)."""
    return ", ".join(
        f"`{name}` {_avro_type_to_spark(name, typ)}"
        for name, typ in _validate_schema(schema)
    )


# ----------------------------- Spark integration ----------------------------


def write_avro_dir(df: DataFrame, path: str, *, codec: str = "deflate") -> int:
    """Executor-side Avro sink: each partition writes one
    ``part-{pid:05d}.avro`` (deterministic name -> idempotent retry), same
    contract as files.write_arrow_ipc_dir.  Returns files written.

    Rows cross from the JVM as Arrow batches (``mapInArrow``, NOT the
    pandas bridge) so float NULL and float NaN stay DISTINCT — the 002.sql
    double-semantics fixture round-trips exactly, which the pandas hop
    (NaN-as-null sentinel) cannot do."""
    import pyarrow as pa
    from pyspark import TaskContext

    os.makedirs(path, exist_ok=True)
    avro_schema = spark_schema_to_avro(df.schema)
    cols = [f.name for f in df.schema.fields]

    def _write(batches):
        pid = TaskContext.get().partitionId()
        recs: list[dict] = []
        for batch in batches:
            data = {c: batch.column(i) for i, c in enumerate(batch.schema.names)}
            for i in range(batch.num_rows):
                rec = {}
                for c in cols:
                    v = data[c][i]
                    rec[c] = v.as_py() if v.is_valid else None
                recs.append(rec)
        if recs:
            blob = encode_records(avro_schema, recs, codec=codec)
            with open(os.path.join(path, f"part-{pid:05d}.avro"), "wb") as fh:
                fh.write(blob)
            yield pa.RecordBatch.from_arrays(
                [pa.array([len(recs)], type=pa.int64())], names=["n_rows"]
            )

    manifest = df.mapInArrow(_write, schema="n_rows long").collect()
    return len(manifest)


def read_avro_dir(spark: SparkSession, path: str) -> DataFrame:
    """Distributed Avro read: binaryFile scan (one task per file) +
    ``mapInArrow`` stdlib decode — arrays are built with explicit Python
    None for null, so NaN values survive as NaN (see write_avro_dir).

    The Spark schema comes from ONE file's header (bounded driver IO — the
    header is a few hundred bytes read via plain open(); the binaryFile
    scan itself never routes content through the driver)."""
    import glob as _glob

    files = sorted(_glob.glob(os.path.join(path, "*.avro")))
    if not files:
        raise AvroError(f"no .avro files under {path}")
    with open(files[0], "rb") as fh:
        head = fh.read(1 << 20)
    buf = memoryview(head)
    if bytes(buf[:4]) != _MAGIC:
        raise AvroError(f"{files[0]}: bad magic")
    meta, _pos = _read_meta(buf, 4)
    avro_schema = json.loads(meta["avro.schema"].decode())
    ddl = avro_schema_to_spark(avro_schema)
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    arrow_schema = to_arrow_schema(StructType.fromDDL(ddl))

    def _decode(batches):
        import pyarrow as pa

        for batch in batches:
            content = batch.column(0)
            for i in range(batch.num_rows):
                _schema, rows = decode_records(content[i].as_py())
                yield pa.RecordBatch.from_pylist(rows, schema=arrow_schema)

    raw = spark.read.format("binaryFile").load(os.path.join(path, "*.avro"))
    return raw.select("content").mapInArrow(_decode, schema=ddl)
