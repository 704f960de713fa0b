"""Pure-Python Avro Object Container File reader/writer — the
reference's ACTUAL persisted record format, runnable WITHOUT the
spark-avro jar (absent from this container — probed every round) and
without any Avro library (also absent).

The reference writes processed records as Avro container files with a
configurable codec, default ``deflate``
(``executor/.../run/ProcessRawDataOperation.java:74-82``,
``worker/.../exec/AvroFileCodec.scala:11-15``,
``worker/src/main/resources/.../reference.conf:82``). This module
implements the container spec (public: Apache Avro 1.11 spec,
"Object Container Files") for the flat record shapes the engine's
records zone carries:

- header: magic ``Obj\\x01``, metadata map (``avro.schema`` JSON from
  `avro_schema.struct_to_avro`, ``avro.codec``), 16-byte sync marker
  (deterministic: md5 of the schema JSON — reproducible files);
- blocks: record-count varint, byte-size varint, payload, sync;
- binary encoding: zigzag-varint int/long, IEEE-LE float/double,
  length-prefixed utf8 strings / bytes, boolean as one byte, enum as
  a zigzag index into the declared symbol list (→ string), fixed as
  exactly N raw bytes with no length prefix (→ binary) — both decoded
  per the FILE's own schema via path-keyed special codecs
  (``avro_schema.special_codecs``), since the Spark types they map to
  encode differently — logical
  types date (int days) / timestamp-micros (long) / decimal (bytes,
  big-endian two's complement), complex types (block-encoded arrays
  and string-keyed maps with zero-count terminators, nested
  records), and nullable sites as the 2-branch union ``[T, "null"]``
  — the branch-index prefix follows the DECLARED union order
  (value → zigzag(0), null → zigzag(1)); the reader derives every
  union site's null branch from each file's own schema (nested
  included, via path-keyed indices) so foreign ``["null", T]`` files
  decode correctly too;
- codecs: ``null``, ``deflate`` (raw RFC-1951 via zlib with negative
  wbits — the reference's default codec), and the spec's optional
  ``bzip2`` / ``xz`` (stdlib bz2/lzma; xz uses the spec's xz
  container format). ``snappy``/``zstandard`` need libraries absent
  from this environment (probed every round) and fail loud.

The write path is SCHEMA-PRESERVING when given the integration's
declared Avro schema (``write_container(...,
declared_schema=...)``): the declared JSON is embedded verbatim — so
the reference's MD5 fingerprint identity
(``IntegrationSchema.scala:25-28``) survives a read-modify-write
round-trip — and enum/fixed/fixed-decimal sites re-encode in their
spec wire forms instead of the string/bytes downgrade the
StructType-derived schema would imply (round-8; pinned byte-for-byte
against the hand-assembled golden bodies).

The read path supports SCHEMA RESOLUTION (spec "Schema
Resolution"): ``read_container(data, reader_schema=...)`` /
``read_avro(spark, path, reader_schema=...)`` decode every file under
its OWN writer schema and resolve rows to the evolved reader shape —
writer-only fields dropped, reader-only fields filled from declared
defaults, primitive promotions, enum-symbol fallback — so one zone
holding files from several schema versions reads as one DataFrame
(``avro_schema.schema_resolver``).

Distributed use (no driver bottleneck):

- **write**: ``write_avro(df, path)`` — each Spark partition encodes
  its rows to one ``part-*.avro`` file via ``mapInArrow`` (Arrow
  batches in, one container per task), exactly how the per-task
  records zone lays files out, streamed block by block. Part files
  are named by partition id and a per-call token
  (``part-00003-<token>.avro``), so a re-run partition replaces its
  file and separate writes into one directory do not collide;
- **read**: ``read_avro(spark, path)`` — ``binaryFile`` scan +
  ``mapInArrow`` decode, schema recovered from each file's own
  header and validated against the expected StructType. Without an
  expected schema, discovery parses ONE file's header on the driver
  (no row is decoded there).

Interop evidence (no Avro library in the environment — probed every
round): beyond spec-level unit tests (hand-computed zigzag/varint
bytes, header layout, sync-marker framing) and hypothesis round-trips
through both codecs, the reader decodes CHECKED-IN golden container
files that were hand-assembled byte-by-byte from the public spec with
an independent encoder (``tests/fixtures/make_avro_goldens.py`` +
``tests/test_avro_goldens.py``: null+deflate codecs, nested
array/map/record, foreign ``["null",T]`` unions at top and nested
sites, date/timestamp-micros/decimal logicals), and the writer's
output is pinned byte-for-byte against a checked-in golden. The
header/metadata layout matches what ``DataFileWriter`` emits for the
same schema, so files exchange with real Avro tooling once present.
"""

from __future__ import annotations

import bz2 as _bz2
import datetime as _dtmod
import hashlib
import json
import lzma as _lzma
import os
import struct
import zlib
from collections.abc import Iterable, Iterator
from decimal import Decimal as _Decimal
from uuid import uuid4

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

MAGIC = b"Obj\x01"

_EPOCH_DATE = _dtmod.date(1970, 1, 1)
_EPOCH_NAIVE = _dtmod.datetime(1970, 1, 1)
_EPOCH_UTC = _dtmod.datetime(1970, 1, 1, tzinfo=_dtmod.timezone.utc)
_MICRO = _dtmod.timedelta(microseconds=1)


# -- primitive binary encoding (Avro spec §binary encoding) ---------------


def zigzag_encode(n: int) -> bytes:
    """Avro long: zigzag then base-128 varint, little-endian groups."""
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


def zigzag_decode(buf: memoryview, pos: int) -> tuple[int, int]:
    shift = 0
    u = 0
    while True:
        b = buf[pos]
        pos += 1
        u |= (b & 0x7F) << shift
        if not b & 0x80:
            break
        shift += 7
    return (u >> 1) ^ -(u & 1), pos


# A row is a record: write_container / read_container build ONE row
# codec per file from the StructType, a tree of per-site closures (type
# dispatch done at build time, not per value) — the records zone's hot
# loop runs ~4-5x faster than a per-value isinstance chain.


def _field_encoder(
    dt: T.DataType,
    nb: dict[str, int] | None = None,
    path: str = "",
    special: dict[str, tuple] | None = None,
):
    """Build the encoder closure for one value site — the mirror of
    ``_field_decoder``. With a DECLARED writer schema (``nb`` +
    ``special`` from ``avro_schema``), enum sites emit the zigzag
    symbol index, fixed sites exactly N raw bytes, fixed-decimal the
    N-byte two's-complement unscaled int, and nullable-union branch
    bytes follow the DECLARED branch order; without one, the writer
    convention ([T,"null"], string/bytes for enum/fixed) applies."""
    zz = zigzag_encode
    pack = struct.pack

    def _nb(sub: str) -> int:
        return 1 if nb is None else nb.get(sub, 1)

    sp = None if special is None else special.get(path)
    if sp is not None:
        kind, arg = sp
        if kind == "enum":
            index = {s: i for i, s in enumerate(arg)}

            def enc_enum(v, out, zz=zz, index=index, path=path):
                i = index.get(v)
                if i is None:
                    raise ValueError(
                        f"enum site {path!r}: {v!r} is not a declared "
                        f"symbol of {sorted(index)}"
                    )
                out.extend(zz(i))
            return enc_enum
        if kind == "fixed":
            size = int(arg)

            def enc_fixed(v, out, size=size, path=path):
                b = bytes(v)
                if len(b) != size:
                    raise ValueError(
                        f"fixed site {path!r} requires exactly {size} "
                        f"bytes, got {len(b)}"
                    )
                out.extend(b)
            return enc_fixed
        if kind == "fixed-decimal":
            size, scale = int(arg[0]), int(arg[1])

            def enc_fixdec(v, out, size=size, scale=scale):
                unscaled = int(v.scaleb(scale))
                out.extend(unscaled.to_bytes(size, "big", signed=True))
            return enc_fixdec
    if isinstance(dt, (T.LongType, T.IntegerType, T.ShortType, T.ByteType)):
        return lambda v, out: out.extend(zz(int(v)))
    if isinstance(dt, T.BooleanType):
        return lambda v, out: out.append(1 if v else 0)
    if isinstance(dt, T.DoubleType):
        return lambda v, out: out.extend(pack("<d", float(v)))
    if isinstance(dt, T.FloatType):
        return lambda v, out: out.extend(pack("<f", float(v)))
    if isinstance(dt, T.StringType):
        def enc_s(v, out, zz=zz):
            b = str(v).encode()
            out.extend(zz(len(b)))
            out.extend(b)
        return enc_s
    if isinstance(dt, T.BinaryType):
        def enc_b(v, out, zz=zz):
            b = bytes(v)
            out.extend(zz(len(b)))
            out.extend(b)
        return enc_b
    if isinstance(dt, T.DateType):
        # Avro logical type "date": int = days since Unix epoch
        epoch = _EPOCH_DATE

        def enc_date(v, out, zz=zz, epoch=epoch):
            out.extend(zz((v - epoch).days))
        return enc_date
    if isinstance(dt, T.TimestampType):
        # Avro logical type "timestamp-micros": long = micros since
        # epoch UTC. Integer arithmetic throughout (datetime.timestamp()
        # would round-trip through a float).
        def enc_ts(v, out, zz=zz):
            if v.tzinfo is None:
                delta = v - _EPOCH_NAIVE
            else:
                delta = v - _EPOCH_UTC
            out.extend(zz(delta // _MICRO))
        return enc_ts
    if isinstance(dt, T.TimestampNTZType):
        # Avro "local-timestamp-micros": micros since epoch, no zone
        def enc_tsntz(v, out, zz=zz):
            out.extend(zz((v - _EPOCH_NAIVE) // _MICRO))
        return enc_tsntz
    if isinstance(dt, T.DecimalType):
        # Avro logical type "decimal" over bytes: big-endian
        # two's-complement unscaled integer, minimal length
        scale = dt.scale

        def enc_dec(v, out, zz=zz, scale=scale):
            unscaled = int(v.scaleb(scale))
            n = max(1, (unscaled.bit_length() + 8) // 8)
            b = unscaled.to_bytes(n, "big", signed=True)
            out.extend(zz(len(b)))
            out.extend(b)
        return enc_dec
    if isinstance(dt, T.ArrayType):
        # Avro arrays: series of blocks (count, items...) ended by a
        # zero count; one block per array here. Nullable elements are
        # 2-branch unions; branch BYTES follow the declared order
        # (writer convention [T,"null"]: value=\x00, null=\x02).
        enc_item = _field_encoder(dt.elementType, nb, path + "[]", special)
        if dt.containsNull:
            inull = _nb(path + "[]")
            null_b, val_b = (0, 2) if inull == 0 else (2, 0)
        else:
            null_b = None
            val_b = 0

        def enc_arr(v, out, zz=zz):
            v = list(v)
            if v:
                out.extend(zz(len(v)))
                for x in v:
                    if null_b is not None:
                        if x is None:
                            out.append(null_b)
                            continue
                        out.append(val_b)
                    enc_item(x, out)
            out.append(0)  # end of blocks
        return enc_arr
    if isinstance(dt, T.MapType):
        if not isinstance(dt.keyType, T.StringType):
            raise NotImplementedError(
                "avro maps require string keys (Avro spec)"
            )
        enc_val = _field_encoder(dt.valueType, nb, path + "{}", special)
        if dt.valueContainsNull:
            inull = _nb(path + "{}")
            mnull_b, mval_b = (0, 2) if inull == 0 else (2, 0)
        else:
            mnull_b = None
            mval_b = 0

        def enc_map(v, out, zz=zz):
            # Arrow map cells arrive as [(k, v), ...]; dicts accepted
            items = list(v.items()) if isinstance(v, dict) else list(v)
            if items:
                out.extend(zz(len(items)))
                for k, x in items:
                    kb = str(k).encode()
                    out.extend(zz(len(kb)))
                    out.extend(kb)
                    if mnull_b is not None:
                        if x is None:
                            out.append(mnull_b)
                            continue
                        out.append(mval_b)
                    enc_val(x, out)
            out.append(0)
        return enc_map
    if isinstance(dt, T.StructType):
        encs = []
        for f in dt.fields:
            sub = f"{path}.{f.name}" if path else f.name
            if f.nullable:
                inull = _nb(sub)
                fnull_b, fval_b = (0, 2) if inull == 0 else (2, 0)
            else:
                fnull_b = None
                fval_b = 0
            encs.append(
                (f.name, fnull_b, fval_b,
                 _field_encoder(f.dataType, nb, sub, special))
            )

        def enc_struct(v, out):
            get = v.get
            for name, fnull_b, fval_b, enc in encs:
                x = get(name)
                if fnull_b is not None:
                    if x is None:
                        out.append(fnull_b)
                        continue
                    out.append(fval_b)
                enc(x, out)
        return enc_struct
    raise NotImplementedError(f"avro container: unsupported type {dt}")


def _field_decoder(
    dt: T.DataType,
    nb: dict[str, int] | None = None,
    path: str = "",
    special: dict[str, tuple] | None = None,
):
    """Build a decoder closure for one value site. ``nb`` maps schema
    paths (see ``avro_schema.null_branch_indices``) to the null-branch
    index DECLARED by the file being read; omitted → the writer
    convention [T,"null"] (null index 1) everywhere. ``special`` maps
    paths whose binary encoding differs from the mapped Spark type
    (``avro_schema.special_codecs``): an Avro ``enum`` site maps to
    StringType but is encoded as a zigzag index into the declared
    symbol list, and a ``fixed`` site maps to BinaryType but is
    exactly N raw bytes with no length prefix — decoding either by
    the Spark type alone misreads the stream."""

    def _nb(sub: str) -> int:
        return 1 if nb is None else nb.get(sub, 1)

    zz = zigzag_decode
    unpack = struct.unpack_from
    sp = None if special is None else special.get(path)
    if sp is not None:
        kind, arg = sp
        if kind == "enum":
            symbols = list(arg)

            def dec_enum(buf, pos, zz=zz, symbols=symbols):
                i, pos = zz(buf, pos)
                return symbols[i], pos
            return dec_enum
        if kind == "fixed":
            size = int(arg)

            def dec_fixed(buf, pos, size=size):
                return bytes(buf[pos : pos + size]), pos + size
            return dec_fixed
        if kind == "fixed-decimal":
            # fixed annotated with logicalType decimal: the site maps
            # to DecimalType but the wire form is exactly ``size`` raw
            # bytes holding a big-endian two's-complement unscaled int
            # — no length prefix (unlike bytes-decimal).
            size, scale = int(arg[0]), int(arg[1])

            def dec_fixdec(buf, pos, size=size, scale=scale):
                unscaled = int.from_bytes(
                    bytes(buf[pos : pos + size]), "big", signed=True
                )
                return _Decimal(unscaled).scaleb(-scale), pos + size
            return dec_fixdec
    if isinstance(dt, (T.LongType, T.IntegerType, T.ShortType, T.ByteType)):
        return zz
    if isinstance(dt, T.BooleanType):
        return lambda buf, pos: (bool(buf[pos]), pos + 1)
    if isinstance(dt, T.DoubleType):
        return lambda buf, pos: (unpack("<d", buf, pos)[0], pos + 8)
    if isinstance(dt, T.FloatType):
        return lambda buf, pos: (unpack("<f", buf, pos)[0], pos + 4)
    if isinstance(dt, T.StringType):
        def dec_s(buf, pos, zz=zz):
            n, pos = zz(buf, pos)
            return bytes(buf[pos : pos + n]).decode(), pos + n
        return dec_s
    if isinstance(dt, T.BinaryType):
        def dec_b(buf, pos, zz=zz):
            n, pos = zz(buf, pos)
            return bytes(buf[pos : pos + n]), pos + n
        return dec_b
    if isinstance(dt, T.DateType):
        def dec_date(buf, pos, zz=zz):
            n, pos = zz(buf, pos)
            return _EPOCH_DATE + _dtmod.timedelta(days=n), pos
        return dec_date
    if isinstance(dt, T.TimestampType):
        def dec_ts(buf, pos, zz=zz):
            n, pos = zz(buf, pos)
            return _EPOCH_UTC + _dtmod.timedelta(microseconds=n), pos
        return dec_ts
    if isinstance(dt, T.TimestampNTZType):
        def dec_tsntz(buf, pos, zz=zz):
            n, pos = zz(buf, pos)
            return _EPOCH_NAIVE + _dtmod.timedelta(microseconds=n), pos
        return dec_tsntz
    if isinstance(dt, T.DecimalType):
        scale = dt.scale

        def dec_dec(buf, pos, zz=zz, scale=scale):
            n, pos = zz(buf, pos)
            unscaled = int.from_bytes(bytes(buf[pos : pos + n]), "big", signed=True)
            return _Decimal(unscaled).scaleb(-scale), pos + n
        return dec_dec
    if isinstance(dt, T.ArrayType):
        dec_item = _field_decoder(dt.elementType, nb, path + "[]", special)
        item_nb = _nb(path + "[]") if dt.containsNull else None

        def dec_arr(buf, pos, zz=zz):
            out = []
            while True:
                cnt, pos = zz(buf, pos)
                if cnt == 0:
                    break
                if cnt < 0:  # spec: negative count precedes byte size
                    cnt = -cnt
                    _, pos = zz(buf, pos)
                for _ in range(cnt):
                    if item_nb is not None:
                        br, pos = zz(buf, pos)
                        if br == item_nb:
                            out.append(None)
                            continue
                    x, pos = dec_item(buf, pos)
                    out.append(x)
            return out, pos
        return dec_arr
    if isinstance(dt, T.MapType):
        dec_val = _field_decoder(dt.valueType, nb, path + "{}", special)
        val_nb = _nb(path + "{}") if dt.valueContainsNull else None

        def dec_map(buf, pos, zz=zz):
            # Decode to a real dict: callers see the natural Python
            # shape (read_container round-trips what write_container
            # accepted), and Arrow's from_pylist takes dicts for map
            # columns. Duplicate keys (legal bytes, undefined per the
            # Avro spec) collapse last-wins like every map consumer.
            out = {}
            while True:
                cnt, pos = zz(buf, pos)
                if cnt == 0:
                    break
                if cnt < 0:
                    cnt = -cnt
                    _, pos = zz(buf, pos)
                for _ in range(cnt):
                    kl, pos = zz(buf, pos)
                    k = bytes(buf[pos : pos + kl]).decode()
                    pos += kl
                    if val_nb is not None:
                        br, pos = zz(buf, pos)
                        if br == val_nb:
                            out[k] = None
                            continue
                    x, pos = dec_val(buf, pos)
                    out[k] = x
            return out, pos
        return dec_map
    if isinstance(dt, T.StructType):
        decs = [
            (
                f.name,
                _nb(f"{path}.{f.name}" if path else f.name)
                if f.nullable
                else None,
                _field_decoder(
                    f.dataType,
                    nb,
                    f"{path}.{f.name}" if path else f.name,
                    special,
                ),
            )
            for f in dt.fields
        ]

        def dec_struct(buf, pos, zz=zz):
            row = {}
            for name, fnb, dec in decs:
                if fnb is not None:
                    br, pos = zz(buf, pos)
                    if br == fnb:
                        row[name] = None
                        continue
                row[name], pos = dec(buf, pos)
            return row, pos
        return dec_struct
    raise NotImplementedError(f"avro container: unsupported type {dt}")


# -- container framing ----------------------------------------------------


def _sync_marker(schema_json: str) -> bytes:
    """Deterministic 16-byte sync: md5 of the canonical schema JSON —
    byte-identical files for identical inputs (the engine's general
    reproducibility contract; the spec only requires uniqueness
    within a file)."""
    return hashlib.md5(schema_json.encode()).digest()


def _enc_meta_map(meta: dict[str, bytes]) -> bytes:
    out = bytearray()
    out += zigzag_encode(len(meta))
    for k, v in sorted(meta.items()):
        kb = k.encode()
        out += zigzag_encode(len(kb)) + kb
        out += zigzag_encode(len(v)) + v
    out += zigzag_encode(0)  # end of map blocks
    return bytes(out)


def _read_header(buf: memoryview) -> tuple[dict[str, bytes], bytes, int]:
    """Parse a container header → (metadata map, 16-byte sync marker,
    offset of the first data block)."""
    if bytes(buf[:4]) != MAGIC:
        raise ValueError("not an Avro object container file")
    pos = 4
    meta: dict[str, bytes] = {}
    while True:
        n, pos = zigzag_decode(buf, pos)
        if n == 0:
            break
        if n < 0:  # spec: negative count precedes a byte size
            n = -n
            _, pos = zigzag_decode(buf, pos)
        for _ in range(n):
            kl, pos = zigzag_decode(buf, pos)
            k = bytes(buf[pos : pos + kl]).decode()
            pos += kl
            vl, pos = zigzag_decode(buf, pos)
            meta[k] = bytes(buf[pos : pos + vl])
            pos += vl
    return meta, bytes(buf[pos : pos + 16]), pos + 16


def write_container(
    schema: T.StructType,
    rows: list[dict],
    codec: str = "deflate",
    block_records: int = 4096,
    declared_schema: str | dict | None = None,
) -> bytes:
    """One Avro Object Container File as bytes (``iter_container``
    joined)."""
    return b"".join(
        iter_container(
            schema, rows, codec=codec, block_records=block_records,
            declared_schema=declared_schema,
        )
    )


def iter_container(
    schema: T.StructType,
    rows: Iterable[dict],
    codec: str = "deflate",
    block_records: int = 4096,
    declared_schema: str | dict | None = None,
) -> Iterator[bytes]:
    """One Avro Object Container File as a stream of byte chunks: the
    header, then one chunk per block of ``block_records`` rows. Only
    one block's rows are held at a time, so a writer's memory does not
    grow with its input.

    ``declared_schema`` (Avro record schema JSON) makes this a
    SCHEMA-PRESERVING writer: the declared JSON is embedded verbatim
    (so the reference's MD5 fingerprint identity,
    ``IntegrationSchema.scala:25-28``, survives the round-trip) and
    the encoders follow the declared wire forms — enum as zigzag
    symbol index, fixed as raw N bytes, fixed-decimal as the N-byte
    unscaled int, nullable unions in the declared branch order.
    Without it, the schema derives from the StructType (writer
    convention: [T,"null"], enum/fixed not expressible)."""
    from hyppo_worker_spark.sources.avro_schema import (
        avro_to_struct,
        null_branch_indices,
        special_codecs,
        struct_to_avro,
    )

    if codec not in ("null", "deflate", "bzip2", "xz"):
        raise ValueError(f"unsupported avro codec {codec}")
    if declared_schema is None:
        # writer convention: [T,"null"] (null byte zigzag(1)=\x02)
        schema_json = struct_to_avro(schema)
        nb: dict[str, int] | None = None
        special: dict[str, tuple] | None = None
    else:
        schema_json = (
            declared_schema
            if isinstance(declared_schema, str)
            else json.dumps(declared_schema)
        )
        derived = avro_to_struct(schema_json)
        # Spark marks most DataFrame columns nullable regardless of
        # content, so compare SHAPES ignoring nullability: a declared
        # non-null field fed an actual None still fails loud at encode
        # time, and the union branch bytes follow the DECLARED
        # nullability either way.
        if _strip_nullability(derived) != _strip_nullability(schema):
            raise ValueError(
                "declared_schema does not map to the given StructType: "
                f"declared -> {derived.simpleString()}, "
                f"got {schema.simpleString()}"
            )
        # encode under the DECLARED nullability (branch bytes exist
        # only where the avro schema has a union)
        schema = derived
        nb = null_branch_indices(schema_json)
        special = special_codecs(schema_json)
    sync = _sync_marker(schema_json)
    yield MAGIC + _enc_meta_map(
        {"avro.schema": schema_json.encode(), "avro.codec": codec.encode()}
    ) + sync
    enc_row = _field_encoder(schema, nb, "", special)

    def block(n: int, payload: bytearray) -> bytes:
        body = bytes(payload)
        if codec == "deflate":
            # RFC-1951 raw deflate (no zlib wrapper) per the spec
            body = zlib.compress(body, 6)[2:-4]
        elif codec == "bzip2":
            body = _bz2.compress(body)
        elif codec == "xz":
            body = _lzma.compress(body, format=_lzma.FORMAT_XZ)
        return zigzag_encode(n) + zigzag_encode(len(body)) + body + sync

    payload = bytearray()
    n = 0
    for r in rows:
        enc_row(r, payload)
        n += 1
        if n == block_records:
            yield block(n, payload)
            payload = bytearray()
            n = 0
    if n:
        yield block(n, payload)


def read_container(
    data: bytes, reader_schema: str | dict | None = None
) -> tuple[T.StructType, str, list[dict]]:
    """Decode one container file → (schema, codec, rows); the rows of
    ``container_blocks`` in one list."""
    schema, codec, blocks = container_blocks(data, reader_schema)
    return schema, codec, [r for rows in blocks for r in rows]


def container_blocks(
    data: bytes, reader_schema: str | dict | None = None
) -> tuple[T.StructType, str, Iterator[list[dict]]]:
    """Parse one container file's header → (schema, codec, an iterator
    of each block's decoded rows). Blocks decode as the iterator is
    consumed, so a reader holds one block's rows at a time.

    With ``reader_schema`` (Avro record schema JSON), rows are decoded
    under the file's own WRITER schema and then resolved to the
    reader's shape per the spec's Schema Resolution rules; the
    returned StructType is the reader's."""
    from hyppo_worker_spark.sources.avro_schema import (
        avro_to_struct,
        null_branch_indices,
        schema_resolver,
        special_codecs,
    )

    buf = memoryview(data)
    meta, sync, pos = _read_header(buf)
    schema_json = meta["avro.schema"].decode()
    codec = meta.get("avro.codec", b"null").decode()
    schema = avro_to_struct(schema_json)
    # decode under the file's OWN schema: union branch bytes follow its
    # declared order at every site (a foreign ["null",T] file decodes
    # too), and enum / fixed sites by their wire form, not the
    # StringType/BinaryType they map to
    dec_row = _field_decoder(
        schema, null_branch_indices(schema_json), "", special_codecs(schema_json)
    )
    conv = None
    if reader_schema is not None:
        reader_json = (
            reader_schema
            if isinstance(reader_schema, str)
            else json.dumps(reader_schema)
        )
        conv = schema_resolver(schema_json, reader_json)
        schema = avro_to_struct(reader_json)

    def blocks(pos: int) -> Iterator[list[dict]]:
        while pos < len(buf):
            count, pos = zigzag_decode(buf, pos)
            size, pos = zigzag_decode(buf, pos)
            body = bytes(buf[pos : pos + size])
            pos += size
            if codec == "deflate":
                body = zlib.decompress(body, wbits=-15)
            elif codec == "bzip2":
                body = _bz2.decompress(body)
            elif codec == "xz":
                body = _lzma.decompress(body)
            elif codec != "null":
                # snappy / zstandard need libraries absent from this
                # environment (probed every round) — fail loud
                raise ValueError(f"unsupported avro codec {codec}")
            bview = memoryview(body)
            bpos = 0
            rows: list[dict] = []
            append = rows.append
            for _ in range(count):
                row, bpos = dec_row(bview, bpos)
                append(row)
            if bytes(buf[pos : pos + 16]) != sync:
                raise ValueError("sync marker mismatch — corrupt container")
            pos += 16
            yield rows if conv is None else [conv(r) for r in rows]

    return schema, codec, blocks(pos)


# -- distributed read/write ----------------------------------------------


def write_avro(
    df: DataFrame,
    path: str,
    codec: str = "deflate",
    declared_schema: str | dict | None = None,
) -> int:
    """Distributed container write: each non-empty partition encodes
    its rows to one ``part-{partition:05d}-{write}.avro`` file (the
    per-task file layout of the records zone), where ``write`` is a
    token drawn once per call on the driver. A retried or speculative
    attempt of a partition therefore replaces its file instead of
    adding a second one, while separate calls into one directory add
    files side by side (a zone written across schema versions);
    replacing a dataset means clearing its directory first, as
    ``DataFileHandler.write_records`` does. Rows stream through
    ``iter_container`` block by block, so a task holds one Arrow batch
    and one Avro block, not its partition. Executor-side file IO — no
    driver collect of row data. Returns the total record count,
    summed on the driver from the per-partition counts the write
    itself yields (one Spark job, no aggregate shuffle), like the
    Observation on the jar path.

    Arrow-native (``mapInArrow``): a pandas hop would widen nullable
    int64 columns to float64 and silently round ids above 2^53 —
    ``RecordBatch.to_pylist`` keeps exact ints and real ``None``."""
    import itertools

    import pyarrow as pa
    from pyspark import TaskContext

    schema = df.schema
    token = uuid4().hex
    os.makedirs(path, exist_ok=True)

    def enc(it: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
        batches = (b for b in it if b.num_rows)
        first = next(batches, None)
        if first is None:
            return
        n = 0

        def rows() -> Iterator[dict]:
            nonlocal n
            for batch in itertools.chain([first], batches):
                n += batch.num_rows
                yield from batch.to_pylist()

        ctx = TaskContext.get()
        name = f"part-{ctx.partitionId():05d}-{token}.avro"
        tmp = os.path.join(path, f".{name}.{ctx.taskAttemptId()}.tmp")
        with open(tmp, "wb") as fh:
            for chunk in iter_container(
                schema, rows(), codec=codec, declared_schema=declared_schema
            ):
                fh.write(chunk)
        os.replace(tmp, os.path.join(path, name))
        yield pa.RecordBatch.from_pylist(
            [{"n": n}], schema=pa.schema([pa.field("n", pa.int64())])
        )

    # one pass; the tiny (n) batch per task forces execution
    total = sum(r.n for r in df.mapInArrow(enc, "n long").collect())
    if not any(f.endswith(".avro") for f in os.listdir(path)):
        # empty dataset: one header-only container so readers see the
        # schema (mirrors the jar path's empty part file)
        with open(os.path.join(path, "part-empty.avro"), "wb") as fh:
            fh.write(
                write_container(
                    schema, [], codec=codec, declared_schema=declared_schema
                )
            )
    return int(total)


def read_avro(
    spark: SparkSession,
    path: str,
    expected: T.StructType | None = None,
    reader_schema: str | dict | None = None,
) -> DataFrame:
    """Distributed container read: binaryFile scan + mapInArrow
    decode; each file's header schema must match ``expected`` (or the
    first file's schema when omitted — resolved driver-side from ONE
    header, not a full read). Arrow-native for the same exact-int64
    reason as ``write_avro``.

    ``reader_schema`` (Avro record schema JSON) enables SCHEMA
    RESOLUTION (spec "Schema Resolution"): every file decodes under
    its OWN writer schema, then each row resolves to the reader's
    shape — writer-only fields dropped, reader-only fields filled
    from declared defaults, primitive promotions and enum-symbol
    fallbacks applied. This is how an integration reads a records
    zone written across schema versions; files that cannot resolve
    (missing default, illegal promotion) fail loud per file."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    from hyppo_worker_spark.sources.avro_schema import avro_to_struct

    if reader_schema is not None:
        if expected is not None:
            raise ValueError(
                "pass either expected (exact-match read) or "
                "reader_schema (resolving read), not both"
            )
        reader_json = (
            reader_schema
            if isinstance(reader_schema, str)
            else json.dumps(reader_schema)
        )
        expected = avro_to_struct(reader_json)
    else:
        reader_json = None
    if expected is None:
        first = sorted(
            f for f in os.listdir(path) if f.endswith(".avro")
        )
        if not first:
            raise FileNotFoundError(f"no .avro files under {path}")
        with open(os.path.join(path, first[0]), "rb") as fh:
            meta, _, _ = _read_header(memoryview(fh.read()))
        expected = avro_to_struct(meta["avro.schema"].decode())
    exp = expected

    # pathGlobFilter, not a glob-in-path: a glob path makes Spark's
    # FileStreamSink metadata probe log a WARN+stacktrace per load.
    bin_df = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.avro")
        .load(path)
    )

    arrow_schema = to_arrow_schema(exp)

    def dec(it: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
        for batch in it:
            for r in batch.to_pylist():
                # with reader_json, each file resolves from its OWN
                # writer schema to the reader's, whose StructType is exp
                # (one Arrow batch per Avro block)
                schema, _codec, blocks = container_blocks(
                    bytes(r["content"]), reader_schema=reader_json
                )
                if schema != exp:
                    raise ValueError(
                        f"avro schema mismatch in {r['path']}: "
                        f"{schema} != {exp}"
                    )
                for rows in blocks:
                    if rows:
                        yield pa.RecordBatch.from_pylist(rows, schema=arrow_schema)

    return bin_df.mapInArrow(dec, exp)


def _strip_nullability(dt: T.DataType) -> T.DataType:
    """Structural copy with every nullable/containsNull flag forced
    True — shape comparison that ignores Spark's pessimistic column
    nullability."""
    if isinstance(dt, T.StructType):
        return T.StructType([
            T.StructField(f.name, _strip_nullability(f.dataType), True)
            for f in dt.fields
        ])
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_strip_nullability(dt.elementType), True)
    if isinstance(dt, T.MapType):
        return T.MapType(
            _strip_nullability(dt.keyType),
            _strip_nullability(dt.valueType),
            True,
        )
    return dt
