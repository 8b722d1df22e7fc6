"""Gzip TFRecord source/sink for ``tf.train.Example`` records.

Reference fidelity for S2/S3/S4 (SURVEY §2.1): the reference materializes
training data as gzip-compressed TFRecord files of serialized Example
protos (``examples/trainer/networks/preprocess.py:61-67`` write side;
``conceptnetwork/network.py:184-203`` read side with schema-on-read via
``featdef()``). Parquet stays the engine's canonical format (SURVEY §1.4);
this module provides the interchange path so data produced for/by a
TensorFlow input pipeline round-trips.

Everything is hand-rolled from the public wire formats — no tensorflow or
protobuf dependency:

- TFRecord framing: ``[len:uint64le][masked_crc32c(len):uint32le][data]
  [masked_crc32c(data):uint32le]`` with the TensorFlow CRC mask
  ``((crc >> 15 | crc << 17) + 0xa282ead8)``. Records are framed and
  checked a batch at a time (``frame_records``/``split_records``): CRC32C
  (Castagnoli) runs over all of a batch's records at once in numpy — each
  record is cut into left-padded 64-byte chunks, the byte table runs over
  every chunk in 64 vector steps, and each chunk's register is advanced
  over the bytes after it with precomputed "skip 2^k zero bytes" operators
  before the chunks of a record are XOR-reduced. Cost is linear in total
  bytes. A truncated file or a CRC mismatch raises ``ValueError``.
- ``Example`` protobuf: varint-encoded messages
  ``Example{1: Features{1: map<string, Feature{1: BytesList | 2: FloatList
  (packed) | 3: Int64List (packed)}>}}`` — exactly the three value-list
  types the reference's feature constructors emit
  (``examples/trainer/concepts/util.py:17-29``).

Scale stance: write is one shard per partition (executor-side, no driver
collect), framed in batches of 8192 records. A write first removes the
directory's earlier ``part-*.tfrecord*`` shards and ``_SUCCESS`` marker, as
the Parquet sink's overwrite mode does. Read is ``binaryFile`` source ->
``mapInPandas`` decode, so each file decodes where it lands and schema
projection drops unrequested features before they reach the JVM row.
"""

from __future__ import annotations

import functools
import glob
import gzip
import itertools
import os
import struct
from collections.abc import Iterator

import numpy as np
import pandas as pd
from numpy.lib.stride_tricks import sliding_window_view

from pyspark.sql import DataFrame, SparkSession

# -- CRC32C (Castagnoli), vectorized over a batch of records ----------------
#
# The register update ``r -> T[(r ^ b) & 0xFF] ^ (r >> 8)`` is linear over
# GF(2), so a record's CRC is the XOR of its 64-byte chunks' CRCs (each run
# from a zero register) after each is advanced over the bytes that follow it,
# plus the 0xFFFFFFFF initial register advanced over the whole record.
# "Advance over 2^k zero bytes" is itself linear, stored as four 256-entry
# tables (one per register byte).

_CHUNK = 64


@functools.cache
def _crc_tables() -> tuple[np.ndarray, np.ndarray]:
    """(byte table, shift operators): ``ops[k]`` is a (4, 256) table set
    advancing a register over 2^k zero bytes, for k < 64."""
    poly = 0x82F63B78
    table = np.zeros(256, dtype=np.uint32)
    for i in range(256):
        c = i
        for _ in range(8):
            c = (c >> 1) ^ poly if c & 1 else c >> 1
        table[i] = c
    basis = (np.arange(256, dtype=np.uint32) << (8 * np.arange(4, dtype=np.uint32))[:, None]).ravel()
    ops = np.empty((64, 4, 256), dtype=np.uint32)
    ops[0] = (table[basis & 0xFF] ^ (basis >> 8)).reshape(4, 256)
    for k in range(1, 64):
        ops[k] = _advance(ops[k - 1], _advance(ops[k - 1], basis)).reshape(4, 256)
    table.flags.writeable = ops.flags.writeable = False
    return table, ops


def _advance(op: np.ndarray, reg: np.ndarray) -> np.ndarray:
    """Apply one (4, 256) linear operator to every register in ``reg``."""
    return op[0][reg & 0xFF] ^ op[1][(reg >> 8) & 0xFF] ^ op[2][(reg >> 16) & 0xFF] ^ op[3][reg >> 24]


def _shift(reg: np.ndarray, nbytes: np.ndarray, ops: np.ndarray) -> np.ndarray:
    """Advance each ``reg[i]`` over ``nbytes[i]`` zero bytes (in place)."""
    for k in range(int(nbytes.max(initial=0)).bit_length()):
        sel = np.flatnonzero((nbytes >> k) & 1)
        reg[sel] = _advance(ops[k], reg[sel])
    return reg


def _crc32c_spans(buf: np.ndarray, starts: np.ndarray, lens: np.ndarray) -> np.ndarray:
    """CRC32C of every ``buf[starts[i] : starts[i] + lens[i]]`` (uint8 buf,
    int64 starts/lens). Cost is linear in the total bytes."""
    table, ops = _crc_tables()
    crc = np.zeros(len(lens), dtype=np.uint32)
    width = min(_CHUNK, int(lens.max(initial=0)))  # 8-byte headers: 8 steps, not 64
    if width:
        chunks = -(-lens // width)
        first = np.cumsum(chunks) - chunks
        total = int(chunks.sum())
        pad = chunks * width - lens
        # each chunk is a window of buf; buf is shifted right by `width` zero
        # bytes so that a record's left pad never starts before buf[0]
        rec = np.repeat(np.arange(len(lens)), chunks)
        at = starts[rec] - pad[rec] + (np.arange(total) - first[rec] + 1) * width
        rows = sliding_window_view(np.concatenate((np.zeros(width, dtype=np.uint8), buf)), width)[at]
        # the left pad must read as zeros (which leave a zero register
        # unchanged), not as the bytes before the record
        nonempty = chunks > 0
        lead = rows[first[nonempty]]
        lead[np.arange(width) < pad[nonempty][:, None]] = 0
        rows[first[nonempty]] = lead
        reg = np.zeros(total, dtype=np.uint32)
        for col in np.ascontiguousarray(rows.T):
            reg = table[(reg ^ col) & 0xFF] ^ (reg >> 8)
        _shift(reg, (first[rec] + chunks[rec] - 1 - np.arange(total)) * width, ops)
        crc[nonempty] = np.bitwise_xor.reduceat(reg, first[nonempty])
    return crc ^ _shift(np.full(len(lens), 0xFFFFFFFF, dtype=np.uint32), lens, ops) ^ np.uint32(0xFFFFFFFF)


def _lengths(bufs) -> np.ndarray:
    return np.fromiter(map(len, bufs), dtype=np.int64, count=len(bufs))


def crc32c_many(bufs) -> np.ndarray:
    """CRC32C of every buffer in ``bufs``, as a uint32 array."""
    lens = _lengths(bufs)
    buf = np.frombuffer(b"".join(bufs), dtype=np.uint8)
    return _crc32c_spans(buf, np.cumsum(lens) - lens, lens)


def crc32c(data: bytes) -> int:
    return int(crc32c_many([data])[0])


def _masked(crc: np.ndarray) -> np.ndarray:
    """TensorFlow's CRC mask, as little-endian uint32."""
    return (((crc >> 15) | (crc << 17)) + np.uint32(0xA282EAD8)).astype("<u4")


# -- protobuf varint primitives --------------------------------------------


_SMALL_VARINTS = tuple(bytes([i]) for i in range(128))


def _varint(n: int) -> bytes:
    if 0 <= n < 128:
        return _SMALL_VARINTS[n]
    out = bytearray()
    while True:
        bits = n & 0x7F
        n >>= 7
        if n:
            out.append(bits | 0x80)
        else:
            out.append(bits)
            return bytes(out)


def _read_varint(buf: bytes, pos: int) -> tuple[int, int]:
    b = buf[pos]
    if b < 0x80:
        return b, pos + 1
    result = shift = 0
    while True:
        b = buf[pos]
        pos += 1
        result |= (b & 0x7F) << shift
        if not b & 0x80:
            return result, pos
        shift += 7


def _len_delim(field_no: int, payload: bytes) -> bytes:
    return _varint(field_no << 3 | 2) + _varint(len(payload)) + payload


# -- tf.train.Example encode ------------------------------------------------


def _encode_feature(value) -> bytes:
    """Python value -> Feature proto bytes. Lists/np arrays of ints ->
    Int64List, floats -> FloatList (packed), str/bytes -> BytesList."""
    if not isinstance(value, (list, tuple, np.ndarray)):
        value = [value]
    if len(value) and isinstance(value[0], (str, bytes)):
        payload = b"".join(
            _len_delim(1, v.encode("utf-8") if isinstance(v, str) else bytes(v))
            for v in value
        )
        return _len_delim(1, payload)  # bytes_list = field 1
    if len(value) and (
        isinstance(value[0], (float, np.floating))
    ):
        packed = np.asarray(value, dtype="<f4").tobytes()
        return _len_delim(2, _varint(1 << 3 | 2) + _varint(len(packed)) + packed)
    packed = b"".join(
        _varint(int(v) & 0xFFFFFFFFFFFFFFFF) for v in value
    )
    return _len_delim(3, _varint(1 << 3 | 2) + _varint(len(packed)) + packed)


def encode_example(features: dict) -> bytes:
    """dict of name -> value(s) => serialized tf.train.Example."""
    entries = b""
    for name in sorted(features):
        key = _len_delim(1, name.encode("utf-8"))
        val = _len_delim(2, _encode_feature(features[name]))
        entries += _len_delim(1, key + val)  # Features.feature map entry
    return _len_delim(1, entries)  # Example.features = field 1


# -- tf.train.Example decode ------------------------------------------------


def _iter_fields(buf: bytes) -> Iterator[tuple[int, int, bytes | int]]:
    pos = 0
    while pos < len(buf):
        tag, pos = _read_varint(buf, pos)
        field_no, wire = tag >> 3, tag & 7
        if wire == 2:
            ln, pos = _read_varint(buf, pos)
            yield field_no, wire, buf[pos : pos + ln]
            pos += ln
        elif wire == 0:
            v, pos = _read_varint(buf, pos)
            yield field_no, wire, v
        elif wire == 5:
            yield field_no, wire, buf[pos : pos + 4]
            pos += 4
        elif wire == 1:
            yield field_no, wire, buf[pos : pos + 8]
            pos += 8
        else:
            raise ValueError(f"unsupported wire type {wire}")


def _decode_value_list(buf: bytes) -> list:
    """Feature proto bytes -> python list (bytes/float/int)."""
    for field_no, wire, payload in _iter_fields(buf):
        if field_no == 1:  # BytesList
            return [
                v for f, w, v in _iter_fields(payload) if f == 1
            ]
        if field_no == 2:  # FloatList
            vals: list[float] = []
            for f, w, v in _iter_fields(payload):
                if f == 1 and w == 2:
                    vals.extend(np.frombuffer(v, dtype="<f4").tolist())
                elif f == 1 and w == 5:
                    vals.append(struct.unpack("<f", v)[0])
            return vals
        if field_no == 3:  # Int64List
            vals = []
            for f, w, v in _iter_fields(payload):
                if f == 1 and w == 2:
                    pos = 0
                    while pos < len(v):
                        x, pos = _read_varint(v, pos)
                        if x >= 1 << 63:
                            x -= 1 << 64
                        vals.append(x)
                elif f == 1 and w == 0:
                    vals.append(v if v < 1 << 63 else v - (1 << 64))
            return vals
    return []


def decode_example(buf: bytes) -> dict:
    """Serialized tf.train.Example -> dict of name -> list of values."""
    out: dict = {}
    for field_no, _w, features_buf in _iter_fields(buf):
        if field_no != 1:
            continue
        for f, _w2, entry in _iter_fields(features_buf):
            if f != 1:
                continue
            key, val = None, []
            for ef, _w3, ev in _iter_fields(entry):
                if ef == 1:
                    key = ev.decode("utf-8")
                elif ef == 2:
                    val = _decode_value_list(ev)
            if key is not None:
                out[key] = val
    return out


# -- TFRecord framing --------------------------------------------------------

_LEN = struct.Struct("<Q")


def frame_records(recs) -> bytes:
    """Frame a batch of records: two CRC passes, one over the 8-byte length
    headers and one over the payloads."""
    heads = _lengths(recs).astype("<u8").view(np.uint8)
    hcrc = _masked(_crc32c_spans(heads, 8 * np.arange(len(recs)), np.full(len(recs), 8)))
    pre = np.hstack((heads.reshape(-1, 8), hcrc.view(np.uint8).reshape(-1, 4))).tobytes()
    post = _masked(crc32c_many(recs)).tobytes()
    return b"".join(
        itertools.chain.from_iterable(
            (pre[12 * i : 12 * i + 12], rec, post[4 * i : 4 * i + 4]) for i, rec in enumerate(recs)
        )
    )


def split_records(raw: bytes) -> list[bytes]:
    """Inverse of ``frame_records`` over a whole decompressed file. Walks the
    length fields, then checks every length CRC and every data CRC as a
    batch; raises ``ValueError`` for the first bad or truncated record in
    file order."""
    starts, lens = [], []
    pos, end = 0, len(raw)
    while pos + 12 <= end:
        starts.append(pos)
        lens.append(_LEN.unpack_from(raw, pos)[0])
        pos += 16 + lens[-1]
    m = len(starts)
    whole = m - (pos > end)  # records whose data and CRC are all present
    buf = np.frombuffer(raw, dtype=np.uint8)
    hs = np.array(starts, dtype=np.int64)
    ds, dl = hs[:whole] + 12, np.array(lens[:whole], dtype=np.int64)

    def first_bad(crc: np.ndarray, at: np.ndarray) -> int:
        got = buf[at[:, None] + np.arange(4)].view("<u4").ravel()
        bad = np.flatnonzero(got != _masked(crc))
        return int(bad[0]) if len(bad) else m + 1

    cut = m if pos < end else m - 1 if pos > end else m + 1  # record the input ends inside
    errors = (
        (first_bad(_crc32c_spans(buf, hs, np.full(m, 8)), hs + 8), "length CRC mismatch"),
        (cut, "truncated"),
        (first_bad(_crc32c_spans(buf, ds, dl), ds + dl), "data CRC mismatch"),
    )
    i, msg = min(errors, key=lambda e: e[0])  # ties keep file-order precedence
    if i <= m:
        raise ValueError(f"TFRecord {msg} in record {i}")
    return [raw[s + 12 : s + 12 + n] for s, n in zip(starts, lens)]


def write_record(fh, data: bytes) -> None:
    fh.write(frame_records([data]))


def read_records(fh) -> Iterator[bytes]:
    yield from split_records(fh.read())


# -- DataFrame sink/source ---------------------------------------------------


_FRAME_BATCH = 8192  # encoded records framed per call


def write_tfrecords(df: DataFrame, out_dir: str, compress: bool = True) -> int:
    """S2: write one gzip TFRecord shard per partition (executor-side IO,
    nothing through the driver). Each row's columns become Example features;
    array columns become multi-valued features. Returns total record count."""
    os.makedirs(out_dir, exist_ok=True)
    # overwrite, like the Parquet sink: shards of an earlier, wider write
    # would otherwise be read back with this one
    for pattern in ("part-*.tfrecord*", "_SUCCESS"):
        for stale in glob.glob(os.path.join(glob.escape(out_dir), pattern)):
            os.remove(stale)
    suffix = ".tfrecord.gz" if compress else ".tfrecord"
    cols = df.columns

    def write_partition(idx: int, rows) -> Iterator[int]:
        path = os.path.join(out_dir, f"part-{idx:05d}{suffix}")
        opener = gzip.open if compress else open
        n = 0
        examples = (encode_example({c: row[c] for c in cols if row[c] is not None}) for row in rows)
        with opener(path, "wb") as fh:
            while batch := list(itertools.islice(examples, _FRAME_BATCH)):
                fh.write(frame_records(batch))
                n += len(batch)
        if n == 0:
            os.remove(path)
        yield n

    total = df.rdd.mapPartitionsWithIndex(write_partition).sum()
    # match the parquet sink's commit marker so run_dataprep caching works
    open(os.path.join(out_dir, "_SUCCESS"), "wb").close()
    return int(total)


def read_tfrecords(
    spark: SparkSession, path_glob: str, schema: str
) -> DataFrame:
    """S3/S4: binaryFile source (globbing, parallel read, file pruning from
    Spark) -> mapInPandas decode of framing + Example protos, projected to
    ``schema`` (a DDL string — the ``featdef()`` schema-on-read contract).

    Scalar fields take the first list element (the reference's
    FixedLenFeature([]) parse shape); array fields keep the full list.
    """
    files = spark.read.format("binaryFile").load(path_glob)
    target = spark.createDataFrame([], schema).schema
    names = [f.name for f in target.fields]
    scalars = {
        f.name: not f.dataType.typeName().startswith("array") for f in target.fields
    }
    stringly = {f.name: "string" in f.dataType.simpleString() for f in target.fields}

    def _conv(v, name):
        if stringly[name] and isinstance(v, bytes):
            return v.decode("utf-8")
        return v

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: list[dict] = []
            for _, file_row in pdf.iterrows():
                raw = bytes(file_row["content"])
                if file_row["path"].endswith(".gz"):
                    raw = gzip.decompress(raw)
                for rec in split_records(raw):
                    ex = decode_example(rec)
                    row = {}
                    for n in names:
                        v = ex.get(n, [])
                        if scalars[n]:
                            row[n] = _conv(v[0], n) if v else None
                        else:
                            row[n] = [_conv(x, n) for x in v]
                    out.append(row)
            yield pd.DataFrame(out, columns=names) if out else pd.DataFrame(
                columns=names
            )

    return files.select("path", "content").mapInPandas(decode, schema=schema)
