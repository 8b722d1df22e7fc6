"""TFRecord source/sink round-trip (reference S2/S3/S4/S5 fidelity,
``conceptnetwork/concept.py:75-121`` smoke-test shape: N copies of a fixture
record through the sink and back through schema-on-read parse)."""

import glob
import gzip
import io
import random

import numpy as np
import pytest

from pyspark.sql import functions as F

from conceptnetwork_spark.sources import tfrecord as tfr


def _crc32c_bytewise(data: bytes) -> int:
    """Reference: the per-byte table loop the vectorized CRC replaced."""
    table, _ = tfr._crc_tables()
    crc = 0xFFFFFFFF
    for b in data:
        crc = int(table[(crc ^ b) & 0xFF]) ^ (crc >> 8)
    return crc ^ 0xFFFFFFFF


def test_crc32c_known_vectors():
    # public CRC-32C check values
    assert tfr.crc32c(b"") == 0
    assert tfr.crc32c(b"123456789") == 0xE3069283


def test_crc32c_many_matches_bytewise_loop():
    rng = random.Random(3)
    lens = [0, 1, 63, 64, 65, 127, 128, 4096, 70_000]
    lens += [rng.randrange(0, 600) for _ in range(200)]
    rng.shuffle(lens)
    recs = [rng.randbytes(n) for n in lens]
    got = tfr.crc32c_many(recs)
    assert got.dtype == np.uint32 and len(got) == len(recs)
    assert [int(c) for c in got] == [_crc32c_bytewise(r) for r in recs]
    # lengths alone (one record per call) take the same path
    for n in (0, 1, 63, 64, 65, 127, 128, 4096, 70_000):
        r = rng.randbytes(n)
        assert tfr.crc32c(r) == _crc32c_bytewise(r)


def test_frame_records_equals_write_record_and_inverts():
    rng = random.Random(5)
    recs = [rng.randbytes(n) for n in (0, 5, 64, 116, 116, 3000, 0, 1)]
    fh = io.BytesIO()
    for r in recs:
        tfr.write_record(fh, r)
    framed = tfr.frame_records(recs)
    assert framed == fh.getvalue()
    assert tfr.split_records(framed) == recs
    assert tfr.frame_records([]) == b"" and tfr.split_records(b"") == []


@pytest.mark.parametrize(
    "pos, msg",
    [(0, "length CRC"), (7, "length CRC"), (9, "length CRC"), (12, "data CRC"), (16, "data CRC"), (18, "data CRC")],
)
def test_split_records_names_the_corrupt_field(pos, msg):
    framed = bytearray(tfr.frame_records([b"hello", b"world"]))
    framed[21 + pos] ^= 0x01  # second record: 21 = 16 framing bytes + 5
    with pytest.raises(ValueError, match=msg):
        tfr.split_records(bytes(framed))


@pytest.mark.parametrize("cut", [6, 14])
def test_truncated_input_raises(cut):
    framed = tfr.frame_records([b"hello"])
    with pytest.raises(ValueError, match="truncated"):
        tfr.split_records(framed[:cut])
    with pytest.raises(ValueError, match="truncated"):
        list(tfr.read_records(io.BytesIO(framed[:cut])))


def test_small_varints_unchanged():
    def varint_loop(n):
        out = bytearray()
        while True:
            bits, n = n & 0x7F, n >> 7
            out.append(bits | 0x80 if n else bits)
            if not n:
                return bytes(out)

    for n in [*range(300), 2**14 - 1, 2**14, 2**63, 2**64 - 1]:
        assert tfr._varint(n) == varint_loop(n)
        assert tfr._read_varint(b"\x00" + varint_loop(n), 1) == (n, 1 + len(varint_loop(n)))


def test_example_proto_round_trip():
    feats = {
        "candidate_id": [42.0],
        "gender": [1.0],
        "name": ["alice"],
        "counts": [1, 2, 3],
    }
    buf = tfr.encode_example(feats)
    back = tfr.decode_example(buf)
    assert back["candidate_id"] == pytest.approx([42.0])
    assert back["gender"] == pytest.approx([1.0])
    assert back["name"] == [b"alice"]
    assert back["counts"] == [1, 2, 3]


def test_framing_round_trip():
    fh = io.BytesIO()
    recs = [b"abc", b"", b"x" * 1000]
    for r in recs:
        tfr.write_record(fh, r)
    fh.seek(0)
    assert list(tfr.read_records(fh)) == recs


def test_framing_detects_corruption():
    fh = io.BytesIO()
    tfr.write_record(fh, b"hello world")
    corrupted = bytearray(fh.getvalue())
    corrupted[14] ^= 0xFF  # flip a data byte
    with pytest.raises(ValueError, match="CRC"):
        list(tfr.read_records(io.BytesIO(bytes(corrupted))))


def test_dataframe_round_trip(spark, tmp_path):
    """Fixture rows -> gzip TFRecord shards -> binaryFile+decode -> equality
    (the reference writes 32 copies of one record and reads them back)."""
    rows = [(float(i), i % 2, f"user{i}", [0.1 * i, 0.2 * i]) for i in range(32)]
    df = spark.createDataFrame(
        rows, "candidate_id double, flag long, name string, emb array<double>"
    )
    out = str(tmp_path / "tfr")
    n = tfr.write_tfrecords(df.repartition(4), out)
    assert n == 32
    shards = glob.glob(f"{out}/part-*.tfrecord.gz")
    assert shards, "expected gzip shards"
    with gzip.open(shards[0], "rb") as fh:
        fh.read(1)  # really gzip

    back = tfr.read_tfrecords(
        spark, out, "candidate_id double, flag long, name string, emb array<double>"
    )
    got = sorted(
        (r.candidate_id, r.flag, r.name, [round(x, 5) for x in r.emb])
        for r in back.collect()
    )
    want = sorted(
        (cid, flag, name, [round(float(f"{x:.7g}"), 5) for x in emb])
        for cid, flag, name, emb in rows
    )
    # float32 storage: compare at reduced precision
    for g, w in zip(got, want):
        assert g[0] == pytest.approx(w[0], abs=1e-5)
        assert g[1] == w[1]
        assert g[2] == w[2]
        assert g[3] == pytest.approx(w[3], abs=1e-4)


def test_schema_projection_drops_features(spark, tmp_path):
    """S4 schema-on-read: requesting a column subset parses only those."""
    df = spark.createDataFrame([(1.0, "a"), (2.0, "b")], "x double, s string")
    out = str(tmp_path / "proj")
    tfr.write_tfrecords(df, out)
    back = tfr.read_tfrecords(spark, out, "x double")
    assert back.columns == ["x"]
    assert sorted(r.x for r in back.collect()) == pytest.approx([1.0, 2.0])


def test_rewrite_clears_stale_shards(spark, tmp_path):
    """A narrower rewrite into the same directory replaces the old shards."""
    out = str(tmp_path / "rewrite")
    assert tfr.write_tfrecords(spark.range(40).repartition(4), out) == 40
    assert len(glob.glob(f"{out}/part-*.tfrecord.gz")) == 4
    assert tfr.write_tfrecords(spark.range(10).coalesce(1), out) == 10
    assert len(glob.glob(f"{out}/part-*.tfrecord.gz")) == 1
    back = tfr.read_tfrecords(spark, out, "id long")
    assert sorted(r.id for r in back.collect()) == list(range(10))
