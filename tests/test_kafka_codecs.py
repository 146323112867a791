"""Kafka record-batch compression (codec ids 1-4) on the wire.

Decoders are anchored on hand-built spec vectors kept as byte literals
(snappy tags, LZ4 sequences and frames, zstd blocks and frames) and on
frames from independent encoders (pyarrow's streaming zstd writer and
the ``zstd``/``lz4`` command-line tools when installed), so they never
rest on our own encoder. Encoders are then checked through round trips,
through the frame layout Kafka's Java reader needs, and through a
``MiniKafkaBroker`` produce → fetch.
"""

from __future__ import annotations

import random
import shutil
import struct
import subprocess

import pyarrow as pa
import pytest

from aether_firebase_consumer_spark.sources.kafka_wire import (
    CODEC_GZIP,
    CODEC_LZ4,
    CODEC_SNAPPY,
    CODEC_ZSTD,
    KafkaWireClient,
    MiniKafkaBroker,
    compress_records,
    crc32c,
    decode_record_batches,
    decompress_records,
    encode_record_batch,
)

CODECS = ["gzip", "snappy", "lz4", "zstd"]
IDS = {"gzip": CODEC_GZIP, "snappy": CODEC_SNAPPY, "lz4": CODEC_LZ4,
       "zstd": CODEC_ZSTD}
ENTRIES = [(0, 100, b"k" * 50, b"v" * 500), (1, 200, None, b"w" * 500),
           (5, 150, b"k2", b"")]


def _with_records(batch: bytes, codec_id: int, records: bytes) -> bytes:
    """``batch`` (one uncompressed magic-2 batch) with its records
    section replaced by ``records`` under ``codec_id``, batchLength and
    CRC32C fixed up — a batch as another producer would send it."""
    head = bytearray(batch[:61])
    head[22] = (head[22] & ~0x07) | codec_id          # attributes
    body = bytes(head[21:]) + records
    return (batch[:8] + struct.pack(">i", 9 + len(body)) + batch[12:17]
            + struct.pack(">I", crc32c(body)) + body)


def _plain_records() -> tuple[bytes, bytes]:
    plain = encode_record_batch(ENTRIES)
    return plain, plain[61:]


# ---------------------------------------------------- batch round trips

@pytest.mark.parametrize("codec", CODECS)
def test_record_batch_round_trip(codec):
    plain = encode_record_batch(ENTRIES)
    comp = encode_record_batch(ENTRIES, codec=codec)
    assert comp[22] & 0x07 == IDS[codec]
    assert len(comp) < len(plain)              # it actually compressed
    assert decode_record_batches(comp) == ENTRIES
    bad = bytearray(comp)
    bad[-1] ^= 0xFF
    with pytest.raises(ValueError, match="CRC32C"):
        decode_record_batches(bytes(bad))


@pytest.mark.parametrize("codec", ["snappy", "lz4", "zstd"])
def test_broker_round_trip(codec):
    """Produce compressed → broker decodes → fetch responses re-encoded
    in ``fetch_codec`` → client decodes; an uncompressed produce into
    the same log too."""
    with MiniKafkaBroker(fetch_codec=codec) as b:
        with KafkaWireClient(b.host, b.port) as c:
            c.produce_records("c.t", 0,
                              [(b"a", b"x" * 1000, 11),
                               (b"b", b"y" * 1000, 22)], codec=codec)
            c.produce_records("c.t", 0, [(b"c", b"z", 33)])
            got = c.fetch_records("c.t", 0, 0)
    assert got == [(0, 11, b"a", b"x" * 1000), (1, 22, b"b", b"y" * 1000),
                   (2, 33, b"c", b"z")]


@pytest.mark.parametrize("codec", CODECS)
def test_payload_round_trip_sizes(codec):
    rng = random.Random(7)
    for n in (0, 1, 13, 65535, 65536, 65537, 200_000):
        data = bytes(b & 3 for b in rng.randbytes(n))
        assert decompress_records(
            IDS[codec], compress_records(codec, data)) == data


def test_unknown_codec_names_itself():
    with pytest.raises(ValueError, match="unsupported record-batch codec"):
        encode_record_batch(ENTRIES, codec="brotli")


# ------------------------------------------------------- LZ4 frames

LZ4_HEADER = bytes.fromhex("04224d18604082")   # v1, B.Indep, 64 KiB


def _lz4_frame(*blocks: bytes, header: bytes = LZ4_HEADER) -> bytes:
    return (header + b"".join(struct.pack("<I", len(b)) + b
                              for b in blocks) + bytes(4))


@pytest.mark.parametrize("block,want", [
    # 5 literals, no match
    (bytes([0x50]) + b"abcde", b"abcde"),
    # 20 literals: nibble 15 + continuation byte 5
    (bytes([0xF0, 5]) + bytes(range(20)), bytes(range(20))),
    # "abcd" + match(offset 4, len 4) + 5 final literals
    (bytes([0x40]) + b"abcd" + b"\x04\x00" + bytes([0x50]) + b"xyzuv",
     b"abcdabcdxyzuv"),
    # "ab" + overlapping match(offset 2, len 18)
    (bytes([0x2E]) + b"ab" + b"\x02\x00" + bytes([0x50]) + b"!!!!!",
     b"ab" * 10 + b"!!!!!"),
    # match length nibble 15 + continuation 4 → 23
    (bytes([0x1F]) + b"z" + b"\x01\x00" + bytes([4, 0x50]) + b"qqqqq",
     b"z" * 24 + b"qqqqq"),
])
def test_lz4_spec_blocks(block, want):
    assert decompress_records(CODEC_LZ4, _lz4_frame(block)) == want


def test_lz4_stored_block():
    raw = bytes(range(40))
    frame = (LZ4_HEADER + struct.pack("<I", len(raw) | 1 << 31) + raw
             + bytes(4))
    assert decompress_records(CODEC_LZ4, frame) == raw


def test_lz4_block_dependent_frame():
    """FLG 0x40 (B.Indep clear): block 2's match reaches into block 1."""
    blk1 = bytes([0x80]) + b"ABCDEFGH"
    blk2 = bytes([0x00]) + b"\x08\x00" + bytes([0x50]) + b"12345"
    frame = _lz4_frame(blk1, blk2, header=bytes.fromhex("04224d184040c0"))
    assert decompress_records(CODEC_LZ4, frame) == b"ABCDEFGHABCD12345"


def test_lz4_encoded_frame_blocks_are_independent():
    """Over 64 KiB, every block decodes on its own (Kafka's Java reader
    requires B.Indep), and an incompressible block is stored."""
    rng = random.Random(3)
    data = b"kafka lz4 block " * 25_000 + rng.randbytes(70_000)
    frame = compress_records("lz4", data)
    assert frame[:7] == LZ4_HEADER
    assert frame[4] & 0x20                     # B.Indep
    pos, out, stored = 7, bytearray(), 0
    while True:
        (size,) = struct.unpack_from("<I", frame, pos)
        pos += 4
        if size == 0:
            break
        block = frame[pos:pos + (size & ~(1 << 31))]
        pos += len(block)
        if size & 1 << 31:
            stored += 1
            out += block
        else:
            n = min(64 * 1024, len(data) - len(out))
            out += pa.decompress(block, n, codec="lz4_raw", asbytes=True)
    assert pos == len(frame)                   # no content checksum
    assert out == data and stored >= 1


# ------------------------------------------------------- zstd frames

def _zstd_frame(blocks: bytes, fcs: int) -> bytes:
    # single-segment frame, 1-byte content size, no checksum
    return b"\x28\xb5\x2f\xfd" + bytes([0x20, fcs]) + blocks


def _compressed_block(body: bytes) -> bytes:
    return (1 | 2 << 1 | len(body) << 3).to_bytes(3, "little") + body


@pytest.mark.parametrize("frame,want", [
    # raw literals "abcdef"; one sequence, RLE tables: ll=4, offset 2,
    # match 3 → "abcd" + "cdc" + "ef"
    (_zstd_frame(_compressed_block(
        bytes([6 << 3]) + b"abcdef" + bytes([1, 0x54, 4, 2, 0, 0b101])),
        9), b"abcdcdcef"),
    # two sequences repeating offset 1 (initial repeat list [1, 4, 8])
    (_zstd_frame(_compressed_block(
        bytes([2 << 3]) + b"ab" + bytes([2, 0x54, 1, 0, 0, 0x01])), 8),
     b"aaaabbbb"),
    # RLE literals inside a compressed block, no sequences
    (_zstd_frame(_compressed_block(bytes([5 << 3 | 1]) + b"z\x00"), 5),
     b"zzzzz"),
    # frame-level RLE block: the size field is the regenerated size
    (_zstd_frame((1 | 1 << 1 | 7 << 3).to_bytes(3, "little") + b"q", 7),
     b"qqqqqqq"),
])
def test_zstd_spec_frames(frame, want):
    assert decompress_records(CODEC_ZSTD, frame) == want


def test_zstd_streaming_frame_without_content_size():
    sink = pa.BufferOutputStream()
    data = b"streamed without a size " * 4000
    with pa.CompressedOutputStream(sink, "zstd") as out:
        out.write(data)
    frame = sink.getvalue().to_pybytes()
    assert frame[4] & 0xC0 == 0 and not frame[4] & 0x20   # no FCS field
    assert decompress_records(CODEC_ZSTD, frame) == data


def test_zstd_concatenated_and_skippable_frames():
    f1 = compress_records("zstd", b"hello ")
    skip = struct.pack("<II", 0x184D2A50, 5) + b"XXXXX"
    f2 = compress_records("zstd", b"world")
    assert decompress_records(CODEC_ZSTD, f1 + skip + f2) == b"hello world"


@pytest.mark.parametrize("codec,args", [
    ("zstd", ["-3"]), ("zstd", ["-19", "--no-check"]),
    ("lz4", ["-B4", "-BD"]), ("lz4", ["-B4", "-BI", "--content-size"]),
])
def test_cli_frames_decode_in_a_batch(codec, args):
    """Frames from the reference tools — streamed from stdin, so with
    no content size unless asked — decode inside a record batch."""
    cli = shutil.which(codec)
    if cli is None:
        pytest.skip(f"no {codec} CLI on PATH")
    plain, records = _plain_records()
    frame = subprocess.run([cli, "-c", *args], input=records,
                           capture_output=True, check=True).stdout
    batch = _with_records(plain, IDS[codec], frame)
    assert decode_record_batches(batch) == ENTRIES


@pytest.mark.parametrize("codec", ["lz4", "zstd"])
def test_reference_cli_decodes_our_frames(codec):
    cli = shutil.which(codec)
    if cli is None:
        pytest.skip(f"no {codec} CLI on PATH")
    rng = random.Random(11)
    data = b"json doc body " * 20_000 + rng.randbytes(70_000)
    out = subprocess.run([cli, "-d", "-c"],
                         input=compress_records(codec, data),
                         capture_output=True, check=True).stdout
    assert out == data


# ------------------------------------------------------ snappy blocks

@pytest.mark.parametrize("block,want", [
    (b"\x00", b""),
    # literal tag (len-1)<<2
    (b"\x05" + bytes([4 << 2]) + b"abcde", b"abcde"),
    # 100-byte literal: tag 60 + one length byte
    (b"\x64" + bytes([60 << 2, 99]) + bytes(range(100)), bytes(range(100))),
    # copy-1: offset 4, len 4
    (b"\x08" + bytes([3 << 2]) + b"abcd" + bytes([0x01, 4]), b"abcdabcd"),
    # copy-2 overlapping: offset 2, len 18
    (b"\x14" + bytes([1 << 2]) + b"ab" + bytes([0x02 | 17 << 2, 2, 0]),
     b"ab" * 10),
    # copy-4: offset 4, len 4
    (b"\x08" + bytes([3 << 2]) + b"wxyz" + bytes([0x03 | 3 << 2, 4, 0, 0, 0]),
     b"wxyzwxyz"),
])
def test_snappy_spec_blocks(block, want):
    assert decompress_records(CODEC_SNAPPY, block) == want


#: snappy-java ``SnappyOutputStream``: magic, version 1, compat 1, then
#: [int32 BE length][raw block] chunks — "hello " and "world" + copy
XERIAL = (b"\x82SNAPPY\x00" + b"\x00\x00\x00\x01" + b"\x00\x00\x00\x01"
          + b"\x00\x00\x00\x08" + b"\x06\x14hello "
          + b"\x00\x00\x00\x09" + b"\x0a\x10world\x05\x05")


def test_snappy_xerial_stream():
    assert decompress_records(CODEC_SNAPPY, XERIAL) == b"hello worldworld"


def test_snappy_xerial_stream_in_a_batch():
    """What a Java producer sends: the records section as a xerial
    stream of two chunks."""
    plain, records = _plain_records()
    half = len(records) // 2
    chunks = [pa.compress(part, codec="snappy", asbytes=True)
              for part in (records[:half], records[half:])]
    stream = XERIAL[:16] + b"".join(struct.pack(">i", len(c)) + c
                                    for c in chunks)
    batch = _with_records(plain, CODEC_SNAPPY, stream)
    assert decode_record_batches(batch) == ENTRIES


# --------------------------------------------------- corrupt payloads

def _corrupt_cases():
    cases = []
    for codec in ("snappy", "lz4", "zstd", "gzip"):
        enc = compress_records(codec, bytes(range(256)) * 40)
        cases += [(codec, enc[:len(enc) // 2]), (codec, enc[:-1]),
                  (codec, b"garbage, not a " + codec.encode() + b" payload")]
    cases += [
        ("snappy", b"\x80\x80\x80\x80\x80\x80"),          # bad preamble
        ("snappy", b"\x05" + bytes([4 << 2]) + b"ab"),    # short literal
        ("snappy", b"\x04" + bytes([0x01, 9])),           # copy before start
        ("snappy", XERIAL[:-3]),                          # short chunk
        ("lz4", LZ4_HEADER[:6] + b"\x00" + bytes(4)),     # header checksum
        ("zstd", _zstd_frame((1 | 3 << 3).to_bytes(3, "little") + b"abc",
                             99)),                        # size mismatch
    ]
    return cases


@pytest.mark.parametrize("codec,bad", _corrupt_cases())
def test_corrupt_payload_raises_value_error(codec, bad):
    with pytest.raises(ValueError, match=f"{codec} record-batch payload"):
        decompress_records(IDS[codec], bad)
    plain, _ = _plain_records()
    with pytest.raises(ValueError, match=f"{codec} record-batch payload"):
        decode_record_batches(_with_records(plain, IDS[codec], bad))


# ------------------------------------------- malformed records sections

_ONE = encode_record_batch([(0, 100, b"k", b"value-123")])


@pytest.mark.parametrize("batch,with_headers", [
    # the header counts 3 records; the section holds only the first
    (_with_records(encode_record_batch(ENTRIES), 0,
                   encode_record_batch(ENTRIES[:1])[61:]), False),
    # the section ends 3 bytes short of its one record's length, which
    # would otherwise decode as b"value-1"
    (_with_records(_ONE, 0, _ONE[61:-3]), False),
    # value length 20 inside an 11-byte record
    (_with_records(_ONE, 0, b"\x16\x00\x00\x00\x01\x28abcde\x00"), False),
    # header key length 20 inside a 9-byte record
    (_with_records(_ONE, 0, b"\x12\x00\x00\x00\x01\x01\x02\x28ab"), True),
    # a batchLength of -5 between two whole batches, which would
    # otherwise end the decode and drop the batch after it
    (_ONE + _ONE[:8] + struct.pack(">i", -5) + _ONE[12:] + _ONE, False),
], ids=["short-records", "truncated-value", "value-past-record",
        "header-past-record", "negative-batch-length"])
def test_malformed_records_section_raises_value_error(batch, with_headers):
    """A batch whose CRC checks out but whose records do not fit their
    section raises ValueError rather than IndexError or a silently
    truncated value."""
    with pytest.raises(ValueError, match="record"):
        decode_record_batches(batch, with_headers=with_headers)
