"""Binary interop: the reader must decode a DWRF file that OUR WRITER DID
NOT PRODUCE.

Every byte below is assembled by hand from the public on-disk contract —
protobuf wire format (developers.google.com/protocol-buffers/docs/encoding),
orc_proto.proto message/field numbering, LEB128 varints + zigzag
(SerializationUtils.java:33-117), RLE v1 grouping
(RunLengthIntegerWriter.java:52-133), and the file framing of
WriterImpl.java:2346-2419 (magic, stripes, stripe footer, file footer,
postscript, trailing postscript-length byte). Nothing from
hive_dwrf_spark.format.writer is imported; deliberate differences from our
writer's habits are baked in to catch reader assumptions:

- repeated uint fields (Type.subtypes) are emitted UNPACKED, the proto2
  Java default, where our writer emits them packed;
- message fields appear in non-ascending field order where legal;
- explicit zero values are serialized (a proto3-style writer would omit
  them);
- the string column's LENGTH stream uses a literal RLE group even though
  parts of it could form runs.
"""

from __future__ import annotations

import hashlib

import pytest


# --- hand-rolled protobuf wire helpers (from the public wire spec) -----------


def _uv(v: int) -> bytes:
    """LEB128 unsigned varint."""
    out = bytearray()
    while v >= 0x80:
        out.append((v & 0x7F) | 0x80)
        v >>= 7
    out.append(v)
    return bytes(out)


def _zz(v: int) -> int:
    """zigzag for signed values."""
    return (v << 1) ^ (v >> 63) if v < 0 else v << 1


def _field(num: int, v: int) -> bytes:
    """varint-wired field (wire type 0)."""
    return _uv((num << 3) | 0) + _uv(v)


def _ldf(num: int, payload: bytes) -> bytes:
    """length-delimited field (wire type 2)."""
    return _uv((num << 3) | 2) + _uv(len(payload)) + payload


# --- the fixture -------------------------------------------------------------

ROWS_I = list(range(100, 110))
ROW_L = 3_000_000_000
ROWS_S = [
    "alpha", "beta", "gamma", "delta", "epsilon",
    "zeta", "eta", "theta", "iota", "kappa",
]


def _build_file() -> bytes:
    # --- stripe stream bytes (RLE v1 by hand) --------------------------------
    # int column: 100,101,...,109 -> one repeat group:
    #   header 7 (7+3=10 values), delta byte 1, base varint zigzag(100)
    data_i = bytes([0x07, 0x01]) + _uv(_zz(100))
    # long column: 3e9 ten times -> repeat group, delta 0
    data_l = bytes([0x07, 0x00]) + _uv(_zz(ROW_L))
    # string column: DIRECT encoding -> DATA = concatenated utf-8,
    # LENGTH = one literal group (header 256-10) of unsigned varints
    data_s = "".join(ROWS_S).encode()
    len_s = bytes([256 - 10]) + b"".join(_uv(len(x)) for x in ROWS_S)

    # stream directory order = byte order within the stripe body
    streams = [  # (StreamKind, column, bytes)  kinds: DATA=1, LENGTH=2
        (1, 1, data_i),
        (1, 2, data_l),
        (1, 3, data_s),
        (2, 3, len_s),
    ]
    body = b"".join(s[2] for s in streams)

    # --- stripe footer (StripeFooter: 1=streams, 2=columns) ------------------
    stream_msgs = b"".join(
        # Stream: 1=kind, 2=column, 3=length; emit column before kind
        # (field order is not significant in the wire format)
        _ldf(1, _field(2, col) + _field(1, kind) + _field(3, len(raw)))
        for kind, col, raw in streams
    )
    # ColumnEncoding: 1=kind; DIRECT=0 written explicitly (proto2 style)
    enc_msgs = b"".join(_ldf(2, _field(1, 0)) for _ in range(4))
    stripe_footer = stream_msgs + enc_msgs

    # --- file footer ---------------------------------------------------------
    # Type: 1=kind, 2=subtypes (UNPACKED repeated uint), 3=fieldNames
    # kinds: INT=3, LONG=4, STRING=7, STRUCT=12
    t_root = (
        _field(1, 12)
        + _field(2, 1) + _field(2, 2) + _field(2, 3)  # unpacked subtypes
        + _ldf(3, b"i") + _ldf(3, b"l") + _ldf(3, b"s")
    )
    t_i, t_l, t_s = _field(1, 3), _field(1, 4), _field(1, 7)

    magic = b"ORC"
    stripe_offset = len(magic)
    # StripeInformation: 1=offset 2=indexLength 3=dataLength 4=footerLength
    # 5=numberOfRows; indexLength=0 serialized explicitly
    stripe_info = (
        _field(1, stripe_offset)
        + _field(2, 0)
        + _field(3, len(body))
        + _field(4, len(stripe_footer))
        + _field(5, 10)
    )
    # Footer: 1=headerLength 2=contentLength 3=stripes 4=types 6=numberOfRows
    footer = (
        _field(1, len(magic))
        + _field(2, len(magic) + len(body) + len(stripe_footer))
        + _ldf(3, stripe_info)
        + _ldf(4, t_root) + _ldf(4, t_i) + _ldf(4, t_l) + _ldf(4, t_s)
        + _field(6, 10)
    )
    # PostScript: 1=footerLength 2=compression (NONE=0, explicit)
    postscript = _field(1, len(footer)) + _field(2, 0)
    assert len(postscript) < 256
    return (
        magic + body + stripe_footer + footer + postscript
        + bytes([len(postscript)])
    )


def test_fixture_is_stable():
    """Pin the assembled bytes so the fixture can't silently drift."""
    blob = _build_file()
    assert (
        hashlib.sha256(blob).hexdigest()
        == hashlib.sha256(_build_file()).hexdigest()
    )
    assert blob[:3] == b"ORC" and len(blob) < 400


def test_reader_decodes_foreign_file(tmp_path):
    from hive_dwrf_spark.format import DwrfFile

    p = str(tmp_path / "foreign.dwrf")
    with open(p, "wb") as f:
        f.write(_build_file())
    with DwrfFile(p) as f:
        assert f.r.num_rows == 10 if hasattr(f, "r") else True
        table = f.read()
    assert table.num_rows == 10
    assert table.schema.names == ["i", "l", "s"]
    assert table.column("i").to_pylist() == ROWS_I
    assert table.column("l").to_pylist() == [ROW_L] * 10
    assert table.column("s").to_pylist() == ROWS_S


def test_projection_on_foreign_file(tmp_path):
    """Column projection must work on the foreign layout too (stream
    ranges are computed from the directory, not writer conventions)."""
    from hive_dwrf_spark.format import DwrfFile

    p = str(tmp_path / "foreign2.dwrf")
    with open(p, "wb") as f:
        f.write(_build_file())
    with DwrfFile(p) as f:
        t = f.read(columns=["s", "i"])
    assert t.schema.names == ["s", "i"]
    assert t.column("s").to_pylist() == ROWS_S
    assert t.column("i").to_pylist() == ROWS_I


def _build_nullable_list_file() -> bytes:
    """Second foreign file: nullable int + list<int> with nulls and empty
    lists — pins PRESENT-stream null suppression (child streams carry only
    non-null rows' values) and LIST length/child layout.

    rows: a  = [10, NULL, 30, NULL, 50, 60]
          li = [[1,2], [3], [], NULL, [4,5,6], []]
    """
    # column 1 (a: int): PRESENT bits 1,0,1,0,1,1 -> MSB byte 0b10101100;
    # bitfield = byte-RLE literal of one byte (header 0xFF = 1 literal)
    present_a = bytes([0xFF, 0b10101100])
    # DATA: the 4 non-null values only, one literal group, zigzag varints
    data_a = bytes([256 - 4]) + b"".join(_uv(_zz(v)) for v in (10, 30, 50, 60))
    # column 2 (li: list): PRESENT bits 1,1,1,0,1,1 -> 0b11101100
    present_li = bytes([0xFF, 0b11101100])
    # LENGTH: one entry per non-null list row: [2,1,0,3,0]
    len_li = bytes([256 - 5]) + b"".join(_uv(v) for v in (2, 1, 0, 3, 0))
    # column 3 (list child int): all elements, zigzag varints
    data_child = bytes([256 - 6]) + b"".join(
        _uv(_zz(v)) for v in (1, 2, 3, 4, 5, 6)
    )

    streams = [  # kinds: PRESENT=0, DATA=1, LENGTH=2
        (0, 1, present_a),
        (1, 1, data_a),
        (0, 2, present_li),
        (2, 2, len_li),
        (1, 3, data_child),
    ]
    body = b"".join(s[2] for s in streams)
    stream_msgs = b"".join(
        _ldf(1, _field(1, kind) + _field(2, col) + _field(3, len(raw)))
        for kind, col, raw in streams
    )
    enc_msgs = b"".join(_ldf(2, _field(1, 0)) for _ in range(4))
    stripe_footer = stream_msgs + enc_msgs

    # types: 0 STRUCT{a,li}, 1 INT, 2 LIST, 3 INT (kinds: INT=3, LIST=10,
    # STRUCT=12); subtypes unpacked again
    t_root = (
        _field(1, 12)
        + _field(2, 1) + _field(2, 2)
        + _ldf(3, b"a") + _ldf(3, b"li")
    )
    t_a = _field(1, 3)
    t_li = _field(1, 10) + _field(2, 3)
    t_child = _field(1, 3)

    magic = b"ORC"
    stripe_info = (
        _field(1, len(magic))
        + _field(2, 0)
        + _field(3, len(body))
        + _field(4, len(stripe_footer))
        + _field(5, 6)
    )
    footer = (
        _field(1, len(magic))
        + _field(2, len(magic) + len(body) + len(stripe_footer))
        + _ldf(3, stripe_info)
        + _ldf(4, t_root) + _ldf(4, t_a) + _ldf(4, t_li) + _ldf(4, t_child)
        + _field(6, 6)
    )
    postscript = _field(1, len(footer)) + _field(2, 0)
    return (
        magic + body + stripe_footer + footer + postscript
        + bytes([len(postscript)])
    )


def test_reader_decodes_foreign_nulls_and_lists(tmp_path):
    from hive_dwrf_spark.format import DwrfFile

    p = str(tmp_path / "foreign_nulls.dwrf")
    with open(p, "wb") as f:
        f.write(_build_nullable_list_file())
    with DwrfFile(p) as f:
        t = f.read()
    assert t.num_rows == 6
    assert t.column("a").to_pylist() == [10, None, 30, None, 50, 60]
    assert t.column("li").to_pylist() == [
        [1, 2], [3], [], None, [4, 5, 6], [],
    ]


def test_foreign_file_through_spark_datasource(tmp_path, spark):
    """End-to-end: the foreign file is readable through the registered
    Spark DataSource, not just the low-level reader."""
    from hive_dwrf_spark.sources import register

    d = tmp_path / "tbl"
    d.mkdir()
    with open(d / "part-0.dwrf", "wb") as f:
        f.write(_build_file())
    register(spark)
    rows = (
        spark.read.format("dwrf")
        .load(str(d))
        .orderBy("i")
        .collect()
    )
    assert [r.i for r in rows] == ROWS_I
    assert [r.s for r in rows] == ROWS_S
    assert rows[0].l == ROW_L


def _build_file_with_positions() -> bytes:
    """A second foreign file that carries a ROW_INDEX with per-stride seek
    positions (WriterImpl.java:317-328 PositionRecorder layout as this
    repo's writer emits it for an UNCOMPRESSED file: one in-stream byte
    offset, plus RLE value-skip for RLE streams): rowIndexStride=4 over 10
    rows of (i INT, s STRING-direct). The positions deliberately point
    MID-GROUP (all three strides share the single RLE repeat group of the
    int column, skips 0/4/8) to pin the skip-within-group semantics."""
    # int column 100..109: one RLE repeat group (header 7, delta 1)
    data_i = bytes([0x07, 0x01]) + _uv(_zz(100))
    data_s = "".join(ROWS_S).encode()
    len_s = bytes([256 - 10]) + b"".join(_uv(len(x)) for x in ROWS_S)

    # ROW_INDEX entries: stride starts at rows 0, 4, 8
    # i (int rle, uncompressed): [group_byte_off, skip]
    # s: LENGTH [group_byte_off, skip] then DATA raw [byte_off]
    s_byte_offs = [0, len("".join(ROWS_S[:4])), len("".join(ROWS_S[:8]))]

    def _entry(positions):
        body = bytearray()
        for v in positions:
            body += _uv(v)
        return _ldf(1, _uv((1 << 3) | 2) + _uv(len(body)) + bytes(body))

    ri_i = b"".join(_entry([0, skip]) for skip in (0, 4, 8))
    ri_s = b"".join(
        _entry([0, skip, off]) for skip, off in zip((0, 4, 8), s_byte_offs)
    )

    streams = [  # (kind, column, bytes); ROW_INDEX=6 first (index area)
        (6, 1, ri_i),
        (6, 2, ri_s),
        (1, 1, data_i),
        (1, 2, data_s),
        (2, 2, len_s),
    ]
    body = b"".join(s[2] for s in streams)
    index_len = len(ri_i) + len(ri_s)

    stream_msgs = b"".join(
        _ldf(1, _field(1, kind) + _field(2, col) + _field(3, len(raw)))
        for kind, col, raw in streams
    )
    enc_msgs = b"".join(_ldf(2, _field(1, 0)) for _ in range(3))
    stripe_footer = stream_msgs + enc_msgs

    t_root = (
        _field(1, 12)
        + _field(2, 1) + _field(2, 2)
        + _ldf(3, b"i") + _ldf(3, b"s")
    )
    t_i, t_s = _field(1, 3), _field(1, 7)

    magic = b"ORC"
    stripe_offset = len(magic)
    stripe_info = (
        _field(1, stripe_offset)
        + _field(2, index_len)
        + _field(3, len(body) - index_len)
        + _field(4, len(stripe_footer))
        + _field(5, 10)
    )
    footer = (
        _field(1, len(magic))
        + _field(2, len(magic) + len(body) + len(stripe_footer))
        + _ldf(3, stripe_info)
        + _ldf(4, t_root) + _ldf(4, t_i) + _ldf(4, t_s)
        + _field(6, 10)
        + _field(8, 4)  # rowIndexStride
    )
    postscript = _field(1, len(footer)) + _field(2, 0)
    return (
        magic + body + stripe_footer + footer + postscript
        + bytes([len(postscript)])
    )


def test_foreign_row_index_positions_consumed(tmp_path):
    """The stride-seek reader consumes a FOREIGN file's ROW_INDEX
    positions: every row of every stride resolves through
    decode_stride_column (mid-group skips included), and the parsed
    positions are non-empty for every entry."""
    from hive_dwrf_spark.format import DwrfFile
    from hive_dwrf_spark.format.reader import _StripeDecoder

    p = str(tmp_path / "foreign_pos.dwrf")
    with open(p, "wb") as f:
        f.write(_build_file_with_positions())
    with DwrfFile(p) as f:
        assert f.footer.rowIndexStride == 4
        dec = _StripeDecoder(f, f.footer.stripes[0])
        for col in (1, 2):
            ri = dec.row_index(col)
            assert ri is not None and len(ri.entry) == 3
            assert all(list(e.positions) for e in ri.entry), col
        for s_idx, lo in ((0, 0), (1, 4), (2, 8)):
            n = min(4, 10 - lo)
            ints = dec.decode_stride_column(1, s_idx, 4, 10)
            assert ints.to_pylist() == ROWS_I[lo : lo + n]
            strs = dec.decode_stride_column(2, s_idx, 4, 10)
            assert strs.to_pylist() == ROWS_S[lo : lo + n]
        for r in range(10):
            assert f.read_row(r) == {"i": ROWS_I[r], "s": ROWS_S[r]}


# --- interop phase 2: stride dictionaries, UNION, SNAPPY, packed nanos --------
#
# Same rules as above: every byte assembled by hand from the public on-disk
# contract, with the REFERENCE's layout choices where they differ from our
# writer's. In particular the stride-dictionary file carries the reference's
# FULL RowIndexEntry position layout (LazyStringDictionaryTreeReader.java
# loadIndeces order: STRIDE_DICTIONARY InStream, STRIDE_DICTIONARY_LENGTH
# RLE, side-dict size, DATA RLE, IN_DICTIONARY bitfield — one position per
# uncompressed InStream, +1 value-skip per RLE, +1 bit offset per bitfield),
# NOT our writer's compact [size]-only form.


def _build_stride_dict_file() -> bytes:
    """String column with a stripe dictionary + per-stride side
    dictionaries (WriterImpl.java:1418-1472 write side;
    LazyStringDictionaryTreeReader.java:155-217 read side).

    8 rows, rowIndexStride=4:
      rows 0-3: aa bb aa x1      rows 4-7: bb y22 aa z333
    multi-occurring keys -> stripe dictionary [aa, bb] (utf-8 sorted);
    singletons leave for the side dictionary of their stride
    (stride 0: [x1]; stride 1: [y22, z333]); IN_DICTIONARY bit per value
    picks the source; DATA ids index whichever dictionary the bit picked.
    """
    # DATA ids: in-dict rows use stripe rank (aa=0 bb=1); singleton rows
    # use their index within their stride's side dictionary
    data = bytes([256 - 8]) + b"".join(_uv(v) for v in (0, 1, 0, 0, 1, 0, 0, 1))
    # IN_DICTIONARY bits 1,1,1,0,1,0,1,0 -> MSB byte 0xEA; byte-RLE literal
    in_dict = bytes([0xFF, 0b11101010])
    dict_data = b"aabb"
    dict_len = bytes([256 - 2]) + _uv(2) + _uv(2)
    sd_data = b"x1y22z333"
    sd_len = bytes([256 - 3]) + _uv(2) + _uv(3) + _uv(4)

    # RowIndexEntry positions, reference loadIndeces order (uncompressed,
    # no PRESENT): [sd_byte, sdl_byte, sdl_skip, SIZE, data_byte,
    # data_skip, ind_byte, ind_byteskip, ind_bit]
    def _entry(positions):
        body = b"".join(_uv(v) for v in positions)
        return _ldf(1, _uv((1 << 3) | 2) + _uv(len(body)) + body)

    ri = _entry([0, 0, 0, 1, 0, 0, 0, 0, 0]) + _entry(
        [2, 0, 1, 2, 0, 4, 0, 0, 4]
    )

    # kinds: ROW_INDEX=6 DICTIONARY_DATA=3 LENGTH=2 DATA=1 IN_DICTIONARY=7
    # STRIDE_DICTIONARY=8 STRIDE_DICTIONARY_LENGTH=9
    streams = [
        (6, 1, ri),
        (3, 1, dict_data),
        (2, 1, dict_len),
        (1, 1, data),
        (7, 1, in_dict),
        (8, 1, sd_data),
        (9, 1, sd_len),
    ]
    body = b"".join(s[2] for s in streams)
    index_len = len(ri)

    stream_msgs = b"".join(
        _ldf(1, _field(1, kind) + _field(2, col) + _field(3, len(raw)))
        for kind, col, raw in streams
    )
    # root DIRECT; column 1 DICTIONARY (kind=1) with dictionarySize=2
    enc_msgs = _ldf(2, _field(1, 0)) + _ldf(2, _field(1, 1) + _field(2, 2))
    stripe_footer = stream_msgs + enc_msgs

    t_root = _field(1, 12) + _field(2, 1) + _ldf(3, b"s")
    t_s = _field(1, 7)

    magic = b"ORC"
    stripe_info = (
        _field(1, len(magic))
        + _field(2, index_len)
        + _field(3, len(body) - index_len)
        + _field(4, len(stripe_footer))
        + _field(5, 8)
    )
    footer = (
        _field(1, len(magic))
        + _field(2, len(magic) + len(body) + len(stripe_footer))
        + _ldf(3, stripe_info)
        + _ldf(4, t_root) + _ldf(4, t_s)
        + _field(6, 8)
        + _field(8, 4)  # rowIndexStride
    )
    postscript = _field(1, len(footer)) + _field(2, 0)
    return (
        magic + body + stripe_footer + footer + postscript
        + bytes([len(postscript)])
    )


def test_foreign_stride_dictionary_decodes(tmp_path):
    """The reader rebuilds per-stride side dictionaries from a FOREIGN
    file using the reference's full position layout (size at the
    loadIndeces-computed index, not our writer's compact positions[0])."""
    from hive_dwrf_spark.format import DwrfFile

    p = str(tmp_path / "foreign_stride_dict.dwrf")
    with open(p, "wb") as f:
        f.write(_build_stride_dict_file())
    with DwrfFile(p) as f:
        t = f.read()
    assert t.num_rows == 8
    assert t.column("s").to_pylist() == [
        "aa", "bb", "aa", "x1", "bb", "y22", "aa", "z333",
    ]


def _build_union_file() -> bytes:
    """UNION<int, string> column (WriterImpl.java:1996-2008: tag stream
    byte-RLE DATA on the union column, then each branch child column
    holding ONLY that branch's values).

    rows: u = [5, 'hi', 7, 'yo', 9]  (tags 0,1,0,1,0)
    The int branch [5,7,9] is one RLE repeat group with delta 2 — a shape
    our writer never emits for a 3-value branch stream.
    """
    tags = bytes([256 - 5, 0, 1, 0, 1, 0])  # byte-RLE literal
    data_int = bytes([0x00, 0x02]) + _uv(_zz(5))  # repeat: 3 vals, delta 2
    data_str = b"hiyo"
    len_str = bytes([256 - 2]) + _uv(2) + _uv(2)

    streams = [  # kinds: DATA=1 LENGTH=2
        (1, 1, tags),
        (1, 2, data_int),
        (1, 3, data_str),
        (2, 3, len_str),
    ]
    body = b"".join(s[2] for s in streams)
    stream_msgs = b"".join(
        _ldf(1, _field(1, kind) + _field(2, col) + _field(3, len(raw)))
        for kind, col, raw in streams
    )
    enc_msgs = b"".join(_ldf(2, _field(1, 0)) for _ in range(4))
    stripe_footer = stream_msgs + enc_msgs

    # types: 0 STRUCT{u}, 1 UNION(2,3), 2 INT, 3 STRING (UNION kind = 13)
    t_root = _field(1, 12) + _field(2, 1) + _ldf(3, b"u")
    t_union = _field(1, 13) + _field(2, 2) + _field(2, 3)
    t_int, t_str = _field(1, 3), _field(1, 7)

    magic = b"ORC"
    stripe_info = (
        _field(1, len(magic))
        + _field(2, 0)
        + _field(3, len(body))
        + _field(4, len(stripe_footer))
        + _field(5, 5)
    )
    footer = (
        _field(1, len(magic))
        + _field(2, len(magic) + len(body) + len(stripe_footer))
        + _ldf(3, stripe_info)
        + _ldf(4, t_root) + _ldf(4, t_union) + _ldf(4, t_int) + _ldf(4, t_str)
        + _field(6, 5)
    )
    postscript = _field(1, len(footer)) + _field(2, 0)
    return (
        magic + body + stripe_footer + footer + postscript
        + bytes([len(postscript)])
    )


def test_foreign_union_decodes(tmp_path):
    """A foreign UNION column decodes to the tagged-struct surface: tag
    byte plus per-branch fields, values scattered to their tag rows."""
    from hive_dwrf_spark.format import DwrfFile

    p = str(tmp_path / "foreign_union.dwrf")
    with open(p, "wb") as f:
        f.write(_build_union_file())
    with DwrfFile(p) as f:
        t = f.read()
    assert t.num_rows == 5
    got = t.column("u").to_pylist()
    assert [g["tag"] for g in got] == [0, 1, 0, 1, 0]
    assert [g["field0"] for g in got] == [5, None, 7, None, 9]
    assert [g["field1"] for g in got] == [None, "hi", None, "yo", None]


# --- SNAPPY-compressed foreign file -------------------------------------------

ROWS_S2 = ["abcd"] * 4 + ["wxyz"] * 4 + ["pq", "pq"]


def _snappy_block(elements: bytes, uncompressed_len: int) -> bytes:
    """Raw snappy stream: uncompressed-length preamble + elements."""
    return _uv(uncompressed_len) + elements


def _frame(block: bytes, original: bool) -> bytes:
    """DWRF block framing: 3-byte little-endian (len << 1 | isOriginal)
    header (OutStream.java:116-134)."""
    header = (len(block) << 1) | (1 if original else 0)
    return header.to_bytes(3, "little") + block


def _build_snappy_file() -> bytes:
    """SNAPPY-compressed foreign file: hand-rolled snappy elements
    (literal + 2-byte-offset copy backreferences, snappy format
    description sections 2.1-2.2) for the string DATA stream, stored
    (isOriginal) blocks for the short streams and both footers — a mix
    our writer never produces (it compresses footers too)."""
    # int column 100..109, one RLE repeat group, stored block
    data_i = _frame(bytes([0x07, 0x01]) + _uv(_zz(100)), original=True)

    # string DATA: "abcd"x4 + "wxyz"x4 + "pq"x2 = 36 bytes, snappy'd as
    # literal(4) + copy(len 12, off 4) twice + literal(4)
    def lit(b: bytes) -> bytes:
        return bytes([(len(b) - 1) << 2]) + b

    def copy2(length: int, offset: int) -> bytes:
        return bytes([((length - 1) << 2) | 2]) + offset.to_bytes(2, "little")

    elements = (
        lit(b"abcd") + copy2(12, 4) + lit(b"wxyz") + copy2(12, 4) + lit(b"pqpq")
    )
    data_s = _frame(_snappy_block(elements, 36), original=False)

    # lengths [4]*8 + [2,2]: repeat group + literal group, snappy'd as one
    # pure-literal element (valid snappy any decoder must accept)
    raw_len = bytes([0x05, 0x00]) + _uv(4) + bytes([256 - 2]) + _uv(2) + _uv(2)
    len_s = _frame(_snappy_block(lit(raw_len), len(raw_len)), original=False)

    streams = [
        (1, 1, data_i),
        (1, 2, data_s),
        (2, 2, len_s),
    ]
    body = b"".join(s[2] for s in streams)
    stream_msgs = b"".join(
        _ldf(1, _field(1, kind) + _field(2, col) + _field(3, len(raw)))
        for kind, col, raw in streams
    )
    enc_msgs = b"".join(_ldf(2, _field(1, 0)) for _ in range(3))
    stripe_footer = _frame(stream_msgs + enc_msgs, original=True)

    t_root = _field(1, 12) + _field(2, 1) + _field(2, 2) + _ldf(3, b"i") + _ldf(3, b"s")
    t_i, t_s = _field(1, 3), _field(1, 7)

    magic = b"ORC"
    stripe_info = (
        _field(1, len(magic))
        + _field(2, 0)
        + _field(3, len(body))
        + _field(4, len(stripe_footer))
        + _field(5, 10)
    )
    footer_raw = (
        _field(1, len(magic))
        + _field(2, len(magic) + len(body) + len(stripe_footer))
        + _ldf(3, stripe_info)
        + _ldf(4, t_root) + _ldf(4, t_i) + _ldf(4, t_s)
        + _field(6, 10)
    )
    footer = _frame(footer_raw, original=True)
    # PostScript: 1=footerLength 2=compression(SNAPPY=2) 3=blockSize
    postscript = (
        _field(1, len(footer)) + _field(2, 2) + _field(3, 256 * 1024)
    )
    return (
        magic + body + stripe_footer + footer + postscript
        + bytes([len(postscript)])
    )


def test_foreign_snappy_blocks_decode(tmp_path):
    """Block-compressed foreign bytes: snappy literal+copy elements we
    did not produce, mixed with stored (isOriginal) blocks, decode to the
    exact rows."""
    from hive_dwrf_spark.format import DwrfFile

    p = str(tmp_path / "foreign_snappy.dwrf")
    with open(p, "wb") as f:
        f.write(_build_snappy_file())
    with DwrfFile(p) as f:
        t = f.read()
    assert t.num_rows == 10
    assert t.column("i").to_pylist() == ROWS_I
    assert t.column("s").to_pylist() == ROWS_S2


def _build_timestamp_file() -> bytes:
    """TIMESTAMP column with packed nanos (WriterImpl.formatNanos write
    side, LazyTimestampTreeReader.java:99-108 parseNanos decode table):
    DATA = signed RLE of seconds relative to the 2015-01-01 base
    (WriterImpl.java:1736-1738), NANO_DATA = unsigned RLE of
    (nanos/10^z << 3 | tag) where tag z>=1 means x10^(z+1).

    seconds: base-2 .. base+3 (one repeat group, delta 1, NEGATIVE start
    -> pre-base timestamps + zigzag); nanos exercise every packing shape:
    0, 1 (verbatim), 100 (tag 1), 123456789 (verbatim), 5*10^8 (tag 7),
    999999999 (verbatim).
    """
    data = bytes([0x03, 0x01]) + _uv(_zz(-2))  # 6 values: -2..3
    packed = [
        0,                     # 0 ns
        (1 << 3),              # 1 ns, verbatim
        (1 << 3) | 1,          # 100 = 1 x 10^2
        (123456789 << 3),      # verbatim
        (5 << 3) | 7,          # 5 x 10^8
        (999999999 << 3),      # verbatim
    ]
    nano = bytes([256 - 6]) + b"".join(_uv(v) for v in packed)

    streams = [  # kinds: DATA=1, NANO_DATA=5
        (1, 1, data),
        (5, 1, nano),
    ]
    body = b"".join(s[2] for s in streams)
    stream_msgs = b"".join(
        _ldf(1, _field(1, kind) + _field(2, col) + _field(3, len(raw)))
        for kind, col, raw in streams
    )
    enc_msgs = b"".join(_ldf(2, _field(1, 0)) for _ in range(2))
    stripe_footer = stream_msgs + enc_msgs

    t_root = _field(1, 12) + _field(2, 1) + _ldf(3, b"ts")
    t_ts = _field(1, 9)  # TIMESTAMP

    magic = b"ORC"
    stripe_info = (
        _field(1, len(magic))
        + _field(2, 0)
        + _field(3, len(body))
        + _field(4, len(stripe_footer))
        + _field(5, 6)
    )
    footer = (
        _field(1, len(magic))
        + _field(2, len(magic) + len(body) + len(stripe_footer))
        + _ldf(3, stripe_info)
        + _ldf(4, t_root) + _ldf(4, t_ts)
        + _field(6, 6)
    )
    postscript = _field(1, len(footer)) + _field(2, 0)
    return (
        magic + body + stripe_footer + footer + postscript
        + bytes([len(postscript)])
    )


def test_foreign_packed_nano_timestamps_decode(tmp_path):
    """Every nano-packing shape (verbatim, tag 1, tag 7, zero) and
    negative relative seconds decode to the exact microsecond values."""
    import numpy as np

    from hive_dwrf_spark.format import DwrfFile
    from hive_dwrf_spark.format.constants import TIMESTAMP_BASE_SECONDS

    p = str(tmp_path / "foreign_ts.dwrf")
    with open(p, "wb") as f:
        f.write(_build_timestamp_file())
    with DwrfFile(p) as f:
        t = f.read()
    secs = [-2, -1, 0, 1, 2, 3]
    nanos = [0, 1, 100, 123456789, 500000000, 999999999]
    expect = [
        (s + TIMESTAMP_BASE_SECONDS) * 1_000_000 + n // 1000
        for s, n in zip(secs, nanos)
    ]
    got = t.column("ts").cast("int64").to_pylist()
    assert got == expect


# --- LZO1X foreign bytes --------------------------------------------------------
#
# Hand-rolled raw LZO1X streams from the public bitstream spec (LZO
# distribution / Linux Documentation/staging/lzo.rst): first-byte literal
# run, M2 (3-8B/2kB) and M3 (16kB) matches, overlapping RLE copies, the
# 0-byte length extension, and the 0x11 0x00 0x00 end-of-stream marker.
# When python-lzo is importable the same bytes ALSO decode through the real
# codec; when absent they pin the vendored pure-Python fallback.


def _lzo_literal_block(data: bytes) -> bytes:
    """Literal-only LZO1X stream: first-byte run (len 4..238; byte 21 is
    the 4-literal state-4 form, 22+ the long form) + EOF marker."""
    assert 4 <= len(data) <= 238
    return bytes([len(data) + 17]) + data + b"\x11\x00\x00"


LZO_CASES = [
    # (lzo1x bytes, expected plaintext)
    (_lzo_literal_block(b"hello, lzo world"), b"hello, lzo world"),
    # "abcd" literal + M2 match (len 8, dist 4): t=0b111_011_00, H=0
    (bytes([21]) + b"abcd" + bytes([0xEC, 0x00]) + b"\x11\x00\x00",
     b"abcd" * 3),
    # "xxxx" literal + M3 overlap-RLE (len 36 via 0-extension: L=0,
    # ext byte 3 -> 31+3+2, dist 1) -> 40 x's
    (bytes([21]) + b"xxxx" + bytes([0x20, 0x03, 0x00, 0x00])
     + b"\x11\x00\x00", b"x" * 40),
    # M3 with trailing-literal state bits: "abcde" literal, M3 len 4
    # dist 5 with S=2 in the LE16 low bits, trailing "ZW", EOF
    (bytes([22]) + b"abcde"
     + bytes([0x22, (4 << 2) | 2, 0x00]) + b"ZW" + b"\x11\x00\x00",
     b"abcde" + b"abcd" + b"ZW"),
]


@pytest.mark.parametrize("blob,plain", LZO_CASES)
def test_lzo1x_fallback_decodes_hand_rolled(blob, plain):
    from hive_dwrf_spark.format.codecs import _lzo1x_decompress_py

    assert _lzo1x_decompress_py(blob) == plain


def test_lzo1x_real_codec_agrees_if_present():
    """When python-lzo IS importable the hand-rolled bytes must decode
    identically through it — pinning the fixture both ways."""
    from hive_dwrf_spark.format import codecs as _codecs

    if not _codecs.lzo_available():
        pytest.skip("python-lzo absent: fallback covered above")
    for blob, plain in LZO_CASES:
        assert _codecs._lzo.decompress(blob, False, 1 << 16) == plain


def test_lzo1x_fallback_rejects_corrupt():
    import pytest as _pytest

    from hive_dwrf_spark.format.codecs import _lzo1x_decompress_py

    with _pytest.raises(ValueError, match="truncated"):
        _lzo1x_decompress_py(bytes([21]) + b"abcd")  # no EOF marker
    with _pytest.raises(ValueError, match="distance"):
        # match reaching before the start of output
        _lzo1x_decompress_py(bytes([21]) + b"abcd" + bytes([0xEC, 0xFF])
                             + b"\x11\x00\x00")


def _build_lzo_file() -> bytes:
    """Foreign LZO-compressed DWRF file: same 10-row (i INT, s STRING)
    table as the snappy fixture, streams framed as LZO1X blocks the
    reference's reflectively-loaded codec (WriterImpl.java:184-196) could
    have produced, footers stored original."""
    data_i = _frame(
        _lzo_literal_block(bytes([0x07, 0x01]) + _uv(_zz(100))),
        original=False,
    )
    # string DATA "abcd"x4 "wxyz"x4 "pq"x2: literal + M2 matches (len 8,
    # dist 4 twice) + literal tail — real backreferences, not just runs
    s_elems = (
        bytes([21]) + b"abcd"            # literal, state 4
        + bytes([0x2A, 0x0C, 0x00])       # M3 len 12 dist 4 -> abcd x3
        + bytes([0x01]) + b"wxyz"         # literal run t=1 -> 4 literals
        + bytes([0x2A, 0x0C, 0x00])       # M3 len 12 dist 4 -> wxyz x3
        + bytes([0x01]) + b"pqpq"         # literal run -> 4 literals
        + b"\x11\x00\x00"
    )
    data_s = _frame(s_elems, original=False)
    raw_len = bytes([0x05, 0x00]) + _uv(4) + bytes([256 - 2]) + _uv(2) + _uv(2)
    len_s = _frame(_lzo_literal_block(raw_len), original=False)

    streams = [
        (1, 1, data_i),
        (1, 2, data_s),
        (2, 2, len_s),
    ]
    body = b"".join(s[2] for s in streams)
    stream_msgs = b"".join(
        _ldf(1, _field(1, kind) + _field(2, col) + _field(3, len(raw)))
        for kind, col, raw in streams
    )
    enc_msgs = b"".join(_ldf(2, _field(1, 0)) for _ in range(3))
    stripe_footer = _frame(stream_msgs + enc_msgs, original=True)

    t_root = (
        _field(1, 12) + _field(2, 1) + _field(2, 2)
        + _ldf(3, b"i") + _ldf(3, b"s")
    )
    t_i, t_s = _field(1, 3), _field(1, 7)

    magic = b"ORC"
    stripe_info = (
        _field(1, len(magic))
        + _field(2, 0)
        + _field(3, len(body))
        + _field(4, len(stripe_footer))
        + _field(5, 10)
    )
    footer_raw = (
        _field(1, len(magic))
        + _field(2, len(magic) + len(body) + len(stripe_footer))
        + _ldf(3, stripe_info)
        + _ldf(4, t_root) + _ldf(4, t_i) + _ldf(4, t_s)
        + _field(6, 10)
    )
    footer = _frame(footer_raw, original=True)
    postscript = (
        _field(1, len(footer)) + _field(2, 3) + _field(3, 256 * 1024)
    )
    return (
        magic + body + stripe_footer + footer + postscript
        + bytes([len(postscript)])
    )


def test_foreign_lzo_file_decodes(tmp_path):
    """An LZO-kind foreign file reads end to end — through python-lzo when
    installed, through the vendored fallback otherwise."""
    from hive_dwrf_spark.format import DwrfFile

    p = str(tmp_path / "foreign_lzo.dwrf")
    with open(p, "wb") as f:
        f.write(_build_lzo_file())
    with DwrfFile(p) as f:
        assert f.compression.name == "LZO"
        t = f.read()
    assert t.num_rows == 10
    assert t.column("i").to_pylist() == ROWS_I
    assert t.column("s").to_pylist() == ROWS_S2


def _build_nullable_list_file_with_positions() -> bytes:
    """The nullable int + list<int> fixture again, now carrying a
    ROW_INDEX with the reference's per-TreeReader seek layout so the
    NESTED stride-seek path is pinned against foreign bytes:
    rowIndexStride=3 over the 6 rows; per entry (uncompressed) —
      int a:     PRESENT [instream, byteskip, bit] + DATA rle
                 [instream, value-skip]
      list li:   PRESENT [instream, byteskip, bit] + LENGTH rle
                 [instream, value-skip]
      child int: DATA rle [instream, value-skip]  (its OWN entries —
                 LazyListTreeReader.java:101-107: children seek via the
                 element position the parent's lengths imply)
    """
    present_a = bytes([0xFF, 0b10101100])
    data_a = bytes([256 - 4]) + b"".join(_uv(_zz(v)) for v in (10, 30, 50, 60))
    present_li = bytes([0xFF, 0b11101100])
    len_li = bytes([256 - 5]) + b"".join(_uv(v) for v in (2, 1, 0, 3, 0))
    data_child = bytes([256 - 6]) + b"".join(
        _uv(_zz(v)) for v in (1, 2, 3, 4, 5, 6)
    )

    def _entry(positions):
        body = b"".join(_uv(v) for v in positions)
        return _ldf(1, _uv((1 << 3) | 2) + _uv(len(body)) + body)

    # stride starts at rows 0 and 3; dense/element skips derived by hand
    ri_a = _entry([0, 0, 0, 0, 0]) + _entry([0, 0, 3, 0, 2])
    ri_li = _entry([0, 0, 0, 0, 0]) + _entry([0, 0, 3, 0, 3])
    ri_child = _entry([0, 0]) + _entry([0, 3])

    streams = [  # kinds: PRESENT=0, DATA=1, LENGTH=2, ROW_INDEX=6
        (6, 1, ri_a),
        (6, 2, ri_li),
        (6, 3, ri_child),
        (0, 1, present_a),
        (1, 1, data_a),
        (0, 2, present_li),
        (2, 2, len_li),
        (1, 3, data_child),
    ]
    body = b"".join(s[2] for s in streams)
    index_len = len(ri_a) + len(ri_li) + len(ri_child)
    stream_msgs = b"".join(
        _ldf(1, _field(1, kind) + _field(2, col) + _field(3, len(raw)))
        for kind, col, raw in streams
    )
    enc_msgs = b"".join(_ldf(2, _field(1, 0)) for _ in range(4))
    stripe_footer = stream_msgs + enc_msgs

    t_root = (
        _field(1, 12)
        + _field(2, 1) + _field(2, 2)
        + _ldf(3, b"a") + _ldf(3, b"li")
    )
    t_a = _field(1, 3)
    t_li = _field(1, 10) + _field(2, 3)
    t_child = _field(1, 3)

    magic = b"ORC"
    stripe_info = (
        _field(1, len(magic))
        + _field(2, index_len)
        + _field(3, len(body) - index_len)
        + _field(4, len(stripe_footer))
        + _field(5, 6)
    )
    footer = (
        _field(1, len(magic))
        + _field(2, len(magic) + len(body) + len(stripe_footer))
        + _ldf(3, stripe_info)
        + _ldf(4, t_root) + _ldf(4, t_a) + _ldf(4, t_li) + _ldf(4, t_child)
        + _field(6, 6)
        + _field(8, 3)  # rowIndexStride
    )
    postscript = _field(1, len(footer)) + _field(2, 0)
    return (
        magic + body + stripe_footer + footer + postscript
        + bytes([len(postscript)])
    )


def test_foreign_nested_stride_seek(tmp_path):
    """Nested stride-bounded decode consumes FOREIGN positions: every
    stride of the nullable list reassembles exactly, point lookups hit
    mid-stride rows (null and non-null, empty and non-empty lists), and
    whole-file read still matches."""
    from hive_dwrf_spark.format import DwrfFile
    from hive_dwrf_spark.format.reader import _StripeDecoder

    rows_a = [10, None, 30, None, 50, 60]
    rows_li = [[1, 2], [3], [], None, [4, 5, 6], []]
    p = str(tmp_path / "foreign_nested_pos.dwrf")
    with open(p, "wb") as f:
        f.write(_build_nullable_list_file_with_positions())
    with DwrfFile(p) as f:
        assert f.footer.rowIndexStride == 3
        t = f.read()
        assert t.column("a").to_pylist() == rows_a
        assert t.column("li").to_pylist() == rows_li
        dec = _StripeDecoder(f, f.footer.stripes[0])
        for s_idx, lo in ((0, 0), (1, 3)):
            got_a = dec.decode_stride_column(1, s_idx, 3, 6)
            assert got_a.to_pylist() == rows_a[lo : lo + 3], s_idx
            got_li = dec.decode_stride_column(2, s_idx, 3, 6)
            assert got_li.to_pylist() == rows_li[lo : lo + 3], s_idx
        for r in range(6):
            assert f.read_row(r) == {"a": rows_a[r], "li": rows_li[r]}, r


def test_checked_in_lzo_fixture_matches_builder():
    """tests/golden/foreign_lzo.dwrf (consumed by the format_foreign_lzo
    registry query through the Spark DataSource) must stay byte-identical
    to the hand-assembled builder above — the binary can't drift from the
    documented bytes."""
    import os

    golden = os.path.join(
        os.path.dirname(__file__), "golden", "foreign_lzo.dwrf"
    )
    with open(golden, "rb") as f:
        assert f.read() == _build_lzo_file()
