"""Numpy-vectorized stream codecs for DWRF.

On-disk bit/byte contracts follow the reference implementation:
- LEB128 varints, zigzag for signed (SerializationUtils.java:33-117)
- RLE v1: header byte h>=0 → run of h+3 values (delta byte + base),
  h<0 → -h literal values (RunLengthIntegerWriter.java:52-133)
- byte RLE: same grouping over raw bytes (RunLengthByteWriter.java)
- bitfield: 1-bit MSB-first packing layered on byte RLE (BitFieldWriter.java)
- block compression: 3-byte little-endian header (len<<1 | isOriginal),
  raw-deflate zlib / snappy per block (OutStream.java:116-134, ZlibCodec.java)

The implementations are original and batch-oriented: encode/decode whole
numpy arrays, never per-value Python loops on the hot path. Python-level
loops only iterate over *groups/blocks* (≤ n/3 for RLE, ~n/256KiB for
compression), with all per-value work inside numpy kernels.
"""

from __future__ import annotations

import zlib

import numpy as np
import pyarrow as pa

from .constants import (
    MAX_DELTA,
    MAX_LITERAL_SIZE,
    MAX_REPEAT_SIZE,
    MIN_DELTA,
    MIN_REPEAT_SIZE,
    CompressionKind,
)

try:
    # optional python-lzo (raw LZO1X blocks — the codec the reference
    # loads reflectively, WriterImpl.java:184-196; kind enumerated in
    # orc_proto.proto:124-129). Absent in most environments; the reader
    # names the kind at open instead of failing deep in block decode.
    import lzo as _lzo
except ImportError:
    _lzo = None


def lzo_available() -> bool:
    return _lzo is not None

#: pyarrow's bundled C++ snappy (raw format), the one snappy codec.
#: Decompression needs the exact output size, which the block's preamble
#: varint gives (_snappy_uncompressed_len).
_PA_SNAPPY = pa.Codec("snappy")


def _snappy_uncompressed_len(data: bytes) -> int:
    total = 0
    shift = 0
    pos = 0
    while True:
        b = data[pos]
        pos += 1
        total |= (b & 0x7F) << shift
        shift += 7
        if b < 0x80:
            return total


# --- pure-Python LZO1X decoder ----------------------------------------------------
# Used when python-lzo is absent, so LZO-kind files are READABLE in every
# environment (only the write side needs the real codec). Implements the
# public LZO1X bitstream, as documented in the LZO distribution and the
# Linux kernel's Documentation/staging/lzo.rst / lzo1x_decompress_safe.c:
# literal runs, M1 (2-byte/1kB), M2 (3-8 byte/2kB), M3 (16kB LE16),
# M4 (48kB + end-of-stream marker at distance 16384), the 0-byte
# run-length extensions, and the trailing-literal state bits carried in
# each match's low operand bits.


def _lzo1x_copy_match(out: bytearray, dist: int, length: int) -> None:
    if dist <= 0 or dist > len(out):
        raise ValueError("corrupt LZO1X stream: bad match distance")
    start = len(out) - dist
    if dist >= length:
        out += out[start : start + length]
    else:  # overlapping copy: byte-at-a-time RLE semantics
        for i in range(length):
            out.append(out[start + i])


def _lzo1x_decompress_py(data: bytes) -> bytes:
    out = bytearray()
    n = len(data)
    ip = 0
    state = 0  # literals carried by the previous instruction (0, 1-3, 4+)
    try:
        t = data[ip]
        if t > 17:  # first-byte literal run shortcut
            ip += 1
            t -= 17
            out += data[ip : ip + t]
            ip += t
            state = t if t < 4 else 4
        while True:
            t = data[ip]
            ip += 1
            if t < 16:
                if state == 0:  # literal run, length 3 + L (0-ext)
                    if t == 0:
                        while data[ip] == 0:
                            t += 255
                            ip += 1
                        t += 15 + data[ip]
                        ip += 1
                    cnt = t + 3
                    out += data[ip : ip + cnt]
                    ip += cnt
                    state = 4
                    continue
                if state == 4:  # 3-byte match, distance 2049..3072
                    dist = (t >> 2) + (data[ip] << 2) + 2049
                    ip += 1
                    _lzo1x_copy_match(out, dist, 3)
                else:  # state 1..3: 2-byte match, distance 1..1024
                    dist = (t >> 2) + (data[ip] << 2) + 1
                    ip += 1
                    _lzo1x_copy_match(out, dist, 2)
                state = t & 3
            elif t >= 64:  # M2: 3-8 bytes within 2kB
                length = (t >> 5) + 1
                dist = ((t >> 2) & 7) + (data[ip] << 3) + 1
                ip += 1
                _lzo1x_copy_match(out, dist, length)
                state = t & 3
            elif t >= 32:  # M3: within 16kB, LE16 operand
                length = t & 31
                if length == 0:
                    while data[ip] == 0:
                        length += 255
                        ip += 1
                    length += 31 + data[ip]
                    ip += 1
                length += 2
                b0, b1 = data[ip], data[ip + 1]
                ip += 2
                _lzo1x_copy_match(out, (b0 >> 2) + (b1 << 6) + 1, length)
                state = b0 & 3
            else:  # M4: 16..48kB, or end-of-stream at distance 16384
                length = t & 7
                if length == 0:
                    while data[ip] == 0:
                        length += 255
                        ip += 1
                    length += 7 + data[ip]
                    ip += 1
                length += 2
                b0, b1 = data[ip], data[ip + 1]
                ip += 2
                dist = 16384 + ((t & 8) << 11) + (b0 >> 2) + (b1 << 6)
                if dist == 16384:
                    break  # EOF marker
                _lzo1x_copy_match(out, dist, length)
                state = b0 & 3
            if state and state < 4:  # trailing literals rode on the match
                out += data[ip : ip + state]
                ip += state
    except IndexError as ex:  # ran off the buffer: corrupt stream
        raise ValueError("corrupt LZO1X stream: truncated input") from ex
    if ip != n:
        raise ValueError(
            f"corrupt LZO1X stream: {n - ip} trailing bytes after EOF"
        )
    return bytes(out)

# --- pure-Python LZO1X compressor ---------------------------------------------
# The write-side complement of the decoder above, used when python-lzo is
# absent so compression="lzo" round-trips in EVERY environment (the
# reference loads its codec reflectively too, WriterImpl.java:184-196 —
# availability is an environment property, not a format property). Emits
# the same public LZO1X bitstream the decoder consumes: literal runs with
# 0-byte length extensions, greedy M2 (3-8 byte / 2kB), M3 (16kB) and M4
# (48kB) matches with length extensions, and 1-3 trailing literals carried
# in each match's low operand bits. Single-probe hash-3 greedy matching:
# ratio sits below lzo1x-1's, but every stream is decodable by any LZO1X
# decoder (python-lzo included) and compressor-produced streams exercise
# the decoder's match/extension branches end to end.

_LZO_MAX_DIST = 49151  # M4 ceiling: 16384 + (8<<11) + 16383


def _lzo1x_put_len_ext(out: bytearray, rem: int) -> None:
    """Shared run/length extension: rem = 255*zeros + last, last in
    1..255 (the decoder's `while byte==0: +=255; += last` loop)."""
    z, last = divmod(rem - 1, 255)
    out += b"\x00" * z
    out.append(last + 1)


def _lzo1x_emit_match(out: bytearray, dist: int, mlen: int, s: int) -> None:
    if 3 <= mlen <= 8 and dist <= 2048:  # M2
        d = dist - 1
        out.append(((mlen - 1) << 5) | ((d & 7) << 2) | s)
        out.append(d >> 3)
    elif dist <= 16384:  # M3
        if mlen <= 33:
            out.append(32 | (mlen - 2))
        else:
            out.append(32)
            _lzo1x_put_len_ext(out, mlen - 33)
        d = dist - 1
        out.append(((d & 63) << 2) | s)
        out.append(d >> 6)
    else:  # M4 (dist 16385..49151; dist==16384 is the EOF marker, M3 covers it)
        d = dist - 16384
        t = 16 | ((d >> 11) & 8)
        if mlen <= 9:
            out.append(t | (mlen - 2))
        else:
            out.append(t)
            _lzo1x_put_len_ext(out, mlen - 9)
        low = d & 16383
        out.append(((low & 63) << 2) | s)
        out.append(low >> 6)


def _lzo1x_compress_py(data) -> bytes:
    data = bytes(data)
    n = len(data)
    out = bytearray()
    if n == 0:
        out += b"\x11\x00\x00"  # bare EOF marker
        return bytes(out)

    # --- greedy tokenize: (lit_start, match_pos, dist, mlen) ---
    tokens: list[tuple[int, int, int, int]] = []
    table: dict[bytes, int] = {}
    ip = 0
    anchor = 0
    limit = n - 3
    while ip <= limit:
        key = data[ip : ip + 3]
        cand = table.get(key, -1)
        table[key] = ip
        if cand >= 0:
            dist = ip - cand
            if dist <= _LZO_MAX_DIST:
                mlen = 3
                maxl = n - ip
                while mlen < maxl and data[cand + mlen] == data[ip + mlen]:
                    mlen += 1
                # a 3-byte far match costs 3 encoded bytes for 3 covered
                # bytes and forfeits the literal-run economy: skip it
                if dist <= 2048 or mlen >= 4:
                    tokens.append((anchor, ip, dist, mlen))
                    ip += mlen
                    anchor = ip
                    continue
        ip += 1

    def put_run(ls: int, L: int) -> None:
        """Literal run instruction (state 0): length 4-18 direct, 19+
        via 0-byte extensions."""
        if L <= 18:
            out.append(L - 3)
        else:
            out.append(0)
            _lzo1x_put_len_ext(out, L - 18)
        out.extend(data[ls : ls + L])

    # --- serialize: stream-start literals, then matches each carrying
    # the FOLLOWING 1-3 literals in its state bits ---
    first_le = tokens[0][1] if tokens else n
    if first_le:  # always >=1: a match needs prior output to point into
        if first_le <= 238:
            # first-byte shortcut: t>17 means t-17 literals (state 1-3
            # for short starts, 4 otherwise — only match opcodes >=16
            # follow, so the state never changes their decode)
            out.append(17 + first_le)
            out += data[:first_le]
        else:
            put_run(0, first_le)
    for idx, (ls, le, dist, mlen) in enumerate(tokens):
        if idx > 0:
            L = le - ls
            if L >= 4:
                put_run(ls, L)  # state is 0 here: previous match had s=0
            # L in 1..3 already rode on the previous match's state bits
        nls = le + mlen  # literals following this match
        nle = tokens[idx + 1][1] if idx + 1 < len(tokens) else n
        nl = nle - nls
        s = nl if 1 <= nl <= 3 else 0
        _lzo1x_emit_match(out, dist, mlen, s)
        if s:
            out += data[nls : nls + s]
    if tokens:
        tail_ls = tokens[-1][1] + tokens[-1][3]
        tail = n - tail_ls
        if tail >= 4:
            put_run(tail_ls, tail)
    out += b"\x11\x00\x00"  # EOF: M4 with computed distance 16384
    return bytes(out)


U64 = np.uint64
_SHIFTS10 = (np.arange(10, dtype=np.uint64) * np.uint64(7))[None, :]
_IDX10 = np.arange(10)[None, :]


# --- varints ------------------------------------------------------------------


def zigzag_encode(values: np.ndarray) -> np.ndarray:
    v = values.astype(np.int64, copy=False)
    return ((v << 1) ^ (v >> 63)).view(np.uint64)


def zigzag_decode(values: np.ndarray) -> np.ndarray:
    v = values.astype(np.uint64, copy=False)
    return ((v >> np.uint64(1)).view(np.int64)) ^ -((v & np.uint64(1)).view(np.int64))


_VARINT_THRESHOLDS = np.uint64(1) << (
    np.arange(1, 10, dtype=np.uint64) * np.uint64(7)
)


def encode_varints(values: np.ndarray) -> tuple[bytes, np.ndarray]:
    """uint64 array -> (LEB128 bytes, per-value byte lengths).

    Lengths come from one searchsorted against the 2^7k thresholds. Two
    assembly strategies, chosen by density: when most values need close to
    the maximum width, a (n x width) chunk matrix has the best locality;
    when lengths are skewed small (the common case after zigzag), building
    exactly total_bytes output slots via repeat avoids touching the unused
    high-byte cells at all. Zero-copy fast path when everything fits 1 B."""
    v = np.ascontiguousarray(values, dtype=np.uint64)
    n = len(v)
    if n == 0:
        return b"", np.zeros(0, dtype=np.int64)
    mx = int(v.max())
    width = 1 if mx == 0 else (mx.bit_length() + 6) // 7
    if width == 1:
        return v.astype(np.uint8).tobytes(), np.ones(n, dtype=np.int64)
    lengths = (
        np.searchsorted(_VARINT_THRESHOLDS, v, side="right") + 1
    ).astype(np.int64)
    total = int(lengths.sum())
    if total >= 0.6 * n * width:  # dense: matrix locality wins
        shifts = (np.arange(width, dtype=np.uint64) * np.uint64(7))[None, :]
        idx = np.arange(width)[None, :]
        chunks = (v[:, None] >> shifts) & np.uint64(0x7F)
        keep = idx < lengths[:, None]
        cont = idx < (lengths - 1)[:, None]
        out = chunks.astype(np.uint8)
        out[cont] |= 0x80
        return out[keep].tobytes(), lengths
    starts = np.empty(n, dtype=np.int64)
    starts[0] = 0
    np.cumsum(lengths[:-1], out=starts[1:])
    within = np.arange(total, dtype=np.int64) - np.repeat(starts, lengths)
    v_rep = np.repeat(v, lengths)
    out = (
        (v_rep >> (within.astype(np.uint64) * np.uint64(7))) & np.uint64(0x7F)
    ).astype(np.uint8)
    out[within < np.repeat(lengths - 1, lengths)] |= 0x80
    return out.tobytes(), lengths


def decode_varints(buf: np.ndarray, count: int, pos: int = 0) -> tuple[np.ndarray, int]:
    """Decode `count` LEB128 varints from uint8 array starting at pos.

    Returns (uint64 values, next position). Vectorized by byte *layer*: the
    k-th pass gathers the k-th byte of every varint still long enough to
    have one (masked fancy-index), ORs its 7 payload bits in, and the mask
    shrinks as lengths run out — so skewed length distributions (the common
    case after zigzag) touch each byte exactly once. This replaced a
    repeat/arange/bitwise_or.reduceat assembly that materialized an int64
    offset per *byte*; the layered form measured 4-6x faster on 2-5 B/value
    streams (timestamps, prices) and identical on the 1 B fast path.
    """
    if count == 0:
        return np.zeros(0, dtype=np.uint64), pos
    # varints are <= 10 B, so cap the terminator scan: without the bound a
    # caller handing the whole remaining stream pays O(stream) per call
    limit = pos + 10 * count
    window = buf[pos:limit] if limit < len(buf) else buf[pos:]
    term = np.flatnonzero(window < 0x80)
    if len(term) < count:
        raise ValueError("varint stream truncated")
    end = int(term[count - 1]) + 1
    if end == count:  # every varint is a single byte
        return window[:count].astype(np.uint64), pos + count
    b = window[:end]
    starts = np.empty(count, dtype=np.int64)
    starts[0] = 0
    starts[1:] = term[: count - 1] + 1
    lengths = np.empty(count, dtype=np.int64)
    lengths[0] = term[0] + 1
    np.subtract(term[1:count], term[: count - 1], out=lengths[1:])
    # layer 0: low 7 bits (terminator bytes are < 0x80, & is a no-op there)
    # layers 0-3 fit in 28 bits -> accumulate in uint32 (half the memory
    # traffic of uint64); widen once, then the rare 5-10 B tail layers
    max_len = int(lengths.max())
    values32 = (b[starts] & 0x7F).astype(np.uint32)
    for k in range(1, min(max_len, 4)):
        m = lengths > k
        byte_k = b[starts[m] + k]
        values32[m] |= (byte_k & 0x7F).astype(np.uint32) << np.uint32(7 * k)
    values = values32.astype(np.uint64)
    for k in range(4, max_len):
        m = lengths > k
        byte_k = b[starts[m] + k]
        values[m] |= (byte_k & 0x7F).astype(np.uint64) << np.uint64(7 * k)
    return values, pos + end


# --- fixed-width little-endian (useVInts=false fallback) -----------------------


def encode_fixed(values: np.ndarray, num_bytes: int) -> bytes:
    v = values.astype(np.int64, copy=False).view(np.uint64)
    le = v[:, None] >> (np.arange(num_bytes, dtype=np.uint64) * np.uint64(8))[None, :]
    return (le & np.uint64(0xFF)).astype(np.uint8).tobytes()


def decode_fixed(buf: np.ndarray, count: int, num_bytes: int, pos: int = 0):
    raw = buf[pos : pos + count * num_bytes].reshape(count, num_bytes).astype(np.uint64)
    shifts = (np.arange(num_bytes, dtype=np.uint64) * np.uint64(8))[None, :]
    return (raw << shifts).sum(axis=1, dtype=np.uint64), pos + count * num_bytes


# --- RLE v1 over integers -------------------------------------------------------


def encode_int_rle(values: np.ndarray, signed: bool) -> bytes:
    """RLE v1 encode. Any valid grouping is legal; we pick maximal
    constant-delta runs ≥3 with delta in [-128,127], literals elsewhere.

    Fully vectorized — there is NO per-group Python loop. Stages, all numpy:
    run-span detection (diff masks), overlap trim (pairwise max; maximal
    spans overlap by at most one value), ≤130-value chunk splitting (repeat +
    prefix sums), literal grouping of the uncovered values (≤128 splits),
    a single varint pass over every encoded value in output order, then
    scatter-assembly of header and payload bytes into the output buffer."""
    v = np.ascontiguousarray(values, dtype=np.int64)
    n = len(v)
    if n == 0:
        return b""
    from ._native import rle_encode as _nat_encode

    if _nat_encode is not None:
        # byte-identical compiled path (see _native.py rle_encode; the
        # property test pins native == numpy on random + adversarial data)
        return _nat_encode(v, signed)

    empty_i = np.zeros(0, dtype=np.int64)
    if n >= MIN_REPEAT_SIZE:
        d = v[1:] - v[:-1]
        eligible = (d[:-1] == d[1:]) & (d[:-1] >= MIN_DELTA) & (d[:-1] <= MAX_DELTA)
        pad = np.zeros(len(eligible) + 2, dtype=bool)
        pad[1:-1] = eligible
        s = np.flatnonzero(~pad[:-1] & pad[1:])  # span starts, eligible-index space
        e = np.flatnonzero(pad[:-1] & ~pad[1:])  # span ends (exclusive)
    else:
        s = e = empty_i

    if len(s):
        S = s.copy()  # first value index covered by the run
        E = e + 2  # one past the last value index covered
        deltas = d[s]
        # adjacent maximal spans can share at most one value; trim pairwise
        np.maximum(S[1:], E[:-1], out=S[1:])
        L = E - S
        keep = L >= MIN_REPEAT_SIZE
        S, L, deltas = S[keep], L[keep], deltas[keep]
    else:
        S = L = deltas = empty_i

    # --- split runs into ≤MAX_REPEAT_SIZE chunks; tails <3 fall to literals
    n_full = L // MAX_REPEAT_SIZE
    rem = L - n_full * MAX_REPEAT_SIZE
    extra = rem >= MIN_REPEAT_SIZE
    n_chunks = n_full + extra
    covered_len = L - np.where(extra, 0, rem)
    total_chunks = int(n_chunks.sum())
    chunk_sizes = np.full(total_chunks, MAX_REPEAT_SIZE, dtype=np.int64)
    chunk_csum = np.empty(total_chunks + 1, dtype=np.int64)
    if total_chunks:
        span_end_idx = np.cumsum(n_chunks)  # exclusive chunk-index per span
        chunk_sizes[span_end_idx[extra] - 1] = rem[extra]
        chunk_csum[0] = 0
        np.cumsum(chunk_sizes, out=chunk_csum[1:])
        span_of_chunk = np.repeat(np.arange(len(S)), n_chunks)
        first_chunk = span_end_idx - n_chunks
        off_in_span = chunk_csum[:-1] - chunk_csum[first_chunk][span_of_chunk]
        chunk_pos = S[span_of_chunk] + off_in_span
        chunk_base = v[S][span_of_chunk] + deltas[span_of_chunk] * off_in_span
        chunk_delta = deltas[span_of_chunk]
    else:
        chunk_pos = chunk_base = chunk_delta = empty_i

    # --- literal values = everything not covered by an emitted run chunk
    if len(S):
        bounds = np.zeros(n + 1, dtype=np.int64)
        np.add.at(bounds, S, 1)
        np.add.at(bounds, S + covered_len, -1)
        covered = np.cumsum(bounds[:-1]) > 0
        lit_idx = np.flatnonzero(~covered)
    else:
        lit_idx = np.arange(n, dtype=np.int64)

    if len(lit_idx):
        brk = np.flatnonzero(lit_idx[1:] != lit_idx[:-1] + 1) + 1
        lspan_start = np.concatenate([[0], brk])  # offsets into lit_idx
        lspan_len = np.diff(np.concatenate([lspan_start, [len(lit_idx)]]))
        n_lgroups = (lspan_len + MAX_LITERAL_SIZE - 1) // MAX_LITERAL_SIZE
        total_lgroups = int(n_lgroups.sum())
        lg_sizes = np.full(total_lgroups, MAX_LITERAL_SIZE, dtype=np.int64)
        lg_end_idx = np.cumsum(n_lgroups)
        lg_sizes[lg_end_idx - 1] = lspan_len - (n_lgroups - 1) * MAX_LITERAL_SIZE
        lg_csum = np.empty(total_lgroups + 1, dtype=np.int64)
        lg_csum[0] = 0
        np.cumsum(lg_sizes, out=lg_csum[1:])
        # group start position = value index of its first literal
        lg_pos = lit_idx[lg_csum[:-1]]
    else:
        total_lgroups = 0
        lg_sizes = lg_pos = empty_i

    # --- merge run chunks + literal groups in value order
    g_pos = np.concatenate([lg_pos, chunk_pos])
    order = np.argsort(g_pos, kind="stable")
    g_hlen = np.concatenate(
        [np.ones(total_lgroups, dtype=np.int64), np.full(total_chunks, 2, dtype=np.int64)]
    )[order]
    g_b0 = np.concatenate(
        [(256 - lg_sizes), chunk_sizes - MIN_REPEAT_SIZE]
    )[order].astype(np.uint8)
    g_b1 = np.concatenate(
        [np.zeros(total_lgroups, dtype=np.int64), chunk_delta & 0xFF]
    )[order].astype(np.uint8)
    g_nvals = np.concatenate(
        [lg_sizes, np.ones(total_chunks, dtype=np.int64)]
    )[order]

    # --- all varint-encoded values, in output order
    all_vals = np.concatenate([v[lit_idx], chunk_base])
    all_keys = np.concatenate([lit_idx, chunk_pos])
    enc_vals = all_vals[np.argsort(all_keys, kind="stable")]
    enc = zigzag_encode(enc_vals) if signed else enc_vals.astype(np.uint64)
    body, lengths = encode_varints(enc)

    g_voff = np.empty(len(g_nvals) + 1, dtype=np.int64)
    g_voff[0] = 0
    np.cumsum(g_nvals, out=g_voff[1:])
    len_csum = np.empty(len(lengths) + 1, dtype=np.int64)
    len_csum[0] = 0
    np.cumsum(lengths, out=len_csum[1:])
    g_boff = len_csum[g_voff[:-1]]  # payload byte start per group
    g_blen = len_csum[g_voff[1:]] - g_boff  # payload bytes per group

    hdr_before = np.empty(len(g_hlen) + 1, dtype=np.int64)
    hdr_before[0] = 0
    np.cumsum(g_hlen, out=hdr_before[1:])
    g_out = hdr_before[:-1] + g_boff  # output offset of each group header

    out = np.empty(int(hdr_before[-1]) + len(body), dtype=np.uint8)
    hdr_mask = np.zeros(len(out), dtype=bool)
    hdr_mask[g_out] = True
    two = g_hlen == 2
    out[g_out] = g_b0
    if two.any():
        hdr_mask[g_out[two] + 1] = True
        out[g_out[two] + 1] = g_b1[two]
    # payload bytes fill every non-header slot in order (boolean-mask
    # assignment; an explicit index-vector scatter materialized an int64
    # index per payload byte and measured ~30% slower on int-heavy columns)
    out[~hdr_mask] = np.frombuffer(body, dtype=np.uint8)
    return out.tobytes()


def decode_int_rle(buf: np.ndarray, count: int, signed: bool, pos: int = 0):
    """Decode `count` RLE v1 integers. Returns (int64 array, next pos).

    Batch strategy: one pass finds every varint terminator; the group walk is
    the only sequential part and does O(1) int work per group (the terminator
    pointer only moves forward, so locating payload ends is amortized O(1));
    then ALL varints decode in a single vectorized pass and every group is
    materialized by vectorized scatter — no per-group numpy calls."""
    if count == 0:
        return np.zeros(0, dtype=np.int64), pos
    from ._native import rle_decode as _nat_decode

    if _nat_decode is not None:
        bufc = np.ascontiguousarray(buf)
        out = np.empty(count, dtype=np.int64)
        n, end = _nat_decode(bufc, pos, count, signed, out)
        if n == -1:
            raise ValueError("RLE stream truncated")
        if n == -2:
            raise ValueError(f"RLE stream overshot {count} values")
        return out, end
    n_bytes = len(buf)
    # pad by 2 so candidate header/delta gathers never need bounds clamping
    # (one memcpy of the stream vs two full np.minimum passes — measured
    # cheaper, and dangling candidates are never true group starts anyway)
    bufp = np.empty(n_bytes + 2, dtype=np.uint8)
    bufp[:n_bytes] = buf
    bufp[n_bytes:] = 0
    term = np.flatnonzero(bufp[pos:n_bytes] < 0x80) + pos  # terminator positions
    n_term = len(term)

    # Every group starts either at `pos` or one byte past a terminator (each
    # group's payload ends at a terminator). Precompute, for EVERY candidate
    # start C[i], just enough shape to hop the chain — header byte h and
    # delta byte d give (value count, next candidate) in closed form:
    #   repeat  (h < 0x80): cnt = h+3, one varint base; exactly i
    #     terminators precede candidate i, the header is never a terminator,
    #     the delta byte may be one -> next = i + 2 + (d < 0x80)
    #   literal (h >= 0x80): cnt = 256-h varints -> next = i + cnt
    # Everything else (varint spans, signed deltas) is computed later on the
    # true starts only, which for repeat-heavy streams is a tiny subset.
    C = np.empty(n_term + 1, dtype=np.int64)
    C[0] = pos
    np.add(term, 1, out=C[1:])
    h = bufp[C]
    is_rep_all = h < 0x80
    n_rep = int(np.count_nonzero(is_rep_all))
    i_range = np.arange(n_term + 1, dtype=np.int64)
    if n_rep == 0:
        # pure-literal stream (high-entropy column): no delta bytes exist
        cnt_all = (-h).astype(np.int64)  # uint8 wrap == 256-h
        delta_raw = None
        next_idx = i_range + cnt_all
    else:
        cnt_all = np.where(
            is_rep_all, h + np.uint8(MIN_REPEAT_SIZE), -h
        ).astype(np.int64)
        delta_raw = bufp[C + 1]
        rep_adv = i_range + 2 + (delta_raw < 0x80)
        if n_rep == n_term + 1:
            next_idx = rep_adv  # pure-repeat stream (sorted keys)
        else:
            next_idx = np.where(is_rep_all, rep_adv, i_range + cnt_all)

    # group walk touches only the true group starts; pack (count, next) into
    # one int64 per candidate so each hop costs one scalar read. The chase
    # is the only sequential part of the decoder — native helper when the
    # machine has a C compiler (~2 ns/group), python fallback otherwise
    packed = (next_idx << np.int64(9)) | cnt_all  # cnt <= 130 < 2^9
    limit = n_term + 1
    from ._native import rle_walk

    if rle_walk is not None:
        out_starts = np.empty(min(count, limit), dtype=np.int64)
        n_groups = rle_walk(packed, limit, count, out_starts)
        if n_groups == -1:
            raise ValueError("RLE stream truncated")
        if n_groups == -2:
            raise ValueError(f"RLE stream overshot {count} values")
        idx = out_starts[:n_groups]
    else:
        mv = packed.data
        starts: list[int] = []
        append = starts.append
        got = 0
        i = 0
        while got < count:
            if i >= limit:
                raise ValueError("RLE stream truncated")
            append(i)
            v = mv[i]
            got += v & 0x1FF
            i = v >> 9
        if got != count:
            raise ValueError(
                f"RLE stream yielded {got} values, expected {count}"
            )
        idx = np.asarray(starts, dtype=np.int64)
    rep = is_rep_all[idx]
    lens = cnt_all[idx]
    if delta_raw is None:  # pure-literal stream: no delta bytes, no ramps
        deltas = np.zeros(len(idx), dtype=np.int64)
        a = C[idx] + 1
        end_t = idx + lens - 1
    else:
        d_sub = delta_raw[idx].astype(np.int64)
        deltas = np.where(d_sub >= 128, d_sub - 256, d_sub)
        a = C[idx] + np.where(rep, 2, 1)  # first varint byte of each group
        # index of each group's last terminator (next_idx derivation above)
        end_t = np.where(rep, idx + 1 + (d_sub < 0x80), idx + lens - 1)
    if len(end_t) and int(end_t[-1]) >= n_term:
        raise ValueError("RLE stream truncated")
    b = term[end_t] + 1
    pos = int(b[-1]) if len(b) else pos

    # one vectorized varint decode over the concatenated payload regions:
    # the selected groups are consecutive in the buffer, so the payload is
    # the whole span minus each group's 1-2 header bytes (mask fill — an
    # index-vector gather materialized int64 indexes per payload byte)
    if len(a) == 1:
        payload = buf[a[0] : b[0]]
    else:
        group_starts = C[idx]
        base = int(group_starts[0])
        span = buf[base : int(b[-1])]
        hdr_mask = np.zeros(len(span), dtype=bool)
        hdr_mask[group_starts - base] = True
        rep_starts = group_starts[rep]
        if len(rep_starts):
            hdr_mask[rep_starts + 1 - base] = True
        payload = span[~hdr_mask]
    n_varints = np.where(rep, 1, lens)
    decoded_u, _ = decode_varints(payload, int(n_varints.sum()), 0)
    decoded = zigzag_decode(decoded_u) if signed else decoded_u.view(np.int64)

    if not rep.any():
        # literal-only stream (random data): varint order IS output order
        return decoded, pos

    # Materialize in ONE expansion pass: every varint is a "run" — length
    # lens[g]/delta deltas[g] for a repeat group's base, length 1/delta 0
    # for each literal value. Output order == varint order, so a single
    # repeat+ramp reconstructs everything with no scatter.
    per_v_len = np.repeat(np.where(rep, lens, 1), n_varints)
    out = np.repeat(decoded, per_v_len)
    if np.any(deltas):
        # ramp pass only when some run has a nonzero delta — constant runs
        # (sorted keys, null-suppressed lengths) skip three full-size passes
        per_v_delta = np.repeat(np.where(rep, deltas, 0), n_varints)
        start_excl = np.concatenate([[0], np.cumsum(per_v_len)[:-1]])
        within = np.arange(count, dtype=np.int64) - np.repeat(
            start_excl, per_v_len
        )
        out += np.repeat(per_v_delta, per_v_len) * within
    return out, pos


# --- byte RLE -------------------------------------------------------------------


def encode_byte_rle(values: np.ndarray) -> bytes:
    v = np.ascontiguousarray(values, dtype=np.uint8)
    n = len(v)
    out = bytearray()
    if n == 0:
        return b""
    change = np.flatnonzero(v[1:] != v[:-1]) + 1
    seg_starts = np.concatenate([[0], change])
    seg_ends = np.concatenate([change, [n]])
    lit_start = None
    for s, e in zip(seg_starts, seg_ends):
        ln = e - s
        if ln >= MIN_REPEAT_SIZE:
            if lit_start is not None:
                _emit_byte_literals(out, v[lit_start:s])
                lit_start = None
            remaining = ln
            while remaining >= MIN_REPEAT_SIZE:
                chunk = min(remaining, MAX_REPEAT_SIZE)
                out.append(chunk - MIN_REPEAT_SIZE)
                out.append(int(v[s]))
                remaining -= chunk
            if remaining:
                lit_start = e - remaining
        else:
            if lit_start is None:
                lit_start = s
    if lit_start is not None:
        _emit_byte_literals(out, v[lit_start:])
    return bytes(out)


def _emit_byte_literals(out: bytearray, vals: np.ndarray) -> None:
    n = len(vals)
    for gs in range(0, n, MAX_LITERAL_SIZE):
        sz = min(n - gs, MAX_LITERAL_SIZE)
        out.append(256 - sz)
        out += vals[gs : gs + sz].tobytes()


def decode_byte_rle(buf: np.ndarray, count: int, pos: int = 0):
    if count == 0:
        return np.zeros(0, dtype=np.uint8), pos
    from ._native import byte_rle_decode as _nat

    if _nat is not None:
        bufc = np.ascontiguousarray(buf)
        out = np.empty(count, dtype=np.uint8)
        n, end = _nat(bufc, pos, count, out)
        if n == -1:
            raise ValueError("byte RLE stream truncated")
        if n == -2:
            raise ValueError(f"byte RLE overshot {count} values")
        return out, end
    pieces = []
    got = 0
    n = len(buf)
    while got < count:
        if pos >= n:
            raise ValueError("byte RLE stream truncated")
        h = int(buf[pos])
        pos += 1
        if h < 0x80:
            if pos >= n:
                raise ValueError("byte RLE stream truncated")
            run = h + MIN_REPEAT_SIZE
            pieces.append(np.full(run, buf[pos], dtype=np.uint8))
            pos += 1
            got += run
        else:
            cnt = 256 - h
            if pos + cnt > n:
                raise ValueError("byte RLE stream truncated")
            pieces.append(buf[pos : pos + cnt].copy())
            pos += cnt
            got += cnt
    values = np.concatenate(pieces) if pieces else np.zeros(0, dtype=np.uint8)
    if got != count:
        raise ValueError(f"byte RLE yielded {got} values, expected {count}")
    return values, pos


# --- bitfield (1-bit, MSB-first, layered on byte RLE) ----------------------------


def encode_bits(bits: np.ndarray) -> bytes:
    packed = np.packbits(bits.astype(np.uint8))  # MSB-first
    return encode_byte_rle(packed)


def decode_bits(buf: np.ndarray, count: int, pos: int = 0):
    nbytes = (count + 7) // 8
    packed, pos = decode_byte_rle(buf, nbytes, pos)
    return np.unpackbits(packed)[:count].astype(bool), pos


# --- block compression framing ----------------------------------------------------


def _compress_block(block: bytes, kind: CompressionKind, level: int) -> bytes:
    if kind == CompressionKind.ZLIB:
        c = zlib.compressobj(level, zlib.DEFLATED, -15)  # raw deflate
        return c.compress(block) + c.flush()
    if kind == CompressionKind.SNAPPY:
        return _PA_SNAPPY.compress(block).to_pybytes()
    if kind == CompressionKind.LZO:
        if _lzo is None:
            # vendored pure-Python LZO1X compressor: valid streams in
            # every environment (python-lzo compresses better and faster
            # when present — same reflective-availability stance as the
            # reference, WriterImpl.java:184-196)
            return _lzo1x_compress_py(block)
        # header=False -> raw LZO1X bytes, the in-block format the
        # reference's reflectively-loaded codec produces
        return _lzo.compress(block, min(max(level, 1), 9), False)
    raise ValueError(f"unsupported compression {kind}")


def _decompress_block(
    block, kind: CompressionKind, bufsize: int = zlib.DEF_BUF_SIZE
) -> bytes:
    # `block` is any bytes-like (framing passes zero-copy memoryviews).
    # `bufsize` is zlib's initial output buffer; readers pass the file's
    # compressionBlockSize, the most one block inflates to from a
    # conforming writer, so the buffer is not regrown: zlib inflates with
    # the GIL released but grows its buffer holding it, so each regrowth
    # is one more GIL handoff between reader threads. It is only a
    # starting size: a larger block still inflates correctly.
    if kind == CompressionKind.ZLIB:
        return zlib.decompress(block, -15, bufsize)
    if kind == CompressionKind.SNAPPY:
        size = _snappy_uncompressed_len(block)
        # no snappy element expands more than 22-fold (a 3-byte copy
        # yields at most 64 bytes): a larger size is a damaged preamble,
        # refused before it sizes the output buffer
        if size > 22 * len(block):
            raise ValueError(f"corrupt snappy block: {size} bytes from {len(block)}")
        try:
            return _PA_SNAPPY.decompress(block, decompressed_size=size).to_pybytes()
        except OSError as e:  # pyarrow reports damaged input as an IO error
            raise ValueError(f"corrupt snappy block: {e}") from e
    if kind == CompressionKind.LZO:
        if _lzo is None:
            # vendored pure-Python LZO1X decoder: slow but always present,
            # so LZO-kind files READ everywhere (the reference loads its
            # codec reflectively, WriterImpl.java:184-196; only the WRITE
            # side still requires the real lib)
            return _lzo1x_decompress_py(block)
        # raw LZO1X carries no length preamble; grow the output bound
        # until the codec accepts (framing caps blocks at block_size, so
        # this converges in one or two tries)
        block = bytes(block)
        bound = max(len(block) * 8, 1 << 18)
        while True:
            try:
                return _lzo.decompress(block, False, bound)
            except _lzo.error:
                if bound >= 1 << 30:
                    raise
                bound *= 8


_COMPRESS_POOL = None


def _compress_pool():
    # lazy shared pool for multi-block streams; zlib/snappy release the
    # GIL, so block compression parallelizes within one writer thread.
    # SPARK_GRAFT_COMPRESS_THREADS caps it on packed executors (many
    # task slots x per-worker pools oversubscribe cores — see
    # writer._encode_pool); local default unchanged.
    global _COMPRESS_POOL
    if _COMPRESS_POOL is None:
        import os
        from concurrent.futures import ThreadPoolExecutor

        from .env import env_int

        workers = max(
            1, env_int("SPARK_GRAFT_COMPRESS_THREADS", min(4, os.cpu_count() or 2))
        )
        _COMPRESS_POOL = ThreadPoolExecutor(
            max_workers=workers,
            thread_name_prefix="dwrf-compress",
        )
    return _COMPRESS_POOL


def compress_stream(
    data: bytes, kind: CompressionKind, block_size: int, level: int = 4
) -> bytes:
    """Frame `data` into compressed blocks with 3-byte headers.

    Header low bit = 1 means the block is stored original (codec did not
    shrink it), matching OutStream.writeHeader. Streams larger than a few
    blocks compress their (independent) blocks on a small thread pool —
    the codecs drop the GIL — which matters for the single-writer path
    (bench, interactive); Spark executor tasks already saturate cores, and
    the pool is capped at 4 threads so oversubscription stays bounded.
    """
    if kind == CompressionKind.NONE:
        return data
    blocks = [
        data[off : off + block_size] for off in range(0, len(data), block_size)
    ]
    if len(blocks) >= 4:
        comps = list(
            _compress_pool().map(
                lambda b: _compress_block(b, kind, level), blocks
            )
        )
    else:
        comps = [_compress_block(b, kind, level) for b in blocks]
    out = bytearray()
    for block, comp in zip(blocks, comps):
        if len(comp) < len(block):
            out += ((len(comp) << 1) | 0).to_bytes(3, "little")
            out += comp
        else:
            out += ((len(block) << 1) | 1).to_bytes(3, "little")
            out += block
    return bytes(out)


def decompress_stream(
    data, kind: CompressionKind, bufsize: int = zlib.DEF_BUF_SIZE
):
    """Inverse of compress_stream; returns a bytes-like (bytes or
    memoryview — callers wrap in np.frombuffer/memoryview, never index
    past it). Accepts any buffer: block slicing is zero-copy on a
    memoryview, a stored (isOriginal) single-block stream returns its
    window with NO copy at all, and multi-block streams pay exactly one
    assembly join. Blocks are independent, and the codecs release the
    GIL, so streams with several compressed blocks decompress on the same
    small shared pool the writer uses — the single-reader path (bench,
    driver-side tools) gets the cores; Spark executor tasks are already
    core-saturated and the pool cap keeps oversubscription bounded.
    `bufsize` is each block's initial output buffer (_decompress_block)."""
    if kind == CompressionKind.NONE:
        return data
    mv = memoryview(data)
    pos = 0
    n = len(mv)
    parts: list = []  # stored blocks stay as zero-copy windows
    todo: list[int] = []  # indices into parts that need decompression
    while pos < n:
        header = mv[pos] | (mv[pos + 1] << 8) | (mv[pos + 2] << 16)
        pos += 3
        ln = header >> 1
        block = mv[pos : pos + ln]
        pos += ln
        if header & 1:
            parts.append(block)
        else:
            todo.append(len(parts))
            parts.append(block)
    if len(todo) >= 4:
        done = _compress_pool().map(
            lambda i: _decompress_block(parts[i], kind, bufsize), todo
        )
        for i, blk in zip(todo, done):
            parts[i] = blk
    else:
        for i in todo:
            parts[i] = _decompress_block(parts[i], kind, bufsize)
    if len(parts) == 1:
        return parts[0]
    return b"".join(parts)


# --- seek-position tables (ROW_INDEX stride positions) ----------------------------
#
# The reference records, per stride, each stream's "current position" via
# PositionRecorder (WriterImpl.java:317-328,617-621; consumed by
# InStream.seek InStream.java:112-132 and the RLE readers'
# RunLengthIntegerReader.java:94-126 skip path). Its recorded byte offset
# is always a GROUP boundary (the pending-value buffer flushes as the
# group(s) starting at that offset) plus a value-skip count. These helpers
# recover the identical (group_start_byte, values_to_skip) pairs from the
# already-encoded stream bytes — a post-hoc walk over group headers, so
# the encoders (numpy or native, byte-identical output) stay untouched.


def int_rle_positions(
    buf: np.ndarray, targets: np.ndarray
) -> list[tuple[int, int]]:
    """For each value index in sorted `targets`, the (byte offset of the
    RLE v1 group containing it, values to skip after seeking there)."""
    targets = np.asarray(targets, dtype=np.int64)
    if len(targets) == 0:
        return []
    buf = np.ascontiguousarray(buf, dtype=np.uint8)
    from ._native import rle_positions as _nat_positions

    if _nat_positions is not None:
        # one linear C pass over the raw bytes: group headers hop by
        # terminator scan, payload varints never decode — replaces the
        # whole numpy candidate-table prep below (which re-derives the
        # group structure with several full-stream passes per call)
        out_byte = np.empty(len(targets), dtype=np.int64)
        out_skip = np.empty(len(targets), dtype=np.int64)
        if _nat_positions(buf, targets, out_byte, out_skip) == -1:
            raise ValueError("RLE stream truncated")
        return [(int(b), int(s)) for b, s in zip(out_byte, out_skip)]
    n_bytes = len(buf)
    bufp = np.empty(n_bytes + 2, dtype=np.uint8)
    bufp[:n_bytes] = buf
    bufp[n_bytes:] = 0
    term = np.flatnonzero(bufp[:n_bytes] < 0x80)
    n_term = len(term)
    # candidate group starts: byte 0 or one past any terminator (same
    # closed-form chain as decode_int_rle's candidate machinery)
    C = np.empty(n_term + 1, dtype=np.int64)
    C[0] = 0
    np.add(term, 1, out=C[1:])
    h = bufp[C]
    is_rep = h < 0x80
    cnt_all = np.where(is_rep, h + np.uint8(MIN_REPEAT_SIZE), -h).astype(
        np.int64
    )
    i_range = np.arange(n_term + 1, dtype=np.int64)
    delta_raw = bufp[C + 1]
    next_idx = np.where(
        is_rep, i_range + 2 + (delta_raw < 0x80), i_range + cnt_all
    )
    limit = n_term + 1
    need = int(targets[-1]) + 1
    # group walk: same native chase as decode_int_rle (the walk visits
    # EVERY group up to the last stride target, so pure Python here was
    # >half the total write cost on big int columns)
    packed = (next_idx << np.int64(9)) | cnt_all  # cnt <= 130 < 2^9
    from ._native import rle_walk_over

    if rle_walk_over is not None:
        out = np.empty(limit, dtype=np.int64)
        n_groups = rle_walk_over(packed, limit, need, out)
        if n_groups == -1:
            raise ValueError("RLE stream truncated")
        idx = out[:n_groups]
    else:
        mv = packed.data
        starts: list[int] = []
        append = starts.append
        got = 0
        i = 0
        while got < need:
            if i >= limit:
                raise ValueError("RLE stream truncated")
            append(i)
            v = mv[i]
            got += v & 0x1FF
            i = v >> 9
        idx = np.asarray(starts, dtype=np.int64)
    sb = C[idx]
    cnts = cnt_all[idx]
    sv = np.empty(len(idx), dtype=np.int64)
    sv[0] = 0
    np.cumsum(cnts[:-1], out=sv[1:])
    gi = np.searchsorted(sv, targets, side="right") - 1
    return [(int(sb[g]), int(t - sv[g])) for g, t in zip(gi, targets)]


def byte_rle_positions(
    buf: np.ndarray, targets: np.ndarray
) -> list[tuple[int, int]]:
    """(group_start_byte, values_to_skip) per sorted byte-RLE value index."""
    targets = np.asarray(targets, dtype=np.int64)
    if len(targets) == 0:
        return []
    buf = np.ascontiguousarray(buf, dtype=np.uint8)
    n = len(buf)
    need = int(targets[-1]) + 1
    starts_byte: list[int] = []
    starts_val: list[int] = []
    got = 0
    p = 0
    while got < need:
        if p >= n:
            raise ValueError("byte RLE stream truncated")
        starts_byte.append(p)
        starts_val.append(got)
        h = int(buf[p])
        if h < 0x80:
            got += h + MIN_REPEAT_SIZE
            p += 2
        else:
            cnt = 256 - h
            got += cnt
            p += 1 + cnt
    sv = np.asarray(starts_val, dtype=np.int64)
    sb = np.asarray(starts_byte, dtype=np.int64)
    gi = np.searchsorted(sv, targets, side="right") - 1
    return [(int(sb[g]), int(t - sv[g])) for g, t in zip(gi, targets)]


def bit_positions(
    buf: np.ndarray, targets: np.ndarray
) -> list[tuple[int, int, int]]:
    """(group_start_byte, bytes_to_skip, bit_offset) per sorted bit index —
    the bitfield layer is byte RLE over MSB-first packed bytes, so the
    position is the containing byte's RLE position plus the in-byte bit
    (BitFieldReader.getPosition parity)."""
    targets = np.asarray(targets, dtype=np.int64)
    byte_pos = byte_rle_positions(buf, targets // 8)
    return [
        (off, skip, int(t & 7)) for (off, skip), t in zip(byte_pos, targets)
    ]


def compressed_block_starts(comp: bytes) -> np.ndarray:
    """Compressed-stream offset of each block's 3-byte header, in order.
    Block j holds uncompressed bytes [j*block_size, (j+1)*block_size), so
    an uncompressed offset U maps to position
    (starts[U // block_size], U % block_size) — the two-value InStream
    seek coordinate the reference records under compression."""
    starts = []
    pos = 0
    n = len(comp)
    while pos < n:
        starts.append(pos)
        header = int.from_bytes(comp[pos : pos + 3], "little")
        pos += 3 + (header >> 1)
    return np.asarray(starts, dtype=np.int64)


def int_rle_aligned_count(buf: np.ndarray, count: int) -> int:
    """Smallest group-aligned value count >= `count` from the start of
    `buf` — RLE decode can only stop on group boundaries, so a seek-then-
    decode of a stride tail must round its request up to this.

    Rides int_rle_positions' group walk (one C pass / vectorized numpy,
    never a per-varint Python loop — the pure-Python walk here was ~85%
    of a point lookup's cost): the group containing value count-1 starts
    at value (count-1 - skip) and its own header gives its length."""
    if count <= 0:
        return 0
    buf = np.ascontiguousarray(buf, dtype=np.uint8)
    try:
        ((byte_off, skip),) = int_rle_positions(
            buf, np.asarray([count - 1], dtype=np.int64)
        )
    except Exception as ex:  # noqa: BLE001 - map to the documented error
        raise ValueError("RLE stream truncated") from ex
    if byte_off >= len(buf):
        raise ValueError("RLE stream truncated")
    h = int(buf[byte_off])
    glen = h + MIN_REPEAT_SIZE if h < 0x80 else 256 - h
    return (count - 1 - int(skip)) + glen


def byte_rle_aligned_count(buf: np.ndarray, count: int) -> int:
    """byte-RLE twin of int_rle_aligned_count."""
    if count <= 0:
        return 0
    buf = np.ascontiguousarray(buf, dtype=np.uint8)
    n = len(buf)
    got = 0
    p = 0
    while got < count:
        if p >= n:
            raise ValueError("byte RLE stream truncated")
        h = int(buf[p])
        if h < 0x80:
            got += h + MIN_REPEAT_SIZE
            p += 2
        else:
            cnt = 256 - h
            got += cnt
            p += 1 + cnt
    return got
