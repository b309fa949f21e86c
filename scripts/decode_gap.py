"""Decode-gap breakdown: how much of the DWRF-vs-parquet per-task scan
gap is intrinsic zlib block decompression vs our decode logic.

Protocol (min-of-N, per bench-host discipline in SCALE.md: host noise is
multiplicative and positive, so the min estimates code cost):
  1. t_parquet  — pyarrow C++ SIMD parquet scan of the same table
  2. t_zlib     — raw zlib floor: decompress every compressed block of
                  every stream of the DWRF file, NO decode, serial
                  (matches a Spark task: one core per stripe-split)
  3. t_full     — every stripe through DwrfFile.read_stripe, one after
                  another (serial, per-core like a task; read() would
                  decode on its stripe and column pools)
  4. decode     = t_full - t_zlib -> our RLE/assembly cost above the floor

Usage: python scripts/decode_gap.py [parquet_path] [reps]
Prints one JSON line.
"""

from __future__ import annotations

import json
import os
import sys
import time
import zlib

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def best_of(fn, reps: int) -> float:
    b = 9e9
    for _ in range(reps):
        s = time.perf_counter()
        fn()
        b = min(b, time.perf_counter() - s)
    return b


def main() -> int:
    import pyarrow.parquet as pq

    from hive_dwrf_spark.format import DwrfFile, write_arrow_table
    from hive_dwrf_spark.format.constants import CompressionKind

    parquet = (
        sys.argv[1]
        if len(sys.argv) > 1
        else "/root/testdata/sf0.1/lineitem.parquet"
    )
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 7
    table = pq.read_table(parquet)
    dwrf_path = "/tmp/decode_gap.dwrf"
    write_arrow_table(dwrf_path, table)

    # collect every stream's compressed bytes once (IO excluded from the
    # floor: both engines read the same page cache)
    blocks: list[bytes] = []
    with DwrfFile(dwrf_path) as f:
        assert f.compression == CompressionKind.ZLIB
        from hive_dwrf_spark.format.reader import _StripeDecoder

        for si in range(len(f.footer.stripes)):
            dec = _StripeDecoder(f, f.footer.stripes[si])
            for (col, kind), (off, ln) in dec._ranges.items():
                raw = bytes(dec._raw_slice(off, ln))
                pos = 0
                while pos < len(raw):
                    header = int.from_bytes(raw[pos : pos + 3], "little")
                    pos += 3
                    bl = header >> 1
                    if not header & 1:
                        blocks.append(raw[pos : pos + bl])
                    pos += bl

    def zlib_floor():
        for b in blocks:
            zlib.decompress(b, -15)

    t_zlib = best_of(zlib_floor, reps)
    t_parquet = best_of(lambda: pq.read_table(parquet), reps)

    def full_read():
        with DwrfFile(dwrf_path) as f:
            for i in range(len(f.footer.stripes)):
                f.read_stripe(i)

    full_read()
    t_full = best_of(full_read, reps)

    out = {
        "table": os.path.basename(parquet),
        "rows": table.num_rows,
        "t_parquet": round(t_parquet, 4),
        "t_zlib_floor": round(t_zlib, 4),
        "t_full_serial": round(t_full, 4),
        "t_decode_above_floor": round(t_full - t_zlib, 4),
        "zlib_share_of_gap": round(
            t_zlib / max(t_full - t_parquet, 1e-9), 3
        ),
        "reps": reps,
    }
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
