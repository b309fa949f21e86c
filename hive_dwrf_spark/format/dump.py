"""dwrf_dump — file structure dump utility (FileDump.java:37-142 analog).

Prints rows, types, per-column file statistics, stripe directory, and each
stripe's stream layout + column encodings. Usable as a library function
(returns the text) or CLI: python -m hive_dwrf_spark.format.dump FILE...
"""

from __future__ import annotations

import sys

from .constants import ColumnEncodingKind, CompressionKind, StreamKind, TypeKind
from .reader import DwrfFile, _StripeDecoder


def dump_file(path: str) -> str:
    lines: list[str] = []
    out = lines.append
    with DwrfFile(path) as f:
        out(f"Structure for {path}")
        out(f"Rows: {f.num_rows}")
        out(f"Compression: {CompressionKind(f.compression).name}")
        if f.block_size:
            out(f"Compression size: {f.block_size}")
        out(f"Raw data size: {f.footer.rawDataSize}")
        out(f"Row index stride: {f.footer.rowIndexStride}")
        out(f"Type: {f.schema}")
        out("\nStatistics:")
        for tid in range(len(f.types)):
            st = f.file_stats(tid)
            kind = TypeKind(f.types[tid].kind).name
            desc = f"  Column {tid}: kind={kind} count={st.count}"
            if st.minimum is not None:
                desc += f" min={st.minimum!r} max={st.maximum!r}"
            if st.kind in (
                TypeKind.SHORT,
                TypeKind.INT,
                TypeKind.LONG,
                TypeKind.BYTE,
                TypeKind.FLOAT,
                TypeKind.DOUBLE,
            ) and st.count:
                desc += f" sum={st.sum}"
            if st.kind == TypeKind.BOOLEAN:
                desc += f" true={st.true_count}"
            out(desc)
        out("\nStripes:")
        for i, s in enumerate(f.footer.stripes):
            out(
                f"  Stripe {i}: offset={s.offset} rows={s.numberOfRows} "
                f"index={s.indexLength} data={s.dataLength} "
                f"footer={s.footerLength} raw={s.rawDataSize}"
            )
            dec = _StripeDecoder(f, s, prefetch=False)
            for st_msg in dec.footer.streams:
                out(
                    f"    Stream: column {st_msg.column} "
                    f"{StreamKind(st_msg.kind).name} length {st_msg.length}"
                )
            for col, enc in enumerate(dec.encodings):
                kind = ColumnEncodingKind(enc.kind).name
                extra = (
                    f"[{enc.dictionarySize}]"
                    if enc.kind == int(ColumnEncodingKind.DICTIONARY)
                    else ""
                )
                out(f"    Encoding column {col}: {kind}{extra}")
    return "\n".join(lines)


def main(argv: list[str]) -> int:
    for path in argv:
        print(dump_file(path))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
