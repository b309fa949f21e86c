"""Stripe-level DWRF file merge without decode (fast concat).

Parity with the reference's StripeReader.java:32-92 + WriterImpl.addStripe
(WriterImpl.java:2183-2196): stripes are copied as raw bytes — index, data,
and stripe footer are position-independent; only the stripe directory entry
offsets change — so merging N files costs IO only, no decode/encode.

Used by the compaction job (operators/compaction): small task-output files
from a distributed write are folded into large files with many stripes.
"""

from __future__ import annotations

from . import codecs, proto
from .constants import CHECKSUM_METADATA_KEY, MAGIC, CompressionKind
from .reader import DwrfFile
from .stats import stats_from_proto
from .types import TypeKind


def merge_files(paths: list[str], out_path: str) -> list[tuple[str, int, int]]:
    """Merge `paths` into `out_path` by raw stripe copy; returns the
    per-source stripe spans ``[(path, lo, hi), ...]`` — source i's
    stripes land verbatim as out stripes [lo, hi). The spans are what
    lets a consumer that has already read SOME of the sources (e.g. a
    committedOnly stream tail whose offset covers part of a compacted
    group — compact_sink's ``#src`` lineage) plan exactly the remainder."""
    if not paths:
        raise ValueError("no input files")
    readers = [DwrfFile(p) for p in paths]
    try:
        first = readers[0]
        type_sig = [
            (t.kind, tuple(t.subtypes), tuple(t.fieldNames)) for t in first.types
        ]
        for r in readers[1:]:
            sig = [(t.kind, tuple(t.subtypes), tuple(t.fieldNames)) for t in r.types]
            if sig != type_sig:
                raise ValueError(f"schema mismatch: {r.path} vs {first.path}")
            if r.compression != first.compression:
                raise ValueError("compression mismatch between inputs")

        stripes: list[proto.StripeInformation] = []
        merged_stats = [
            stats_from_proto(TypeKind(first.types[i].kind), first.footer.statistics[i])
            for i in range(len(first.types))
        ]
        metadata: dict[str, bytes] = dict(first.metadata)
        # per-stripe CRCs stay VALID under raw stripe copy, so a merge of
        # all-checksummed inputs stays scrubbable: concatenate the triples
        # in stripe order. Any input without checksums poisons the set —
        # emitting a partial map would mis-index stripes, so drop the key
        # (metadata.update below would otherwise carry a stale one over).
        crc_parts = [r.metadata.get(CHECKSUM_METADATA_KEY) for r in readers]
        metadata.pop(CHECKSUM_METADATA_KEY, None)
        row_count = 0
        raw_size = 0

        from .fs import get_fs

        spans: list[tuple[str, int, int]] = []
        with get_fs(out_path).open(out_path, "wb") as out:
            out.write(MAGIC)
            pos = len(MAGIC)
            for idx, r in enumerate(readers):
                spans.append(
                    (r.path, len(stripes), len(stripes) + len(r.footer.stripes))
                )
                if idx > 0:
                    for i in range(len(r.types)):
                        merged_stats[i].merge(
                            stats_from_proto(
                                TypeKind(r.types[i].kind), r.footer.statistics[i]
                            )
                        )
                    later = dict(r.metadata)
                    later.pop(CHECKSUM_METADATA_KEY, None)
                    metadata.update(later)
                for s in r.footer.stripes:
                    total = s.indexLength + s.dataLength + s.footerLength
                    blob = r._read_at(s.offset, total)
                    out.write(blob)
                    stripes.append(
                        proto.StripeInformation(
                            offset=pos,
                            indexLength=s.indexLength,
                            dataLength=s.dataLength,
                            footerLength=s.footerLength,
                            numberOfRows=s.numberOfRows,
                            rawDataSize=s.rawDataSize,
                        )
                    )
                    pos += total
                    row_count += s.numberOfRows or 0
                    raw_size += s.rawDataSize or 0

            if all(p is not None for p in crc_parts):
                metadata[CHECKSUM_METADATA_KEY] = b";".join(crc_parts)
            footer = proto.Footer(
                headerLength=len(MAGIC),
                contentLength=pos,
                stripes=stripes,
                types=first.types,
                numberOfRows=row_count,
                rowIndexStride=first.footer.rowIndexStride,
                rawDataSize=raw_size,
                statistics=[st.to_proto() for st in merged_stats],
                metadata=[
                    proto.UserMetadataItem(name=k, value=v)
                    for k, v in metadata.items()
                ],
            )
            footer_bytes = codecs.compress_stream(
                proto.encode_message(footer),
                first.compression,
                first.block_size or 256 * 1024,
            )
            out.write(footer_bytes)
            ps = proto.PostScript(
                footerLength=len(footer_bytes), compression=int(first.compression)
            )
            if first.compression != CompressionKind.NONE:
                ps.compressionBlockSize = first.block_size
            ps_bytes = proto.encode_message(ps)
            out.write(ps_bytes)
            out.write(bytes([len(ps_bytes)]))
        return spans
    finally:
        for r in readers:
            r.close()


def compact_directory(path: str, out_file: str) -> int:
    """Merge every data file under `path` (plans.data_files, the files a
    scan of `path` reads) into one file; returns stripe count. The
    distributed variant shards inputs across tasks and runs merge_files
    per shard (IO-bound, no shuffle)."""
    from .fs import rel_subpath
    from .plans import data_files

    files = data_files(path)
    if not files:
        raise FileNotFoundError(f"no .dwrf files under {path}")
    # refuse to merge ACROSS subdirectories: hive-partition values live
    # in the directory name, not the footer, so a cross-partition merge
    # would silently drop them — compact_table compacts per partition
    subdirs = {rel_subpath(f, path).rpartition("/")[0] for f in files}
    if len(subdirs) > 1:
        raise ValueError(
            f"{path} spans {len(subdirs)} subdirectories (a partitioned "
            "layout?); merging across them would drop the directory-"
            "encoded values — use operators.layout.compact_table, which "
            "compacts per partition"
        )
    merge_files(files, out_file)
    with DwrfFile(out_file) as f:
        return len(f.footer.stripes)
