"""Ops CLI: ``python -m hive_dwrf_spark <cmd> ...`` — the command-line
face of the format tools. No SparkSession anywhere: every command is the
pure format core, so it runs on a laptop against one file or in a fleet
runbook against a table directory.

    dump    <file.dwrf ...>             file structure, stats, stripes,
                                        encodings (reference A25,
                                        FileDump parity)
    stats   <path>                      footer-merged table stats for a
                                        file or directory — zero data
                                        bytes read (A27 surface)
    lookup  <path> <key_col> <k1,k2,..> batched point lookup with file/
                                        stride pruning; rows as JSON
                                        lines, then the pruning and the
                                        bytes the open handles hold
    compact <dir> <out.dwrf>            merge all part files into one by
                                        raw stripe copy (A22, no decode)
    verify  <path>                      scrub file(s) against recorded
                                        per-stripe CRC32s (writer option
                                        checksums=true); exit 1 on any
                                        damage, reports files without
                                        checksums
    compact-manifest <dir> [--force]    rewrite the streaming sink's
                                        _batches commit log to resolved
                                        state (live files only; orphan/
                                        torn/superseded lines dropped) —
                                        the runbook form of the sink's
                                        automatic manifestCompactInterval.
                                        QUIESCENT DIRS ONLY: against a
                                        live stream the read-and-replace
                                        races the sink's append and can
                                        drop an in-flight commit group
                                        (the sink's own compaction runs
                                        inside commit, where batches are
                                        serialized, so it has no race)
    compact-sink <dir> [--target-mb N] [--force]
                                        merge a sink's committed small
                                        files per directory up to the
                                        target (stripe copy, no decode)
                                        AND rewrite the _batches manifest
                                        atomically, so committedOnly
                                        reads stay exactly-once across
                                        the compaction. Quiescent/cold
                                        dirs only — a committedOnly
                                        STREAM tailing the dir would
                                        re-ingest merged files as new
                                        names
"""

from __future__ import annotations

import json
import sys


def _cmd_dump(args: list[str]) -> int:
    from .format.dump import dump_file

    if not args:
        print("usage: dump <file.dwrf ...>", file=sys.stderr)
        return 2
    for path in args:
        print(dump_file(path))
    return 0


def _cmd_stats(args: list[str]) -> int:
    from .sources.stats import dwrf_path_stats, merged_column_stats

    columns = "--columns" in args
    args = [a for a in args if a != "--columns"]
    if len(args) != 1:
        print("usage: stats [--columns] <path>", file=sys.stderr)
        return 2
    out = dwrf_path_stats(args[0])
    if columns:
        int_kinds = {"BYTE", "SHORT", "INT", "LONG"}
        out["columns"] = {
            name: {
                "kind": st.kind.name,
                "count": st.count,
                "min": st.minimum,
                "max": st.maximum,
                # exact only for integer kinds and non-empty columns
                # (same rule as the dwrf_stats TVF — the two catalog
                # surfaces must not drift): string/bool sums are
                # meaningless zeros, double sums are accumulation-order-
                # dependent, and an all-null column has no sum
                "sum": st.sum
                if st.kind.name in int_kinds and not st.overflow and st.count
                else None,
            }
            for name, st in merged_column_stats(args[0]).items()
        }
    print(json.dumps(out, indent=1, sort_keys=True, default=str))
    return 0


def _parse_key(s: str):
    try:
        return int(s)
    except ValueError:
        return s


def _cmd_lookup(args: list[str]) -> int:
    from .format.lookup import cache_bytes, lookup_keys
    from .format.reader import block_cache_bytes

    if len(args) != 3:
        print("usage: lookup <path> <key_col> <k1,k2,...>", file=sys.stderr)
        return 2
    path, key_col, raw = args
    keys = [_parse_key(k) for k in raw.split(",") if k]
    trace: dict = {}
    table = lookup_keys(path, key_col, keys, trace=trace)
    for row in table.to_pylist():
        print(json.dumps(row, default=str))
    print(
        f"# {table.num_rows} rows; files {trace['files_pruned']}/"
        f"{trace['files_total']} pruned, strides "
        f"{trace['strides_scanned']}/{trace['strides_total']} scanned, "
        f"{trace['files_opened']} files opened",
        file=sys.stderr,
    )
    # the handles share the process's decompressed blocks: print their
    # total once
    held = {**cache_bytes(), "blocks": block_cache_bytes()}
    print(
        "# cache bytes: "
        + ", ".join(f"{layer} {n}" for layer, n in held.items())
        + f"; total {sum(held.values())}",
        file=sys.stderr,
    )
    return 0


def _cmd_compact(args: list[str]) -> int:
    from .format.merge import compact_directory

    if len(args) != 2:
        print("usage: compact <dir> <out.dwrf>", file=sys.stderr)
        return 2
    n = compact_directory(args[0], args[1])
    print(f"merged {n} files -> {args[1]}")
    return 0


def _cmd_verify(args: list[str]) -> int:
    from .format.plans import verify_files

    if len(args) != 1:
        print("usage: verify <path>", file=sys.stderr)
        return 2
    files = bad = 0
    for fp, stripes, nbytes, status in verify_files(args[0]):
        files += 1
        if status == "ok":
            print(f"OK       {fp} ({stripes} stripes, {nbytes} bytes)")
        elif status == "no checksums":
            print(f"SKIPPED  {fp}: no checksums recorded")
        else:
            bad += 1
            print(f"CORRUPT  {fp}: {status.removeprefix('corrupt: ')}")
    if not files:
        print(f"no .dwrf files under {args[0]}", file=sys.stderr)
        return 2
    return 1 if bad else 0


def _cmd_compact_sink(args: list[str]) -> int:
    from .sources.dwrf_datasource import compact_sink

    target = 128 << 20
    args = list(args)
    force = "--force" in args
    if force:
        args.remove("--force")
    if "--target-mb" in args:
        i = args.index("--target-mb")
        try:
            target = int(args[i + 1]) << 20
        except (IndexError, ValueError):
            print(
                "usage: compact-sink <dir> [--target-mb N] [--force]",
                file=sys.stderr,
            )
            return 2
        del args[i : i + 2]
    if len(args) != 1:
        print(
            "usage: compact-sink <dir> [--target-mb N] [--force]",
            file=sys.stderr,
        )
        return 2
    try:
        rep = compact_sink(args[0], target_bytes=target, force=force)
    except ValueError as e:
        print(str(e), file=sys.stderr)
        return 2
    print(json.dumps(rep))
    return 0


def _cmd_compact_manifest(args: list[str]) -> int:
    from .sources.dwrf_datasource import compact_manifest

    args = list(args)
    force = "--force" in args
    if force:
        args.remove("--force")
    if len(args) != 1:
        print("usage: compact-manifest <dir> [--force]", file=sys.stderr)
        return 2
    try:
        res = compact_manifest(args[0], force=force)
    except ValueError as e:
        print(str(e), file=sys.stderr)
        return 2
    if res is None:
        print(f"no _batches log under {args[0]}", file=sys.stderr)
        return 2
    after, before = res
    print(f"compacted _batches: {before} -> {after} lines")
    return 0


_COMMANDS = {
    "dump": _cmd_dump,
    "stats": _cmd_stats,
    "lookup": _cmd_lookup,
    "compact": _cmd_compact,
    "verify": _cmd_verify,
    "compact-manifest": _cmd_compact_manifest,
    "compact-sink": _cmd_compact_sink,
}


def main(argv: list[str]) -> int:
    if not argv or argv[0] in ("-h", "--help") or argv[0] not in _COMMANDS:
        print(__doc__.strip(), file=sys.stderr)
        return 0 if argv and argv[0] in ("-h", "--help") else 2
    return _COMMANDS[argv[0]](argv[1:])


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
