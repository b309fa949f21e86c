"""Spark Python DataSource for the DWRF format: spark.read.format("dwrf").

This module owns the DWRF scan for both the batch source and the stream
source (streaming/dwrf_stream.py, which only plans offsets and asks this
module for the rest):

- listing: ``_scan_files`` takes the table catalog's one walk
  (format/plans.py::data_files) and, with ``committedOnly``, keeps only
  the files its commit manifest records (``committed_files``);
- schema: ``scan_schema`` reads the first footer (every footer under
  ``mergeSchema``) from the plan cache, appends hive ``k=v`` partition
  columns, and applies the ``columns`` option;
- split packing: ``_plan_splits`` bin-packs each file's stripes, or a
  sorted subset of them, into ``_StripePartition`` runs of consecutive
  stripes. This maps the reference's OrcInputFormat split planning (one
  split per stripe byte range, OrcInputFormat.java:165-181): Spark
  schedules the splits across executors, so scan parallelism scales with
  stripes like the reference's MR splits;
- split read: ``read_split`` decodes one split on an executor into Arrow
  batches bound to the declared schema (the OrcSerde row bridge,
  OrcSerde.java:43-139, becomes an Arrow exchange with no per-row
  conversion). Only the schema's data columns decode; partition columns
  come from the path (NULL when the path lacks the segment), and a
  projection of partition columns alone takes its row counts from the
  stripe directory.

The batch reader adds predicate pushdown: ``pushFilters`` receives
Catalyst filters, and supported conjuncts prune hive partitions, files
(footer stats) and strides (row-index stats). All filters are also
reported back as unsupported, so Spark re-applies them; pruning only
saves IO.

At 100 TB: planning reads only file footers (stripe directories); data IO
happens in executors, so the driver's cost is the file listing.
"""

from __future__ import annotations

import logging
import os
import time
import uuid
from dataclasses import dataclass

from ..format.fs import strip_file_uri
from ..format.plans import FilePlan, data_files, file_plans
from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamArrowWriter,
    EqualNullSafe,
    EqualTo,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    InputPartition,
    IsNotNull,
    IsNull,
    LessThan,
    LessThanOrEqual,
    StringStartsWith,
    WriterCommitMessage,
)
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    BooleanType,
    ByteType,
    DateType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    MapType,
    ShortType,
    StringType,
    StructField,
    StructType,
    TimestampNTZType,
    TimestampType,
)


def _project_fields(fields: list, columns_opt: str) -> list:
    """Resolve a comma-separated ``columns`` option against declared
    fields: whitespace-tolerant, case-insensitive on fallback (the
    reader's ObjectInspector semantics), canonical file names kept.
    Unknown names raise with the available fields spelled out instead of
    surfacing a raw KeyError on the lowered token."""
    by_name = {fl.name: fl for fl in fields}
    by_lower = {fl.name.lower(): fl for fl in fields}
    out = []
    for tok in columns_opt.split(","):
        c = tok.strip()
        if not c:
            continue
        fld = by_name.get(c) or by_lower.get(c.lower())
        if fld is None:
            raise ValueError(
                f"unknown column {c!r} in 'columns' option; available: "
                + ", ".join(fl.name for fl in fields)
            )
        out.append(fld)
    return out


def _flag(options, key: str, default: str = "") -> bool:
    """A boolean option: "true", "1" or "yes", in any case."""
    return str(options.get(key, default)).lower() in ("true", "1", "yes")


def _source_path(options) -> str:
    # SQL surfaces (CREATE TABLE ... LOCATION / managed tables) pass a
    # file: URI where read API calls pass an os path
    path = strip_file_uri(options.get("path"))
    if not path:
        raise ValueError("dwrf source requires a path")
    return path


def _scan_files(path: str, committed_only: bool = False) -> list[str]:
    """Data files under `path` (plans.data_files: sorted; [] when there
    are none or the directory does not exist yet).

    committed_only keeps the files the directory's commit manifest
    records (committed_files): orphans of crashed tasks and a retried
    batch's second attempt are skipped, and a file the manifest does not
    record yet becomes visible once a commit records it."""
    from ..format.fs import rel_subpath

    files = data_files(path)
    if committed_only and files:
        committed = committed_files(path)
        if committed is None:
            raise ValueError(
                f"committedOnly read of {path}: no commit manifest "
                "(_batches or _SUCCESS) found — the option only makes "
                "sense over sink/batch-committed output"
            )
        files = [f for f in files if rel_subpath(f, path) in committed]
    return files


def _accepted_batch_groups(lines: list[str]) -> dict[str, dict[str, str]]:
    """{batchId: {relpath: rows_field}} of COMPLETE, FIRST-seen commit
    groups in a ``_batches`` log, in first-seen batch order (dict order).

    Marker protocol (round 11): each commit appends ``#begin\\t<batchId>``,
    its ``batchId\\trelpath\\trows`` file lines, then ``#end\\t<batchId>``.
    - a torn append (crash mid-commit, no ``#end``) is not a commit;
    - a RETRIED batch's second complete group loses keep-first;
    - a torn append FOLLOWED by a retry of the same batchId is reset at
      the retry's ``#begin`` — without the begin marker the torn lines
      would merge into the retry's group (both precede its ``#end`` and
      share the batchId) and a committedOnly read would double-count.
    Round-10 logs (``#end`` only) parse identically except for that last
    case; pre-marker logs fall back to contiguous-run detection."""
    accepted: dict[str, dict[str, str]] = {}
    # any marker (not just #end) selects the marker protocol: a log whose
    # ONLY commit attempt tore after '#begin' has no '#end' line, and the
    # legacy fallback would wrongly accept the torn lines as a run
    if any(ln.startswith(("#end\t", "#begin\t")) for ln in lines):
        group: dict[str, str] = {}
        begin_id: str | None = None
        for ln in lines:
            parts = ln.split("\t")
            if parts[0] == "#begin" and len(parts) >= 2:
                group = {}  # discard any torn lines before this commit
                begin_id = parts[1]
            elif parts[0] == "#end" and len(parts) >= 2:
                # a begin/end batchId mismatch means interleaved torn
                # groups — neither is a trustworthy commit, drop both
                if begin_id is None or begin_id == parts[1]:
                    accepted.setdefault(parts[1], group)
                group = {}
                begin_id = None
            elif len(parts) >= 2 and not parts[0].startswith("#"):
                group[parts[1]] = parts[2] if len(parts) > 2 else ""
        return accepted
    # legacy logs (no markers): contiguous same-batchId runs are
    # groups; keep the first run per batchId (a retry is only
    # detectable when another batch interleaves)
    order: list[str] = []
    for ln in lines:
        parts = ln.split("\t")
        if len(parts) < 2 or parts[0].startswith("#"):
            continue
        bid, rel = parts[0], parts[1]
        rows = parts[2] if len(parts) > 2 else ""
        if bid not in accepted:
            accepted[bid] = {rel: rows}
            order.append(bid)
        elif bid == order[-1]:
            accepted[bid][rel] = rows
    return accepted


def committed_files(path: str) -> set[str] | None:
    """Relative paths of the COMMITTED data files under `path` per its
    commit manifest, or None when no manifest exists.

    Two manifests are recognized (both written through the fs seam):
    - ``_batches`` — the streaming sink's commit log; see
      _accepted_batch_groups for the begin/end marker protocol that
      upgrades the sink's at-least-once to exactly-once AT READ TIME
      (Spark's own file sink does the same thing with its
      _spark_metadata log). The sink compacts the log in place every
      ``manifestCompactInterval`` batches (compact_manifest), so parse
      cost tracks LIVE files, not batches-ever.
    - ``_SUCCESS`` — the batch writer's commit manifest
      (``relpath\\trows`` lines).

    Task files that were written but never committed (crashed executors,
    aborted jobs, a retried batch's second attempt) appear in neither —
    a committedOnly read skips them without any cleanup job having run."""
    from ..format.fs import get_fs, join_path

    fs = get_fs(path)
    batches = join_path(path, "_batches")
    if fs.exists(batches):
        with fs.open(batches, "r") as f:
            lines = [ln.rstrip("\n") for ln in f]
        accepted = _accepted_batch_groups(lines)
        out: set[str] = set()
        for rels in accepted.values():
            out.update(rels)
        return out
    success = join_path(path, "_SUCCESS")
    if fs.exists(success):
        out = set()
        with fs.open(success, "r") as f:
            for line in f:
                rel = line.rstrip("\n").split("\t")[0]
                if rel:
                    out.add(rel)
        return out
    return None


def _parse_lineage(
    lines: list[str],
) -> dict[str, list[tuple[str, int, int, int]]]:
    """{merged_rel: [(src_rel, stripe_lo, stripe_hi, src_mtime_ns)]}
    from a _batches log's ``#src`` lineage lines (compact_sink writes
    one per merged source: the source's verbatim stripe span inside the
    merged file plus its last mtime). Both commit-group parsers ignore
    '#'-prefixed lines, so lineage coexists with every historical log
    shape."""
    out: dict[str, list[tuple[str, int, int, int]]] = {}
    for ln in lines:
        parts = ln.split("\t")
        if parts[0] != "#src" or len(parts) < 6:
            continue
        try:
            span = (parts[2], int(parts[3]), int(parts[4]), int(parts[5]))
        except ValueError:
            continue
        out.setdefault(parts[1], []).append(span)
    return out


def manifest_lineage(
    path: str,
) -> dict[str, list[tuple[str, int, int, int]]]:
    """Merged-file lineage recorded in `path`'s ``_batches`` manifest —
    see _parse_lineage; empty when there is no log or no ``#src`` lines
    (nothing was ever sink-compacted)."""
    from ..format.fs import get_fs, join_path

    fs = get_fs(path)
    log = join_path(path, "_batches")
    if not fs.exists(log):
        return {}
    with fs.open(log, "r") as f:
        return _parse_lineage([ln.rstrip("\n") for ln in f])


def _reachable_lineage(
    lineage: dict[str, list[tuple[str, int, int, int]]],
    roots,
) -> dict[str, list[tuple[str, int, int, int]]]:
    """The lineage entries still worth carrying in a rewritten log: those
    for a ROOT (live committed file) plus, transitively, entries for any
    merged name a kept entry references as a source — a re-compacted
    merged file's sources must stay resolvable so a stream tail that
    never saw the intermediate generation can still map its offset names
    onto the newest merged file's stripes."""
    keep: dict[str, list[tuple[str, int, int, int]]] = {}
    stack = [r for r in roots if r in lineage]
    while stack:
        m = stack.pop()
        if m in keep:
            continue
        keep[m] = lineage[m]
        for src, _lo, _hi, _mt in lineage[m]:
            if src in lineage and src not in keep:
                stack.append(src)
    return keep


def _lineage_lines(
    lineage: dict[str, list[tuple[str, int, int, int]]]
) -> list[str]:
    return [
        f"#src\t{m}\t{src}\t{lo}\t{hi}\t{mt}"
        for m in sorted(lineage)
        for src, lo, hi, mt in lineage[m]
    ]


def _guard_quiescent(fs, path: str, quiesce_sec: float, force: bool, op: str) -> None:
    """Refuse in-place manifest surgery when the ``_batches`` log was
    modified within the last ``quiesce_sec`` seconds — cheap evidence of
    a LIVE writer. compact_manifest and compact_sink are exactly-once-
    destroying if they race a commit append (the read-and-replace could
    drop an in-flight group), so an external call must find a quiescent
    log or say so explicitly (force=True / --force on the CLI). The
    sink's own periodic compaction runs INSIDE commit(), where Spark
    serializes batches, and bypasses the guard."""
    if force or quiesce_sec <= 0:
        return
    from ..format.fs import join_path

    log = join_path(path, "_batches")
    if not fs.exists(log):
        return
    try:
        mtime_ns = (
            fs.mtime_ns(log)
            if hasattr(fs, "mtime_ns")
            else int(fs.stat_key(log)[-1])
        )
    except (FileNotFoundError, OSError):
        return
    age = time.time() - mtime_ns / 1e9
    if age < quiesce_sec:
        raise ValueError(
            f"{op}({path}): _batches was modified {age:.1f}s ago — a "
            "live writer may be mid-commit, and racing it corrupts "
            f"exactly-once reads. Re-run after {quiesce_sec:.0f}s of "
            "quiescence, or pass force=True (--force) if the sink is "
            "known to be stopped."
        )


def compact_manifest(
    path: str, *, quiesce_sec: float = 60.0, force: bool = False
) -> tuple[int, int] | None:
    """Rewrite ``path``'s ``_batches`` commit log as its RESOLVED state:
    one complete begin/end group per accepted batch, entries whose data
    file no longer exists (retention/compaction deleted it) dropped, and
    every orphan/torn/superseded-retry line gone. Returns
    (lines_after, lines_before), or None when there is no log.

    This is Spark's ``_spark_metadata`` compaction discipline re-expressed
    for the in-place log: without it the log grows with batches-EVER and
    committed_files re-parses the whole history per listing — on a
    months-old sink, trigger latency and listing cost climb without bound
    (the same disease the stream source's offsets were cured of with
    age-retirement). After compaction both track LIVE files only.
    Reference analogy: the footer's consolidated stripe directory
    (ReaderImpl.java:204-260) — readers never replay a log.

    Crash-safe: the rewrite goes to a ``_batches.<uuid>.tmp`` sibling and
    lands via atomic ``fs.replace`` (object stores without rename fall
    back to a single whole-object PUT — atomic there by store semantics).
    Concurrent committed_files readers see either the old or the new log,
    both of which resolve to the same accepted set. Concurrent WRITERS
    are not supported: against a live sink an external call races the
    commit append (read-and-replace could drop an in-flight group), so
    run this only on quiescent directories — the sink's own periodic
    compaction runs inside commit(), where Spark serializes batches, and
    has no such race.

    Keep-first safety across compaction: an accepted batch whose files
    were ALL pruned is still kept as an empty group when it is the
    HIGHEST batchId — Spark only ever re-runs the latest uncommitted
    batch, so that is the only id a post-compaction retry could reuse and
    the empty group preserves the keep-first rejection of the retry's
    orphan files. Lower empty ids can never be retried (their offsets are
    committed) and are dropped, which is what bounds the log.

    A fresh log mtime (within ``quiesce_sec``, default 60) refuses the
    call as live-writer evidence — see _guard_quiescent; ``force=True``
    overrides."""
    from ..format.fs import get_fs, join_path, rel_subpath

    # SQL/managed surfaces hand file: URIs; list_files answers stripped
    # os paths, so normalize before rel_subpath compares against the base
    path = strip_file_uri(path)
    fs = get_fs(path)
    _guard_quiescent(fs, path, quiesce_sec, force, "compact_manifest")
    log = join_path(path, "_batches")
    if not fs.exists(log):
        return None
    with fs.open(log, "r") as f:
        lines = [ln.rstrip("\n") for ln in f if ln.strip()]
    accepted = _accepted_batch_groups(lines)
    live = {rel_subpath(fp, path) for fp in data_files(path)}

    def _bid_key(b: str):
        try:
            return int(b)
        except ValueError:
            return -1

    max_bid = max(accepted, key=_bid_key, default=None)
    out_lines: list[str] = []
    kept_rels: set[str] = set()
    for bid, rels in accepted.items():
        kept = {rel: rows for rel, rows in rels.items() if rel in live}
        kept_rels.update(kept)
        if not kept and bid != max_bid:
            continue
        out_lines.append(f"#begin\t{bid}")
        out_lines.extend(f"{bid}\t{rel}\t{rows}" for rel, rows in kept.items())
        out_lines.append(f"#end\t{bid}")
    # carry forward ``#src`` merged-lineage for files that survive (plus
    # the transitive entries their sources need) — a stream tail resolves
    # merged names against this map, so compaction must not orphan it
    out_lines.extend(
        _lineage_lines(_reachable_lineage(_parse_lineage(lines), kept_rels))
    )
    body = "".join(ln + "\n" for ln in out_lines)
    _swap_manifest(fs, path, body)
    return (len(out_lines), len(lines))


def _swap_manifest(fs, path: str, body: str) -> None:
    """Land a rewritten _batches log: temp + atomic fs.replace, or a
    single whole-object overwrite where the fs has no rename (atomic at
    the PUT level on object stores)."""
    from ..format.fs import join_path

    log = join_path(path, "_batches")
    if hasattr(fs, "replace"):
        tmp = join_path(path, f"_batches.{uuid.uuid4().hex[:12]}.tmp")
        with fs.open(tmp, "w") as f:
            f.write(body)
        fs.replace(tmp, log)
    else:
        with fs.open(log, "w") as f:
            f.write(body)


def compact_sink(
    path: str,
    target_bytes: int = 128 << 20,
    min_group: int = 2,
    *,
    quiesce_sec: float = 60.0,
    force: bool = False,
) -> dict:
    """In-place small-file compaction for a streaming-sink directory,
    preserving committedOnly exactly-once semantics across the rewrite.

    High-frequency triggers leave a sink as thousands of per-task part
    files (SCALE.md "Streaming DWRF sink" names this the known cost and
    the stripe-copy merge the remedy). A bare ``compact_directory`` on a
    sink dir would break its ``_batches`` manifest — merged files would
    be invisible orphans to committedOnly reads and stale source entries
    would dangle. This job does the merge manifest-first-safe:

    1. committed files are greedily grouped per DIRECTORY (hive
       partition values live in the path, never merged across) up to
       ``target_bytes``; groups smaller than ``min_group`` files and
       files already at/over target are left alone;
    2. each group is stripe-copy merged (``format/merge.py`` — IO only,
       CRC-preserving) into ``part-merged-<uuid>.dwrf``, an ORPHAN until
       the manifest says otherwise — a crash here leaks only excluded
       bytes;
    3. the manifest is rewritten atomically: source entries drop, one
       synthetic commit group per merged file lands (batchId
       ``m-<uuid>`` — collision-free with Spark's integer ids, so
       keep-first still holds), row counts carried over;
    4. only then are the source files deleted. A crash between 3 and 4
       leaves sources on disk as manifest-orphans: committedOnly reads
       stay exact, and a re-run does not re-merge them (no longer in the
       manifest, so no longer candidates).

    QUIESCENT DIRS ONLY for the WRITER side, like compact_manifest:
    against a live sink the rewrite races the commit append (the
    _guard_quiescent mtime check refuses fresh logs unless force=True).
    Stream TAILS are safe as of round 12: each synthetic group carries
    ``#src`` lineage lines (source name, verbatim stripe span, mtime),
    and a committedOnly stream source resolves an unseen merged name
    against its offset — fully-covered names are absorbed without
    emission, partially-covered ones plan only the uncovered sources'
    stripes — so compacting behind (or even across) a tail's progress
    never double-ingests. Groups whose files disagree on
    schema/compression (sink schema evolution) are skipped, not errors.

    Returns {"merged_files", "groups", "skipped_groups", "files_before",
    "files_after"}."""
    from ..format.fs import get_fs, join_path
    from ..format.merge import merge_files

    path = strip_file_uri(path)
    fs = get_fs(path)
    _guard_quiescent(fs, path, quiesce_sec, force, "compact_sink")
    log = join_path(path, "_batches")
    if not fs.exists(log):
        raise ValueError(
            f"compact_sink({path}): no _batches manifest — this job is "
            "for streaming-sink dirs; use compact_directory/compact_table "
            "for plain table dirs"
        )
    with fs.open(log, "r") as f:
        lines = [ln.rstrip("\n") for ln in f if ln.strip()]
    accepted = _accepted_batch_groups(lines)
    # rel -> (size, rows) for committed files still on disk, per directory
    by_dir: dict[str, list[tuple[str, int, str]]] = {}
    rel_rows = {}
    for rels in accepted.values():
        rel_rows.update(rels)
    for rel in sorted(rel_rows):
        fp = join_path(path, rel)
        if not fs.exists(fp):
            continue
        d = rel.rpartition("/")[0]
        by_dir.setdefault(d, []).append((rel, fs.size(fp), rel_rows[rel]))

    groups: list[list[tuple[str, int, str]]] = []
    for d in sorted(by_dir):
        cur: list[tuple[str, int, str]] = []
        cur_bytes = 0
        for item in by_dir[d]:
            if item[1] >= target_bytes:
                continue
            if cur and cur_bytes + item[1] > target_bytes:
                if len(cur) >= min_group:
                    groups.append(cur)
                cur, cur_bytes = [], 0
            cur.append(item)
            cur_bytes += item[1]
        if len(cur) >= min_group:
            groups.append(cur)

    def _mtime_of(fp: str) -> int:
        try:
            if hasattr(fs, "mtime_ns"):
                return int(fs.mtime_ns(fp))
            return int(fs.stat_key(fp)[-1])
        except (FileNotFoundError, OSError):
            return 0

    merged: dict[str, list[tuple[str, int, str]]] = {}
    lineage_new: dict[str, list[tuple[str, int, int, int]]] = {}
    skipped = 0
    for grp in groups:
        d = grp[0][0].rpartition("/")[0]
        out_rel = (d + "/" if d else "") + f"part-merged-{uuid.uuid4().hex[:16]}.dwrf"
        try:
            spans = merge_files(
                [join_path(path, rel) for rel, _sz, _rw in grp],
                join_path(path, out_rel),
            )
        except ValueError:
            # schema/compression mismatch inside the group (sink schema
            # evolution): leave those files as they are
            skipped += 1
            fs.remove(join_path(path, out_rel))
            continue
        merged[out_rel] = grp
        # lineage: each source's verbatim stripe span inside the merged
        # file plus its mtime — what lets a committedOnly stream tail
        # whose offset already covers some sources plan EXACTLY the
        # remainder instead of re-ingesting the merged name wholesale
        lineage_new[out_rel] = [
            (rel, lo, hi, _mtime_of(join_path(path, rel)))
            for (rel, _sz, _rw), (_sp, lo, hi) in zip(grp, spans)
        ]

    if merged:
        gone = {rel for grp in merged.values() for rel, _sz, _rw in grp}
        out_lines: list[str] = []
        # every batch group survives (possibly emptied) — keep-first
        # protection for ALL ids here; a later compact_manifest applies
        # its max-bid-only policy to the empties
        for bid, rels in accepted.items():
            kept = {r: rows for r, rows in rels.items() if r not in gone}
            out_lines.append(f"#begin\t{bid}")
            out_lines.extend(
                f"{bid}\t{r}\t{rows}" for r, rows in kept.items()
            )
            out_lines.append(f"#end\t{bid}")
        for out_rel, grp in merged.items():
            mid = f"m-{uuid.uuid4().hex[:12]}"
            total_rows = 0
            for _rel, _sz, rows in grp:
                try:
                    total_rows += int(rows or 0)
                except ValueError:
                    # advisory data (committedOnly reads never consume
                    # the count), but a corrupt field silently
                    # understating the group's tally deserves a trace
                    logging.getLogger(__name__).warning(
                        "compact_sink %s: unparsable row count %r for "
                        "%s — synthetic group %s row tally will "
                        "understate",
                        path,
                        rows,
                        _rel,
                        mid,
                    )
            out_lines.append(f"#begin\t{mid}")
            out_lines.append(f"{mid}\t{out_rel}\t{total_rows}")
            out_lines.append(f"#end\t{mid}")
        # merged-file lineage (#src lines, ignored by the group parsers):
        # new spans plus the still-reachable prior generations, so a
        # stream whose offset predates several compactions can resolve a
        # merged name transitively down to names it actually processed
        all_lineage = _parse_lineage(lines)
        all_lineage.update(lineage_new)
        roots = (set(rel_rows) - gone) | set(merged)
        out_lines.extend(
            _lineage_lines(_reachable_lineage(all_lineage, roots))
        )
        _swap_manifest(fs, path, "".join(ln + "\n" for ln in out_lines))
        # manifest no longer references the sources: delete them last
        for rel in gone:
            fs.remove(join_path(path, rel))

    return {
        "merged_files": len(merged),
        "groups": len(groups),
        "skipped_groups": skipped,
        "files_before": sum(len(v) for v in by_dir.values()),
        "files_after": sum(len(v) for v in by_dir.values())
        - sum(len(g) for g in merged.values())
        + len(merged),
    }


def _plan_may_match(plan: FilePlan, filters) -> bool:
    """File-level stats pruning from the cached footer summary — the same
    decision as DwrfFile._filter_may_match_stats without reopening the
    file."""
    from ..format.reader import _resolve_field, _stats_may_match

    names = list(plan.stats_by_name)
    for name, op, value in filters:
        resolved = _resolve_field(name, names)
        if resolved is None:
            continue
        st = plan.stats_by_name.get(resolved)
        if st is None:
            continue
        if not _stats_may_match(st, op, value):
            return False
    return True


def _arrow_to_spark_type(t):
    import pyarrow as pa

    if pa.types.is_boolean(t):
        return BooleanType()
    if pa.types.is_int8(t):
        return ByteType()
    if pa.types.is_int16(t):
        return ShortType()
    if pa.types.is_int32(t):
        return IntegerType()
    if pa.types.is_int64(t):
        return LongType()
    if pa.types.is_float32(t):
        return FloatType()
    if pa.types.is_float64(t):
        return DoubleType()
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return StringType()
    if pa.types.is_binary(t) or pa.types.is_large_binary(t):
        return BinaryType()
    if pa.types.is_date32(t):
        return DateType()
    if pa.types.is_timestamp(t):
        return TimestampNTZType()
    if pa.types.is_list(t):
        return ArrayType(_arrow_to_spark_type(t.value_type))
    if pa.types.is_map(t):
        return MapType(
            _arrow_to_spark_type(t.key_type), _arrow_to_spark_type(t.item_type)
        )
    if pa.types.is_struct(t):
        return StructType(
            [StructField(f.name, _arrow_to_spark_type(f.type)) for f in t]
        )
    raise TypeError(f"unsupported arrow type {t}")


def _spark_to_arrow_type(t):
    import pyarrow as pa

    mapping = {
        BooleanType: pa.bool_(),
        ByteType: pa.int8(),
        ShortType: pa.int16(),
        IntegerType: pa.int32(),
        LongType: pa.int64(),
        FloatType: pa.float32(),
        DoubleType: pa.float64(),
        StringType: pa.string(),
        BinaryType: pa.binary(),
        DateType: pa.date32(),
        TimestampType: pa.timestamp("us"),
        TimestampNTZType: pa.timestamp("us"),
    }
    for cls, at in mapping.items():
        if isinstance(t, cls):
            return at
    if isinstance(t, ArrayType):
        return pa.list_(_spark_to_arrow_type(t.elementType))
    if isinstance(t, MapType):
        return pa.map_(
            _spark_to_arrow_type(t.keyType), _spark_to_arrow_type(t.valueType)
        )
    if isinstance(t, StructType):
        return pa.struct(
            [pa.field(f.name, _spark_to_arrow_type(f.dataType)) for f in t.fields]
        )
    raise TypeError(f"unsupported spark type {t}")


_FILTER_OPS = {
    EqualTo: "eq",
    EqualNullSafe: "eq",  # null-safe value compare prunes like eq; a null
    # value raises TypeError in the stats check and is treated as may-match
    GreaterThan: "gt",
    GreaterThanOrEqual: "gte",
    LessThan: "lt",
    LessThanOrEqual: "lte",
    In: "in",
    IsNull: "is_null",
    IsNotNull: "is_not_null",
    StringStartsWith: "starts_with",
}


def _convert_filter(f) -> tuple | None:
    """Catalyst Filter -> (column, op, value) or None if unsupported."""
    op = _FILTER_OPS.get(type(f))
    if op is None:
        return None
    attr = f.attribute
    if len(attr) != 1:  # nested paths not used for stats pruning
        return None
    # pyspark's In dataclass stores its tuple in `.value` like the scalar
    # filters (NOT `.values` — reading that silently dropped every IN
    # filter to None, so IN-list pruning never fired; caught by the
    # cid-partitioned IVF-lists probe test)
    value = getattr(f, "value", None)
    if op == "in" and value is None:
        value = getattr(f, "values", None)
    if isinstance(value, (list, tuple)) or value is None or isinstance(
        value, (int, float, str, bool)
    ):
        return (attr[0], op, value)
    return None


@dataclass
class _StripePartition(InputPartition):
    """One scan split: a run of CONSECUTIVE stripes of one file.

    Small stripes are bin-packed into one split up to the computed
    maxSplitBytes (Spark's own file-split policy: min(128 MB,
    max(4 MB, totalBytes/parallelism))), so a 100 TB table of many
    small-stripe files doesn't explode into millions of tasks, while a
    large-stripe file still fans out one task per stripe. Consecutive
    runs keep IO sequential within the split."""

    path: str
    stripe_indices: tuple = ()  # empty = sentinel for "no data"
    part_values: tuple = ()  # (name, raw_string_value) pairs, hive-style


def _partition_values(root: str, path: str) -> tuple:
    """Hive-style (key, raw value) pairs of the ``k=v`` directory segments
    of `path` under `root` ('evt=click/part-0.dwrf' -> (('evt', 'click'),))
    — string algebra, so scheme:// roots stay intact."""
    from ..format.fs import rel_subpath

    return tuple(
        tuple(seg.split("=", 1))
        for seg in rel_subpath(path, root).split("/")[:-1]
        if "=" in seg
    )


def _is_partition(field) -> bool:
    """True for a hive partition column (scan_schema marks them)."""
    return bool(field.metadata and field.metadata.get("dwrf.partition"))


def _infer_partition_type(values: list[str]):
    try:
        for v in values:
            int(v)
        return LongType()
    except ValueError:
        pass
    try:
        for v in values:
            float(v)
        return DoubleType()
    except ValueError:
        return StringType()


def _cast_partition_value(raw: str, spark_type):
    if isinstance(spark_type, LongType):
        return int(raw)
    if isinstance(spark_type, (DoubleType, FloatType)):
        return float(raw)
    if isinstance(spark_type, IntegerType):
        return int(raw)
    return raw


def scan_schema(
    path: str,
    columns: str | None = None,
    merge: bool = False,
    committed_only: bool = False,
) -> StructType:
    """The Spark schema of the DWRF files under `path` (committed ones
    only with `committed_only`).

    Without `merge` (mergeSchema) the first footer defines the data
    columns; with it, fields union by name across every footer in
    first-seen order, requiring type agreement. Footers come from the
    plan cache, so the split planning that follows re-parses nothing.
    Hive ``k=v`` partition columns follow the data columns (Spark's
    convention), marked with ``dwrf.partition`` metadata. `columns` (the
    ``columns`` option) projects the result; it is also the only column
    pruning a stream gets, since Spark pushes none into a Python stream
    source."""
    files = _scan_files(path, committed_only)
    if not files:
        raise FileNotFoundError(f"no .dwrf files under {path}")
    fields: list[StructField] = []
    seen: dict[str, StructField] = {}
    footers = files if merge else files[:1]
    plans = file_plans(footers)
    for fp in footers:
        for af in plans[fp].arrow_schema:
            fld = StructField(af.name, _arrow_to_spark_type(af.type))
            prev = seen.get(fld.name.lower())
            if prev is None:
                seen[fld.name.lower()] = fld
                fields.append(fld)
            elif prev.dataType != fld.dataType:
                raise ValueError(
                    f"mergeSchema type conflict for {fld.name!r}: "
                    f"{prev.dataType} vs {fld.dataType} in {fp}"
                )
    part_cols: dict[str, list[str]] = {}
    for fp in files:
        for k, v in _partition_values(path, fp):
            part_cols.setdefault(k, []).append(v)
    for name, values in part_cols.items():
        fields.append(
            StructField(
                name,
                _infer_partition_type(values),
                metadata={"dwrf.partition": True},
            )
        )
    if columns:
        fields = _project_fields(fields, columns)
    return StructType(fields)


def _value_matches(val, op: str, value) -> bool:
    """Exact predicate evaluation for partition-column pruning (O4)."""
    try:
        if op == "eq":
            return val == value
        if op == "lt":
            return val < value
        if op == "lte":
            return val <= value
        if op == "gt":
            return val > value
        if op == "gte":
            return val >= value
        if op == "in":
            return val in value
        if op == "is_null":
            return val is None
        if op == "is_not_null":
            return val is not None
        if op == "starts_with":
            return isinstance(val, str) and val.startswith(value)
    except TypeError:
        return True
    return True


def _derive_max_split(total_bytes: int, parallelism: int) -> int:
    """Spark's file-split formula: splits big enough to amortize task
    overhead, small enough to keep `parallelism` tasks busy."""
    return min(128 << 20, max(4 << 20, total_bytes // max(parallelism, 1) + 1))


def _pack_runs(idxs, sizes, max_split: int) -> list[tuple[int, ...]]:
    """Bin-pack the sorted stripe indices `idxs` of one file into runs of
    CONSECUTIVE stripes of at most ``max_split`` bytes: a gap in `idxs`
    always ends a run, so IO stays sequential within a split, and a
    stripe larger than max_split gets its own run."""
    runs: list[tuple[int, ...]] = []
    run: list[int] = []
    run_bytes = 0
    prev = None
    for i in idxs:
        sz = sizes[i] if i < len(sizes) else 0
        if run and (i != prev + 1 or run_bytes + sz > max_split):
            runs.append(tuple(run))
            run, run_bytes = [], 0
        run.append(i)
        run_bytes += sz
        prev = i
    if run:
        runs.append(tuple(run))
    return runs


def _plan_splits(
    root: str,
    files: list[tuple[str, list | None]],
    plans: dict[str, FilePlan],
    max_split: int = 0,
    parallelism: int = 0,
) -> list[_StripePartition]:
    """The scan splits of `files`, each a (path, sorted stripe subset or
    None for every stripe) pair whose footer summary is in `plans`.
    max_split 0 derives the split size Spark-style from the files' total
    bytes and `parallelism` (0: the host's cores)."""
    total = sum(sum(plans[p].stripe_sizes) for p, _ in files)
    max_split = max_split or _derive_max_split(
        total, parallelism or os.cpu_count() or 8
    )
    parts = []
    for path, stripes in files:
        sizes = plans[path].stripe_sizes
        part_values = _partition_values(root, path)
        for run in _pack_runs(
            range(len(sizes)) if stripes is None else stripes, sizes, max_split
        ):
            parts.append(
                _StripePartition(
                    path=path, stripe_indices=run, part_values=part_values
                )
            )
    return parts


def read_split(
    partition: _StripePartition,
    schema: StructType,
    filters: list[tuple] | None = None,
    merge: bool = False,
    verify: bool = False,
):
    """Decode one split into Arrow batches whose columns are `schema`'s,
    in its declared order (Spark binds batches positionally).

    Only the schema's data columns decode — every column of the file
    when they are exactly the file's — with `filters` pruning stripes
    and strides by their stats. `merge` (mergeSchema) null-fills the data
    columns this file predates; `verify` (verifyOnRead) checks stripe
    CRCs. Partition columns take the split's path values cast to their
    type, NULL for a file outside the partition directories; with no
    data column to decode, the row counts come from the stripe directory.
    Spark cannot consume ns timestamps, so they truncate to us."""
    import pyarrow as pa

    from ..format.reader import DwrfFile

    if not partition.stripe_indices:
        return
    raw = dict(partition.part_values)
    names = [fl.name for fl in schema.fields]
    with DwrfFile(partition.path, verify_checksums=verify) as f:
        file_names = [fl.name for fl in f.schema]
        present = {n.lower() for n in file_names}
        data = [
            fl.name
            for fl in schema.fields
            if not _is_partition(fl)
            and (not merge or fl.name.lower() in present)
        ]
        columns = None if data == file_names else data
        for idx in partition.stripe_indices:
            if data:
                table = f.read_stripe(idx, columns=columns, filters=filters)
                if table is None:
                    continue
                n = table.num_rows
                decoded = {
                    c.lower(): a for c, a in zip(table.column_names, table.columns)
                }
            else:
                n = f.footer.stripes[idx].numberOfRows
                decoded = {}
            cols = []
            for fl in schema.fields:
                col = None if _is_partition(fl) else decoded.get(fl.name.lower())
                if col is None:  # a partition column, or one `merge` fills
                    t = _spark_to_arrow_type(fl.dataType)
                    v = raw.get(fl.name) if _is_partition(fl) else None
                    col = (
                        pa.nulls(n, t)
                        if v is None
                        else pa.repeat(
                            pa.scalar(_cast_partition_value(v, fl.dataType), t), n
                        )
                    )
                elif pa.types.is_timestamp(col.type) and col.type.unit == "ns":
                    col = col.cast(pa.timestamp("us"), safe=False)
                cols.append(col)
            yield from pa.table(cols, names=names).to_batches()


def write_empty(out_path: str, schema: StructType, **opts) -> None:
    """Write a zero-row DWRF file carrying the Spark schema `schema`."""
    import pyarrow as pa

    from ..format.writer import DwrfWriter as FileWriter, _normalize_schema

    arrow_schema = pa.schema(
        [pa.field(f.name, _spark_to_arrow_type(f.dataType)) for f in schema.fields]
    )
    FileWriter(out_path, _normalize_schema(arrow_schema), **opts).close()


@dataclass
class _WriteResult(WriterCommitMessage):
    files: list  # (path, rows) of each data file the task wrote


def _written(messages) -> list[tuple[str, int]]:
    """(path, rows) of every data file the tasks of `messages` wrote."""
    return [f for m in messages if m is not None for f in m.files]


def _norm(p: str) -> str:
    """A task's literal out_path as commits compare it: local paths
    normalize through abspath, URIs stay verbatim."""
    from ..format.fs import path_scheme

    return p if path_scheme(p) else os.path.abspath(p)


class DwrfReader(DataSourceReader):
    def __init__(self, schema: StructType, options):
        self.path = _source_path(options)
        self.schema = schema
        self._merge = _flag(options, "mergeSchema")
        # split planning knobs (0 = derive Spark-style from total bytes)
        self._max_split = int(options.get("maxSplitBytes", 0) or 0)
        self._target_parallelism = int(options.get("targetParallelism", 0) or 0)
        # opt-in read-time CRC scrub (reader.py::_verify_stripe_on_read):
        # option("verifyOnRead","true"), or SPARK_GRAFT_VERIFY_ON_READ=1
        # for blanket enablement (set before the JVM starts, like every
        # worker env knob). Zero tax when off or no checksums recorded.
        self._verify = _flag(
            options,
            "verifyOnRead",
            os.environ.get("SPARK_GRAFT_VERIFY_ON_READ", ""),
        )
        # exactly-once reads over sink/batch output: scan only files the
        # directory's commit manifest records (see committed_files)
        self._committed_only = _flag(options, "committedOnly")
        # the driver's fs-scheme routing env travels INSIDE the pickled
        # reader so executor-side read() resolves the same filesystems
        # (workers' os.environ froze at JVM start — see fs.get_fs)
        from ..format.fs import fs_env_overlay

        self._fs_env = fs_env_overlay()
        self._filters: list[tuple] = []
        # partition columns are those in the (possibly pruned) schema that
        # come from hive-style key=value directories, not from file data
        self._part_fields = {
            f.name: f.dataType for f in schema.fields if _is_partition(f)
        }

    def pushFilters(self, filters):
        for f in filters:
            conv = _convert_filter(f)
            if conv is not None:
                self._filters.append(conv)
            # report everything unsupported: Spark re-applies all predicates;
            # our pruning is IO-level only, never semantic
            yield f

    def _partition_pruned(self, part_values: tuple) -> bool:
        """True if pushed filters disprove this hive-partition (O4)."""
        vals = {
            k: _cast_partition_value(v, self._part_fields[k])
            for k, v in part_values
            if k in self._part_fields
        }
        for name, op, value in self._filters:
            if name in vals and not _value_matches(vals[name], op, value):
                return True
        return False

    def partitions(self):
        # pass 0: directory pruning needs no footer at all
        survivors = [
            path
            for path in _scan_files(self.path, self._committed_only)
            if not (
                self._part_fields
                and self._filters
                and self._partition_pruned(_partition_values(self.path, path))
            )
        ]
        # pass 1: footer summaries (cache-first, thread-pool parsed) for
        # footer-stats pruning + stripe sizes
        plans = file_plans(survivors)
        files = [
            (path, None)
            for path in survivors
            if not self._filters or _plan_may_match(plans[path], self._filters)
        ]
        # pass 2: bin-pack CONSECUTIVE stripes of each file into splits;
        # Spark requires >=1 partition, so an empty scan gets a sentinel
        return _plan_splits(
            self.path, files, plans, self._max_split, self._target_parallelism
        ) or [_StripePartition(path="")]

    def read(self, partition: _StripePartition):
        if self._fs_env:
            os.environ.update(self._fs_env)
        yield from read_split(
            partition,
            self.schema,
            self._filters or None,
            self._merge,
            self._verify,
        )


class DwrfWriter(DataSourceArrowWriter):
    def __init__(self, schema: StructType, options, overwrite: bool):
        # INSERT INTO / CTAS hand the warehouse location as a file: URI
        self.path = strip_file_uri(options.get("path"))
        if not self.path:
            raise ValueError("dwrf writer requires a path")
        self.options = dict(options)
        self.overwrite = overwrite
        self.schema = schema
        # same executor-side fs routing as DwrfReader (see there)
        from ..format.fs import fs_env_overlay

        self._fs_env = fs_env_overlay()

    def _writer_opts(self) -> dict:
        opts = {}
        if "compression" in self.options:
            opts["compression"] = self.options["compression"]
        if "stripe_rows" in self.options:
            opts["stripe_rows"] = int(self.options["stripe_rows"])
        if "row_index_stride" in self.options:
            opts["row_index_stride"] = int(self.options["row_index_stride"])
        if "stride_dictionaries" in self.options:
            opts["stride_dictionaries"] = _flag(self.options, "stride_dictionaries")
        if "checksums" in self.options:
            opts["checksums"] = _flag(self.options, "checksums")
        if "union_columns" in self.options:
            # comma-separated struct<tag,field0,...> columns to store as
            # DWRF UNION nodes (the tagged-struct surrogate — DWRF UNION
            # has no Spark/Arrow analog; format/writer.py::_encode_union)
            opts["union_columns"] = {
                c for c in self.options["union_columns"].split(",") if c
            }
        return opts

    def write(self, iterator):
        from ..format.writer import DwrfWriter as FileWriter, _normalize_schema

        if self._fs_env:
            os.environ.update(self._fs_env)
        part_by = [
            c for c in self.options.get("partition_by", "").split(",") if c
        ]
        if part_by:
            return self._write_partitioned(iterator, part_by)

        from ..format.fs import get_fs, join_path

        get_fs(self.path).makedirs(self.path)
        filename = f"part-{uuid.uuid4().hex[:16]}.dwrf"
        out_path = join_path(self.path, filename)
        opts = self._writer_opts()
        rows = 0
        writer = None
        for batch in iterator:
            if writer is None:
                schema = _normalize_schema(batch.schema)
                writer = FileWriter(out_path, schema, **opts)
            writer.write_batch(batch)
            rows += batch.num_rows
        if writer is None:  # empty task: a zero-row file for the schema
            write_empty(out_path, self.schema, **opts)
        else:
            writer.close()
        return _WriteResult(files=[(out_path, rows)])

    def _write_partitioned(self, iterator, part_by: list[str]):
        """Hive-style partitioned write: {path}/k1=v1/k2=v2/part-*.dwrf.

        Each task keeps one open writer per partition combination it sees —
        the same layout Spark's builtin sinks produce with partitionBy(), so
        the reader (and any hive-aware engine) gets directory pruning. At
        100 TB callers should repartition by the partition columns first so
        each task writes few combinations."""
        import pyarrow as pa

        from ..format.writer import DwrfWriter as FileWriter, _normalize_schema

        opts = self._writer_opts()
        task_id = uuid.uuid4().hex[:16]
        writers: dict[tuple, FileWriter] = {}
        paths: dict[tuple, str] = {}
        rows: dict[tuple, int] = {}
        for batch in iterator:
            table = pa.Table.from_batches([batch])
            missing = [c for c in part_by if c not in table.column_names]
            if missing:
                raise ValueError(f"partition_by columns not in data: {missing}")
            # group rows by partition-value combination
            combos = table.select(part_by).to_pylist()
            keys = [tuple(str(r[c]) for c in part_by) for r in combos]
            uniq: dict[tuple, list[int]] = {}
            for i, k in enumerate(keys):
                uniq.setdefault(k, []).append(i)
            data_table = table.drop_columns(part_by)
            for key, idxs in uniq.items():
                sub = data_table.take(pa.array(idxs, type=pa.int64()))
                w = writers.get(key)
                if w is None:
                    from ..format.fs import get_fs, join_path

                    d = join_path(
                        self.path, *[f"{c}={v}" for c, v in zip(part_by, key)]
                    )
                    get_fs(d).makedirs(d)
                    out_path = join_path(d, f"part-{task_id}.dwrf")
                    w = FileWriter(
                        out_path, _normalize_schema(sub.schema), **opts
                    )
                    writers[key] = w
                    paths[key] = out_path
                w.write_table(sub)
                rows[key] = rows.get(key, 0) + sub.num_rows
        for w in writers.values():
            w.close()
        return _WriteResult(files=[(paths[k], rows[k]) for k in paths])

    def commit(self, messages):
        from ..format.fs import get_fs, join_path, rel_subpath

        if self._fs_env:  # commit also runs in a Python worker
            os.environ.update(self._fs_env)
        fs = get_fs(self.path)
        written = _written(messages)
        if self.overwrite:
            keep = {_norm(p) for p, _ in written}
            for fp in data_files(self.path):
                if _norm(fp) not in keep:
                    fs.remove(fp)
        fs.makedirs(self.path)
        with fs.open(join_path(self.path, "_SUCCESS"), "w") as f:
            for p, rows in written:
                f.write(f"{rel_subpath(_norm(p), _norm(self.path))}\t{rows}\n")

    def abort(self, messages):
        from ..format.fs import get_fs

        if self._fs_env:
            os.environ.update(self._fs_env)
        for p, _ in _written(messages):
            get_fs(p).remove(p)


class DwrfStreamWriter(DwrfWriter, DataSourceStreamArrowWriter):
    """Streaming DWRF sink: df.writeStream.format("dwrf").

    Each microbatch task writes one part-<uuid>.dwrf via the batch write
    path (inherited); only commit/abort differ — a streaming sink appends,
    so commit must never garbage-collect the directory the way the batch
    overwrite commit does. Committed batches are recorded in a _batches
    log (begin/end-marked groups of file lines — see committed_files),
    periodically compacted in place to live files (compact_manifest); the
    DWRF *stream reader*'s name-set offsets make a dwrf-dir -> transform
    -> dwrf-dir pipeline pick each part file up exactly once. Spark's own
    checkpointing dedups re-run batches at the source side; a re-written
    batch after a crash lands as new uuid files — at-least-once on disk,
    upgraded to exactly-once by committedOnly reads over the log (the
    _spark_metadata discipline re-expressed for DWRF dirs)."""

    def commit(self, messages, batchId: int) -> None:
        from ..format.fs import get_fs, join_path, rel_subpath

        if self._fs_env:
            os.environ.update(self._fs_env)
        fs = get_fs(self.path)
        fs.makedirs(self.path)
        with fs.open(join_path(self.path, "_batches"), "a") as f:
            # begin/end markers: committedOnly reads accept only complete,
            # first-seen groups (committed_files). '#end' makes a torn
            # append (crash mid-commit) not count and a retried batch's
            # second commit lose keep-first; '#begin' resets the parser's
            # accumulating group so a torn append followed by a retry of
            # the SAME batchId cannot merge the torn attempt's files into
            # the retry's accepted group (read-time double count).
            f.write(f"#begin\t{batchId}\n")
            for p, rows in _written(messages):
                f.write(
                    f"{batchId}\t{rel_subpath(_norm(p), _norm(self.path))}"
                    f"\t{rows}\n"
                )
            f.write(f"#end\t{batchId}\n")
        # periodic in-place log compaction (compact_manifest): every
        # interval-th batch, same cadence rule as Spark's file-sink
        # metadata log (batchId % interval == interval - 1). Keeps
        # committedOnly listing cost proportional to LIVE files on
        # unbounded streams. 0 disables.
        interval = int(self.options.get("manifestCompactInterval", 10) or 0)
        if interval > 0 and batchId % interval == interval - 1:
            # force: THIS is the live writer — Spark serializes batches,
            # so inside commit() the quiesce guard's race cannot exist
            compact_manifest(self.path, force=True)

    def abort(self, messages, batchId: int) -> None:
        super().abort(messages)


class DwrfDataSource(DataSource):
    """spark.read.format("dwrf") / df.write.format("dwrf")."""

    @classmethod
    def name(cls) -> str:
        return "dwrf"

    def schema(self):
        return scan_schema(
            _source_path(self.options),
            columns=self.options.get("columns"),
            merge=_flag(self.options, "mergeSchema"),
            committed_only=_flag(self.options, "committedOnly"),
        )

    def reader(self, schema: StructType) -> DwrfReader:
        return DwrfReader(schema, self.options)

    def writer(self, schema: StructType, overwrite: bool) -> DwrfWriter:
        return DwrfWriter(schema, self.options, overwrite)

    def streamWriter(
        self, schema: StructType, overwrite: bool
    ) -> DwrfStreamWriter:
        return DwrfStreamWriter(schema, self.options, overwrite)


def register(spark) -> None:
    """Register the dwrf format with a SparkSession (idempotent)."""
    spark.dataSource.register(DwrfDataSource)
