"""Structured Streaming over DWRF directories.

The reference is a batch format (SURVEY.md §2.B: no streaming), but its
Hive deployments tail partition directories; the Spark-native equivalent is
a file-discovery stream: each micro-batch picks up newly arrived .dwrf
files. The offset is the SET of processed file names (not a positional
index into the sorted listing): writers emit part-<uuid> names, so a new
file may sort anywhere in the listing, and an index offset would both skip
it and re-emit already-read files. Each batch = listing minus processed
names; restarts resume from the checkpointed name set exactly.

The stream keeps only that offset policy: the offset algebra (name sets,
delta offsets against base catalogs), the retirement watermark and late
files, the admission caps, and compact_sink lineage coverage. The scan
itself is the batch source's (sources/dwrf_datasource.py): its listing
(with committedOnly), its schema inference, its split packing (one
InputPartition per run of stripes, as OrcInputFormat.java:165-181 plans
splits) and its executor-side split read. So rows decode on EXECUTORS as
Arrow batches and never pass through the driver, and a stream and a
batch read of one directory give the same schema and rows. Checkpoints
written by the former driver-side reader ({"processed": [names]}) still
resume.

Offsets stay BOUNDED on unbounded streams: each file is tracked with its
mtime, and names older than ``maxFileAgeSec`` (default 7 days, Spark's
own FileStreamSource default) relative to the newest file are retired
from the offset — the directory-watermark compaction documented in
SCALE.md "Streaming". The matching contract (same as Spark's file
source): a file must become visible within maxFileAgeSec of the newest
file's mtime, or it is treated as already processed. Restarts from a
checkpoint remain exact for every non-retired name; ``partitions(start,
end)`` additionally refuses mtimes below the start watermark, so a
regressed listing can never re-emit a retired file.

Offsets also stay SMALL on wide directories (round 12): past
``offsetDeltaThreshold`` live names (default 4096) the planner persists
the catalog ONCE as a compacted base file under ``offsetBaseDir``
(default ``<path>/_dwrf_offsets``, atomic tmp+replace, newest 8 kept)
and each trigger's offset is ``{base_ref, adds, removes, late_adds,
late_removes, watermark_ns}`` — a delta whose size tracks the ARRIVAL
RATE, not the live-name count. The base rewrites only when the delta
outgrows max(64, len(base)/100) names, so a 100k-name firehose pays a
few-KB offset per trigger instead of the measured 4.1 MB full catalog
(STRESS `_offset_catalog_100k`, round 11). Every consumer of an offset
(partitions on restart) resolves base+delta back to the full catalog;
all historical offset shapes still normalize. Reference analogy: readers carry a position
into the footer's consolidated stripe directory, never the directory
itself (ReaderImpl.java:204-260).
"""

from __future__ import annotations

import logging
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.datasource import DataSource, DataSourceStreamReader
from pyspark.sql.types import StructType


def _uncovered_stripes(name: str, lineage: dict, accounted) -> list[int] | None:
    """Stripe indices of merged file `name` (a compact_sink output) whose
    source data the consumer has NOT already ingested, resolved through
    the manifest's ``#src`` lineage — recursively, so a name compacted
    across several generations still maps onto offsets that only ever saw
    the leaves. Returns None when `name` has no lineage (an ordinary part
    file; the caller treats it as all-new). ``accounted(src, mtime_ns)``
    answers from the consumer's offset (processed/late/retired-below-
    watermark). Stripe spans compose because merge_files copies source
    stripes verbatim in order: source stripe k lands at merged index
    lo + k."""
    spans = lineage.get(name)
    if spans is None:
        return None
    out: list[int] = []
    for src, lo, hi, mt in spans:
        if accounted(src, mt):
            continue
        sub = _uncovered_stripes(src, lineage, accounted)
        if sub is None:
            out.extend(range(lo, hi))
        else:
            out.extend(lo + k for k in sub)
    return sorted(out)


def _lineage_stripe_count(lineage: dict, name: str) -> int:
    return max(hi for _src, _lo, hi, _mt in lineage[name])


def _offset_base_dir(options) -> str:
    from hive_dwrf_spark.format.fs import join_path, strip_file_uri

    d = options.get("offsetBaseDir")
    if d:
        return strip_file_uri(str(d))
    return join_path(strip_file_uri(options.get("path", "")), "_dwrf_offsets")


#: resolved base catalogs keyed by (dir, ref) — offsets reference a base
#: many triggers in a row, and partitions() resolves the same ref for both
#: its start and end offsets; tiny (each entry is one dict)
_BASE_CACHE: dict[tuple, tuple[dict, dict]] = {}
_BASE_CACHE_MAX = 8


def _load_base_catalog(offset: dict, default_dir: str) -> tuple[dict, dict]:
    """(files, late) of the base catalog a delta-form offset references.
    Tries the reader's own base dir first (derived from options, so the
    checkpoint stays valid if the directory tree moved), then the dir
    recorded in the offset. A missing base is a hard, explained error:
    only a checkpoint rolled back further than the retained generations
    (newest 8) can hit it."""
    import json

    from hive_dwrf_spark.format.fs import get_fs, join_path

    ref = offset["base_ref"]
    dirs = [d for d in (default_dir, offset.get("base_dir")) if d]
    for d in dirs:
        key = (d, ref)
        hit = _BASE_CACHE.get(key)
        if hit is not None:
            return hit
    last_err = None
    for d in dirs:
        fp = join_path(d, ref)
        try:
            fs = get_fs(fp)
            if not fs.exists(fp):
                continue
            with fs.open(fp, "r") as f:
                doc = json.load(f)
            out = (dict(doc.get("files", {})), dict(doc.get("late", {})))
            if len(_BASE_CACHE) >= _BASE_CACHE_MAX:
                _BASE_CACHE.pop(next(iter(_BASE_CACHE)))
            _BASE_CACHE[(d, ref)] = out
            return out
        except (OSError, ValueError) as e:
            last_err = e
    raise ValueError(
        f"stream offset references base catalog {ref!r}, not found under "
        f"{dirs} ({last_err!r}). The base-retention window keeps the "
        "newest 8 generations; a checkpoint rolled back past that (or a "
        "deleted offsetBaseDir) cannot resolve. Restart with a fresh "
        "checkpoint, or restore the base file."
    )


class _DwrfPartitionStreamReader(DataSourceStreamReader):
    """Partition-planning stream reader (module docstring).

    Lifecycle facts this design leans on (pyspark 4.1, verified against
    python_streaming_source_runner + plan_data_source_read):
    - initialOffset/latestOffset/partitions run in ONE long-lived
      driver-side planner process; read(partition) runs on EXECUTORS,
      where the reader is RECONSTRUCTED from the DataSource (so __init__
      must stay cheap and pickle-safe, and executor fs routing follows
      the frozen-at-JVM-start env contract, same as the batch source).
    - latestOffset gets no start offset, so the offset is self-
      describing: the full catalog of live (name -> mtime_ns) plus the
      retirement watermark — never a delta. partitions(start, end)
      derives each micro-batch as end minus start.
    """

    def __init__(self, schema: StructType, options):
        DwrfStreamDataSource._bootstrap()
        from hive_dwrf_spark.sources.dwrf_datasource import _flag, _source_path

        self.path = _source_path(options)
        self.schema = schema
        self.max_age_ns = int(
            float(options.get("maxFileAgeSec", 7 * 24 * 3600)) * 1e9
        )
        self.max_files = int(options.get("maxFilesPerTrigger", 0) or 0)
        # byte-based admission cap: files vary 1000x in size, so a count
        # cap is a weak rate limiter for a training-ingest pipeline; the
        # byte cap bounds per-trigger scan work directly (file sizes come
        # from the same stat the mtime clock already pays for)
        self.max_bytes = int(options.get("maxBytesPerTrigger", 0) or 0)
        # admit files whose mtime is BELOW the watermark (a backfill into
        # an old directory) instead of dropping them. Trade-off: the
        # offset then tracks every on-disk below-watermark name in a
        # "late" registry (entries leave when the file does), so offset
        # size follows directory retention rather than maxFileAgeSec.
        self.allow_late = _flag(options, "allowLateFiles")
        self.committed_only = _flag(options, "committedOnly")
        # delta offsets (module docstring): past this many live+late
        # names the catalog persists as a base file and offsets become
        # deltas; 0 disables (always-inline, the pre-round-12 shape)
        self._delta_threshold = int(
            options.get("offsetDeltaThreshold", 4096) or 0
        )
        self._base_dir = _offset_base_dir(options)
        #: (ref, files, late) of the base the next delta diffs against;
        #: None until the first base write (or after a restart — the
        #: first emit past the threshold writes a fresh generation)
        self._base: tuple | None = None
        self._base_seq: int | None = None
        self._warned_base_dir = False
        # last end offset this planner instance returned, ALWAYS in the
        # resolved inline form — rate-limit anchor only (correctness
        # never depends on it; a fresh instance resuming a checkpoint
        # plans one uncapped catch-up batch, which must be a SUPERSET of
        # the checkpointed offset — capping it would drop processed
        # names from the offset and replay them)
        self._last: dict | None = None
        # late-arrival observability: total names refused by the
        # watermark rule (allowLateFiles off) and the set already
        # counted/logged, so a backfilled file logs once, not per trigger
        self.late_files_dropped = 0
        self._late_logged: set[str] = set()
        self._warned_no_size = False
        # names this planner RETIRED (aged out of the offset) that are
        # still on disk: they re-surface as 'unseen below-watermark'
        # every trigger, and without this set the late-refusal counter
        # would recount already-ingested data as loss. Pruned to the
        # live listing each trigger, so it tracks on-disk retirees, not
        # names-ever.
        self._retired: set[str] = set()

    # -- offset algebra ----------------------------------------------------

    @staticmethod
    def _norm(offset: dict) -> tuple[dict, int, dict]:
        """(files, watermark_ns, late) from any historical offset shape:
        the planner form {"files": {...}, "watermark_ns": W, "late":
        {...}}, the {"processed": [names]} form of checkpoints written by
        the former driver-side reader, or the pre-fix {"file_index": N} —
        mapped to empty, so those files replay ONCE on upgrade and the
        name-set offset is exact from there on."""
        if "files" in offset:
            return (
                dict(offset["files"]),
                int(offset.get("watermark_ns", 0)),
                dict(offset.get("late", {})),
            )
        if "processed" in offset:
            return {n: 0 for n in offset["processed"]}, 0, {}
        return {}, 0, {}

    def _resolve(self, offset: dict) -> tuple[dict, int, dict]:
        """_norm plus the round-12 delta form {base_ref, adds, removes,
        late_adds, late_removes, watermark_ns}, resolved against the
        persisted base catalog."""
        if "base_ref" not in offset:
            return self._norm(offset)
        bfiles, blate = _load_base_catalog(offset, self._base_dir)
        files = dict(bfiles)
        files.update(offset.get("adds", {}))
        for k in offset.get("removes", ()):
            files.pop(k, None)
        late = dict(blate)
        late.update(offset.get("late_adds", {}))
        for k in offset.get("late_removes", ()):
            late.pop(k, None)
        return files, int(offset.get("watermark_ns", 0)), late

    def _listing(self) -> dict:
        """{rel_name: (mtime_ns, size_bytes)} of the current directory
        state — one stat per file covers both the age clock and the
        byte-cap admission weights."""
        from hive_dwrf_spark.format.fs import get_fs, rel_subpath
        from hive_dwrf_spark.sources.dwrf_datasource import _scan_files

        out = {}
        for p in _scan_files(self.path, self.committed_only):
            try:
                fs = get_fs(p)
                size, mtime = 0, 0
                if hasattr(fs, "stat_key"):
                    key = fs.stat_key(p)
                    size, mtime = int(key[0]), int(key[-1])
                else:
                    mtime = _mtime_ns(p)
                    # a seam with only mtime_ns would otherwise report
                    # size 0 and silently turn maxBytesPerTrigger into a
                    # no-op (spent + 0 never exceeds the cap); fs.size is
                    # part of the seam (compact_sink relies on it)
                    if self.max_bytes and hasattr(fs, "size"):
                        size = int(fs.size(p))
                    elif self.max_bytes and not self._warned_no_size:
                        self._warned_no_size = True
                        logging.getLogger(__name__).warning(
                            "dwrf_stream %s: filesystem for %s exposes "
                            "neither stat_key nor size — "
                            "maxBytesPerTrigger is inactive",
                            self.path,
                            p,
                        )
                out[rel_subpath(p, self.path)] = (mtime, size)
            except (FileNotFoundError, OSError):
                # vanished between list and stat (compaction/retention
                # deleting behind the stream) — as if never listed
                continue
        return out

    def initialOffset(self) -> dict:
        # a NEW query (no checkpoint) starts from the empty offset.
        # NEVER clobber an existing anchor: the engine calls
        # latestOffset BEFORE initialOffset on a new query (verified
        # against python_streaming_source_runner), so by the time this
        # runs the first uncapped latestOffset may already have admitted
        # the whole catalog — resetting self._last to empty here made
        # every later capped trigger re-admit already-ingested names
        # oldest-first, and the emitted offsets stopped being supersets
        # of the checkpoint (observed as duplicated rows whenever a
        # backdated backfill sorted below the seed files; round-12 fix,
        # latent since the rate limiter landed). When latestOffset has
        # not run yet, anchoring on empty still lets the caps bound the
        # very first catch-up batch. (On a RESTART Spark never calls
        # this, self._last stays None, and the first latestOffset
        # returns an uncapped superset — see __init__.)
        if self._last is None:
            self._last = {"files": {}, "watermark_ns": 0}
        return {"files": {}, "watermark_ns": 0}

    def _cap_admission(self, fresh: list[tuple]) -> list[tuple]:
        """Apply maxFilesPerTrigger/maxBytesPerTrigger to the
        mtime-ordered (mtime, name, size) candidates: admission stops at
        whichever budget runs out first, but always takes at least one
        file (a single file above maxBytes must still flow)."""
        if not (self.max_files or self.max_bytes):
            return fresh
        out: list[tuple] = []
        spent = 0
        for cand in fresh:
            if out:
                if self.max_files and len(out) >= self.max_files:
                    break
                if self.max_bytes and spent + cand[2] > self.max_bytes:
                    break
            out.append(cand)
            spent += cand[2]
        return out

    def _lineage(self) -> dict:
        """The tailed directory's merged-file lineage (compact_sink
        ``#src`` records) — only meaningful under committedOnly (lineage
        lives in the sink manifest the committed listing already reads)."""
        if not self.committed_only:
            return {}
        from hive_dwrf_spark.sources.dwrf_datasource import manifest_lineage

        return manifest_lineage(self.path)

    def latestOffset(self) -> dict:
        listed = self._listing()
        # on-disk retirees only (names deleted since last trigger leave)
        self._retired.intersection_update(listed)
        prev_files, prev_wm, prev_late = (
            self._norm(self._last) if self._last else ({}, 0, {})
        )
        unseen = {
            n: ms
            for n, ms in listed.items()
            if n not in prev_files and n not in prev_late
        }
        # compact_sink outputs whose sources this planner already
        # admitted are ZERO new work: absorb them into the offset
        # directly, bypassing the admission caps — otherwise a compaction
        # behind the tail would spend trigger budget re-admitting data
        # the offset already covers. (Emission-side coverage is decided
        # in partitions() against the TRUE start offset — after a restart
        # the anchor here is empty and absorbed names must still resolve
        # against the checkpoint, not this planner instance's memory.)
        absorbed: dict[str, tuple] = {}
        if unseen:
            lineage = self._lineage()
            if lineage:

                def _acct(src: str, mt: int) -> bool:
                    return (
                        src in prev_files
                        or src in prev_late
                        or bool(prev_wm and mt and mt < prev_wm)
                    )

                for n in [x for x in unseen if x in lineage]:
                    if not _uncovered_stripes(n, lineage, _acct):
                        absorbed[n] = unseen.pop(n)
        # candidates: unseen names at/above the previous watermark,
        # oldest first. Below-watermark names MUST be excluded before the
        # per-trigger cap: they are retired (already processed) or late,
        # and letting them occupy cap slots only to be watermark-filtered
        # afterwards starves admission permanently (the offset never
        # advances while retired files remain on disk).
        fresh = sorted(
            (m, n, sz) for n, (m, sz) in unseen.items() if m >= prev_wm
        )
        late = {n: ms for n, ms in unseen.items() if ms[0] < prev_wm}
        if self.allow_late:
            # backfilled names are admitted oldest-first ahead of fresh
            # ones (they have waited longest) under the same caps
            fresh = sorted(
                (m, n, sz) for n, (m, sz) in unseen.items()
            )
        elif late:
            # names THIS planner retired while they sat on disk are not
            # data loss — they were ingested before aging out — so they
            # never enter the refusal counter or the warning
            new_late = [
                n
                for n in late
                if n not in self._late_logged and n not in self._retired
            ]
            if new_late:
                self.late_files_dropped += len(new_late)
                self._late_logged.update(new_late)
                logging.getLogger(__name__).warning(
                    "dwrf_stream %s: %d file(s) below the retirement "
                    "watermark refused (total %d); set allowLateFiles="
                    "true to admit backfills, or raise maxFileAgeSec: %s",
                    self.path,
                    len(new_late),
                    self.late_files_dropped,
                    ", ".join(sorted(new_late)[:5]),
                )
        if self._last is not None:
            fresh = self._cap_admission(fresh)
        admitted = dict(prev_files)
        admitted.update({n: m for m, n, _sz in fresh})
        admitted.update({n: ms[0] for n, ms in absorbed.items()})
        # directory watermark: newest ADMITTED mtime minus the age
        # allowance; monotonic, so a deleted newest file can't regress it
        newest = max(admitted.values(), default=0)
        wm = max(prev_wm, newest - self.max_age_ns, 0)
        # retirement: names at/below the watermark leave the offset —
        # the name set tracks the files inside the age window, not
        # files-ever-seen (bounded offsets on unbounded streams)
        live = {n: m for n, m in sorted(admitted.items()) if m >= wm}
        if not self.allow_late:
            # remember retirees still on disk (late-counter correction)
            self._retired.update(
                n for n, m in admitted.items() if m < wm and n in listed
            )
        end = {"files": live, "watermark_ns": wm}
        if self.allow_late:
            # the late registry carries every accounted-for below-
            # watermark name still on disk: admitted backfills land here
            # (their mtime is below wm, so "files" would retire them
            # before partitions() ever planned them) and retired names
            # move here instead of vanishing (a vanished retiree would
            # re-qualify as an unseen backfill next trigger and replay)
            reg = {
                n: m for n, m in prev_late.items() if n in listed
            }
            reg.update(
                {n: m for n, m in admitted.items() if m < wm}
            )
            if reg:
                end["late"] = dict(sorted(reg.items()))
        self._last = end
        return self._emit_offset(end)

    # -- delta-offset emission (module docstring "Offsets also stay
    # SMALL") ---------------------------------------------------------------

    def _emit_offset(self, end: dict) -> dict:
        """The offset Spark checkpoints: inline below the threshold,
        otherwise a delta against the persisted base catalog — offset
        bytes then track the arrival rate, not the live-name count."""
        files = end["files"]
        late = end.get("late", {})
        if (
            not self._delta_threshold
            or len(files) + len(late) <= self._delta_threshold
        ):
            return end
        if self._base is not None:
            ref, bfiles, blate = self._base
            adds = {k: v for k, v in files.items() if bfiles.get(k) != v}
            removes = sorted(k for k in bfiles if k not in files)
            ladds = {k: v for k, v in late.items() if blate.get(k) != v}
            lremoves = sorted(k for k in blate if k not in late)
            n_delta = len(adds) + len(removes) + len(ladds) + len(lremoves)
            # rewrite the base only when the delta outgrows ~1% of it:
            # amortizes one full-catalog write over ~100 triggers while
            # keeping steady-state offsets a few KB
            if n_delta <= max(64, len(bfiles) // 100):
                out = {
                    "base_ref": ref,
                    "base_dir": self._base_dir,
                    "watermark_ns": end["watermark_ns"],
                }
                if adds:
                    out["adds"] = adds
                if removes:
                    out["removes"] = removes
                if ladds:
                    out["late_adds"] = ladds
                if lremoves:
                    out["late_removes"] = lremoves
                return out
        ref = self._write_base(files, late)
        if ref is None:  # base dir unwritable: stay inline (warned once)
            return end
        return {
            "base_ref": ref,
            "base_dir": self._base_dir,
            "watermark_ns": end["watermark_ns"],
        }

    def _write_base(self, files: dict, late: dict) -> str | None:
        """Persist a new base-catalog generation atomically (tmp +
        replace) and GC to the newest 8 — enough for any offset Spark's
        own log retention can replay, since the base only rewrites every
        ~100 triggers. Returns the ref (filename), or None when the base
        dir is unwritable (offsets then stay inline)."""
        import json
        import uuid

        from hive_dwrf_spark.format.fs import get_fs, join_path

        d = self._base_dir
        try:
            fs = get_fs(d)
            fs.makedirs(d)
            if self._base_seq is None:
                seqs = []
                for p in fs.list_files(d, (".json",)):
                    name = p.rsplit("/", 1)[-1]
                    if name.startswith("base-"):
                        try:
                            seqs.append(int(name.split("-")[1]))
                        except (IndexError, ValueError):
                            pass
                self._base_seq = max(seqs, default=0)
            self._base_seq += 1
            ref = f"base-{self._base_seq:08d}-{uuid.uuid4().hex[:8]}.json"
            body = json.dumps({"files": files, "late": late})
            fp = join_path(d, ref)
            if hasattr(fs, "replace"):
                tmp = join_path(d, f"{ref}.{uuid.uuid4().hex[:8]}.tmp")
                with fs.open(tmp, "w") as f:
                    f.write(body)
                fs.replace(tmp, fp)
            else:  # object stores: whole-object PUT is the atom
                with fs.open(fp, "w") as f:
                    f.write(body)
            bases = sorted(
                p
                for p in fs.list_files(d, (".json",))
                if p.rsplit("/", 1)[-1].startswith("base-")
            )
            for old in bases[:-8]:
                fs.remove(old)
        except OSError as e:
            if not self._warned_base_dir:
                self._warned_base_dir = True
                logging.getLogger(__name__).warning(
                    "dwrf_stream %s: offset base dir %s unwritable (%s) "
                    "— falling back to inline full-catalog offsets",
                    self.path,
                    d,
                    e,
                )
            return None
        self._base = (ref, dict(files), dict(late))
        return ref

    def partitions(self, start: dict, end: dict):
        DwrfStreamDataSource._bootstrap()
        from hive_dwrf_spark.format.fs import join_path
        from hive_dwrf_spark.format.plans import file_plans
        from hive_dwrf_spark.sources.dwrf_datasource import _plan_splits

        start_files, start_wm, start_late = self._resolve(start)
        end_files, _, end_late = self._resolve(end)
        # a name below the START watermark was either processed-and-
        # retired or arrived too late — either way it must not replay.
        # Admitted backfills travel in the late registry instead (new
        # entries there are exactly this batch's admitted late files).
        fresh = sorted(
            {
                n
                for n, m in end_files.items()
                if n not in start_files and m >= start_wm
            }
            | {
                n
                for n in end_late
                if n not in start_late and n not in start_files
            }
        )
        if not fresh:
            return []
        # merged-lineage resolution AGAINST THE TRUE START (committedOnly
        # sink tails): a compact_sink output whose sources the start
        # offset already covers plans NOTHING; one it covers partially
        # plans only the uncovered sources' stripe spans. Decided here —
        # not at admission — because after a restart the checkpointed
        # start, not this planner instance's memory, says what was
        # processed. Deterministic across a replay of the same range as
        # long as the lineage records survive (compact_manifest and
        # compact_sink both carry reachable #src lines forward).
        partial: dict[str, list[int]] = {}
        lineage = self._lineage() if fresh else {}
        if lineage:

            def _acct(src: str, mt: int) -> bool:
                return (
                    src in start_files
                    or src in start_late
                    or bool(start_wm and mt and mt < start_wm)
                )

            kept: list[str] = []
            for n in fresh:
                unc = _uncovered_stripes(n, lineage, _acct)
                if unc is None:
                    kept.append(n)
                    continue
                if not unc:
                    continue  # fully covered: absorb without emission
                if len(unc) < _lineage_stripe_count(lineage, n):
                    partial[n] = unc
                kept.append(n)
            fresh = kept
            if not fresh:
                return []
        paths = [join_path(self.path, n) for n in fresh]
        return _plan_splits(
            self.path,
            [(fp, partial.get(n)) for fp, n in zip(paths, fresh)],
            file_plans(paths),
        )

    def read(self, partition):
        """Executor-side: the batch source's split read (read_split)."""
        DwrfStreamDataSource._bootstrap()
        from hive_dwrf_spark.sources.dwrf_datasource import read_split

        return read_split(partition, self.schema)


def _mtime_ns(path: str) -> int:
    from hive_dwrf_spark.format.fs import get_fs

    fs = get_fs(path)
    if hasattr(fs, "mtime_ns"):
        return fs.mtime_ns(path)
    return int(fs.stat_key(path)[-1])


class DwrfStreamDataSource(DataSource):
    """spark.readStream.format("dwrf_stream").option("path", dir).

    Spark's streaming-source planner runs this class in a separate
    driver-side Python process that does NOT receive the session's pyFiles
    (unlike executor workers and the batch planner), so the class is
    registered pickled BY VALUE (stream_dwrf_dir below). Every import of
    the package (the format core, and the batch source whose schema and
    scan this source uses) therefore sits inside a method, after
    _bootstrap(), which falls back to the import roots recorded at
    registration time (package dir + shipped zip — both driver-local
    paths, and this reader is a driver-side component). A module-level
    import of hive_dwrf_spark here would fail in the planner process."""

    #: candidate sys.path roots for importing hive_dwrf_spark in the
    #: planner subprocess; set at registration, pickled with the class
    _import_roots: list[str] = []

    @classmethod
    def _bootstrap(cls) -> None:
        import importlib
        import sys

        try:
            importlib.import_module("hive_dwrf_spark")
            return
        except ModuleNotFoundError:
            pass
        for root in cls._import_roots:
            if root and os.path.exists(root) and root not in sys.path:
                sys.path.insert(0, root)
        importlib.invalidate_caches()
        importlib.import_module("hive_dwrf_spark")

    @classmethod
    def name(cls) -> str:
        return "dwrf_stream"

    def schema(self):
        self._bootstrap()
        from hive_dwrf_spark.sources.dwrf_datasource import (
            _flag,
            _source_path,
            scan_schema,
        )

        return scan_schema(
            _source_path(self.options),
            columns=self.options.get("columns"),
            committed_only=_flag(self.options, "committedOnly"),
        )

    def streamReader(self, schema: StructType):
        return _DwrfPartitionStreamReader(schema, self.options)


def stream_dwrf_dir(spark: SparkSession, path: str, **options) -> DataFrame:
    """Open a DWRF directory as a structured stream.

    Options pass through to the source: ``maxFileAgeSec`` (offset
    retirement window, default 7 days), ``maxFilesPerTrigger`` /
    ``maxBytesPerTrigger``
    (per-batch admission caps — whichever budget runs out first),
    ``allowLateFiles`` (admit backfilled below-watermark files instead
    of refusing them; refusals are counted and logged either way),
    ``committedOnly`` (tail only manifest-committed files; also enables
    compact_sink lineage resolution, so compacting the tailed dir never
    double-ingests), ``columns`` (explicit projection),
    ``offsetDeltaThreshold`` (live names beyond which offsets become
    deltas against a persisted base catalog; default 4096, 0 = always
    inline) and ``offsetBaseDir`` (where base generations live, default
    ``<path>/_dwrf_offsets``; base GC keeps the newest 8 PER DIRECTORY,
    so when several queries tail the same wide directory give each its
    own offsetBaseDir — interleaved generations from two writers would
    otherwise share one retention budget)."""
    import sys

    from pyspark import cloudpickle

    from ..shipping import _package_zip, ensure_shipped

    ensure_shipped(spark)
    pkg_parent = os.path.dirname(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )
    DwrfStreamDataSource._import_roots = [pkg_parent, _package_zip()]
    # by-value pickling: the streaming planner subprocess can't import this
    # module by name (no pyFiles there) — ship the code inside the pickle
    cloudpickle.register_pickle_by_value(sys.modules[__name__])
    spark.dataSource.register(DwrfStreamDataSource)
    reader = spark.readStream.format("dwrf_stream").option("path", path)
    for k, v in options.items():
        reader = reader.option(k, str(v))
    return reader.load()


def windowed_event_counts(
    events: DataFrame,
    ts_col: str = "ts",
    key_col: str = "event_type",
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked tumbling-window counts — the canonical late-data-tolerant
    streaming aggregate (works identically on batch DataFrames)."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window).alias("win"), F.col(key_col))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            F.col("win.start").alias("window_start"),
            key_col,
            "cnt",
        )
    )


def sessionize(
    events: DataFrame,
    ts_col: str = "ts",
    user_col: str = "user_id",
    gap: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Session windows per user with an inactivity gap (state handled by
    Spark's session_window, spilling + watermark eviction built in)."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(F.col(ts_col), gap).alias("sess"), F.col(user_col))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min(ts_col).alias("first_ts"),
            F.max(ts_col).alias("last_ts"),
        )
        .select(
            F.col("sess.start").alias("session_start"),
            F.col("sess.end").alias("session_end"),
            user_col,
            "n_events",
            "first_ts",
            "last_ts",
        )
    )


def stateful_running_counts(
    events: DataFrame, key_col: str = "event_type"
) -> DataFrame:
    """Custom stateful streaming operator via applyInPandasWithState: a
    per-key running event counter whose state survives across micro-batches
    (the arbitrary-state surface Spark offers where built-in windowed aggs
    don't fit; state lives in the state store, one entry per key, so memory
    scales with distinct keys — not with the stream).

    Emits one (key, running_total) row per key per micro-batch that saw the
    key ("update" semantics)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    def update(key, pdfs, state):
        total = state.get[0] if state.exists else 0
        for pdf in pdfs:
            total += len(pdf)
        state.update((total,))
        yield pd.DataFrame({key_col: [key[0]], "running_total": [total]})

    return events.groupBy(key_col).applyInPandasWithState(
        update,
        outputStructType=f"{key_col} string, running_total bigint",
        stateStructType="total bigint",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_dedup(
    events: DataFrame,
    keys: list[str],
    ts_col: str = "ts",
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming exact dedup: keep the first occurrence of each key combo,
    with state bounded by the watermark (dropDuplicatesWithinWatermark —
    a duplicate arriving within the lateness window is dropped; state for
    keys older than the watermark is evicted, so state size tracks the
    window's key cardinality, not the stream's).

    The training-pipeline shape: dedup document/event ids at ingest before
    they reach storage. Works identically on batch frames (plain
    dropDuplicates semantics there)."""
    if events.isStreaming:
        return events.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
            keys
        )
    return events.dropDuplicates(keys)


def stream_stream_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    ts_col: str = "ts",
    lookback: str = "10 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked stream-stream inner join: each left row matches right
    rows with the same key whose timestamp falls in
    [left.ts - lookback, left.ts].

    The time-range condition is what makes this feasible unbounded: Spark
    keeps join state only for rows inside watermark + lookback, so state
    size tracks the window's row rate, not stream length. The same plan
    runs in batch (the watermark is a no-op there)."""
    l = left.withWatermark(ts_col, watermark).alias("l")
    r = right.withWatermark(ts_col, watermark).alias("r")
    cond = (
        (F.col(f"l.{key}") == F.col(f"r.{key}"))
        & (F.col(f"r.{ts_col}") >= F.expr(f"l.{ts_col} - INTERVAL {lookback}"))
        & (F.col(f"r.{ts_col}") <= F.col(f"l.{ts_col}"))
    )
    return l.join(r, cond, "inner")
