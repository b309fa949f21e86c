"""The streaming operation of the ``dwrf_io`` workload.

One long-running query: ``streaming.stream_dwrf_dir(src,
maxFilesPerTrigger=1)`` -> filter/project -> DWRF sink with a checkpoint.
The query starts on a directory holding one slice (the source infers its
schema from a file). Each ``batch()`` lands the next fixed-size slice of
events by atomic rename and waits on ``processAllAvailable()``; its
latency is the freshness of that batch (including the wait for the next
trigger). After each batch the sink's
committed row count and ``event_id`` sum are compared with the slices
landed so far.
"""

from __future__ import annotations

import os
import time

import pyarrow as pa
import pyarrow.compute as pc

from . import gen
from .common import Run, median_or_zero

SLICE_ROWS = 20_000
N_USERS = 1_500
MIN_VALUE = 20.0


def slice_table(seed: int, i: int) -> pa.Table:
    return gen.events(seed, SLICE_ROWS, N_USERS, first_id=i * SLICE_ROWS)


def kept(table: pa.Table) -> tuple[int, int]:
    """(rows, event_id sum) the query keeps from one slice."""
    hit = table.filter(pc.greater(table["value"], MIN_VALUE))
    return hit.num_rows, pc.sum(hit["event_id"]).as_py() or 0


class StreamIngest:
    def __init__(self, run: Run) -> None:
        self.run = run
        self.src = run.path("stream_src")
        self.stage = run.path("stream_stage")
        self.sink = run.path("stream_sink")
        os.makedirs(self.src)
        os.makedirs(self.stage)
        self.n = 0
        self.want = (0, 0)  # rows, event_id sum landed so far that pass the filter
        self.got = (0, 0)
        self._sink_seen: set[str] = set()
        self.query = None
        self.land()

    def land(self) -> float:
        """Write the next slice, rename it into the source directory and
        return the rename instant."""
        from hive_dwrf_spark.format import write_arrow_table

        table = slice_table(self.run.seed, self.n)
        staged = os.path.join(self.stage, f"slice-{self.n:05d}.dwrf")
        write_arrow_table(staged, table)
        rows, id_sum = kept(table)
        self.want = (self.want[0] + rows, self.want[1] + id_sum)
        self.n += 1
        os.rename(staged, os.path.join(self.src, os.path.basename(staged)))
        return time.perf_counter()

    def start(self, spark) -> None:
        from hive_dwrf_spark.streaming import stream_dwrf_dir
        from pyspark.sql import functions as F

        self.query = (
            stream_dwrf_dir(spark, self.src, maxFilesPerTrigger=1)
            .where(F.col("value") > MIN_VALUE)
            .select("event_id", "user_id", "value")
            .writeStream.format("dwrf")
            .option("path", self.sink)
            .option("checkpointLocation", self.run.path("stream_checkpoint"))
            # the default trigger polls the source every 10 ms between
            # batches, which slowed the workload's other operations by
            # ~50% here; 250 ms keeps the poll cheap at the cost of up to
            # 250 ms of batch latency
            .trigger(processingTime="250 milliseconds")
            .start()
        )
        self.query.processAllAvailable()

    def batch(self) -> float:
        """Land one slice and wait until the query has processed it."""
        t0 = self.land()
        self.query.processAllAvailable()
        return time.perf_counter() - t0

    def sink_matches(self) -> bool:
        """Read the sink's newly committed files in process and compare
        the running totals with what was landed."""
        from hive_dwrf_spark.format import DwrfFile
        from hive_dwrf_spark.sources.dwrf_datasource import committed_files

        rows, id_sum = self.got
        for rel in sorted((committed_files(self.sink) or set()) - self._sink_seen):
            with DwrfFile(os.path.join(self.sink, rel)) as f:
                ids = f.read(columns=["event_id"])["event_id"]
            rows += len(ids)
            id_sum += pc.sum(ids).as_py() or 0
            self._sink_seen.add(rel)
        self.got = (rows, id_sum)
        return self.got == self.want

    def stop(self) -> None:
        if self.query is not None:
            self.query.stop()

    def layers(self, since: int) -> dict:
        """Per-trigger durations from the query's progress reports after
        the first `since` ones."""
        progress = self.query.recentProgress[since:]

        def dur(key):
            return median_or_zero(
                [float(p.durationMs[key]) for p in progress if key in p.durationMs]
            )

        commits = [
            float(p.durationMs.get("walCommit", 0)) + float(p.durationMs.get("commitOffsets", 0))
            for p in progress
            if p.numInputRows > 0
        ]
        return {
            "streaming.latest_offset_ms_p50": dur("latestOffset"),
            "streaming.planning_ms_p50": dur("queryPlanning"),
            "streaming.add_batch_ms_p50": dur("addBatch"),
            "streaming.commit_ms_p50": median_or_zero(commits),
            "streaming.empty_trigger_ratio": sum(1 for p in progress if p.numInputRows == 0)
            / max(len(progress), 1),
        }
