"""The benchmark workloads.

Each workload owns its inputs under its work directory and exposes:

* ``setup(spark)``: generate and stage the inputs from the seed;
* ``warm(spark)``: one untimed warm pass (of the timed path, or on
  job_resume the earlier run that fills the committed sink);
* ``before_run()``: untimed per-run preparation (restoring a sink);
* ``run(spark)``: the timed path; returns the operations it completed;
* ``check(spark)``: ``(attempted, failed)`` for the outputs the runs left;
* ``ladder_input(spark)``, ``input_marker``, ``pending``, ``kinds``: what
  the traced run needs to decompose the path into layers.

Sizes are turn counts at ``scale`` 1.0, filled with whole conversations
from the package's conversation plan (2-20 turns, every 200th at 400).
"""

from __future__ import annotations

import os
import shutil
import time

import pyarrow.compute as pc
import pyarrow.parquet as pq

from checks import quarantine_failures, turn_failures
from harness import CORES
from inputs import stage_transcripts
from layers import KEYS, noop


class _Transcripts:
    """Shared plumbing for workloads whose input is a transcript corpus."""

    name = ""
    turns = 0
    partitions = 16
    bad_per_mille = 0
    committed_share = 0.0

    def __init__(self, work: str, seed: int, scale: float):
        self.seed = seed
        self.n = max(20, round(self.turns * scale))
        self.input = os.path.join(work, "transcripts")
        self.fixtures = os.path.join(work, "fixtures")
        self.input_marker = self.input
        self.counts = {}

    def setup(self, spark) -> None:
        self.counts = stage_transcripts(
            self.input, self.fixtures, self.n, self.seed,
            self.partitions, self.bad_per_mille, self.committed_share)
        fx = pq.read_table(self.fixtures,
                           columns=["payload_kind", "expect", "committed"])
        self.kinds = {k: pc.sum(pc.equal(fx["payload_kind"], k)).as_py() or 0
                      for k in ("html", "pdf", "plain")}
        pending = pc.and_(pc.equal(fx["expect"], "ok"),
                          pc.invert(fx["committed"]))
        self.pending_ok = pc.sum(pending).as_py() or 0

    def warm(self, spark) -> None:
        self.before_run()
        self.run(spark)

    def before_run(self) -> None:
        pass

    def ladder_input(self, spark):
        return spark.read.parquet(self.input).where(
            "conv_id IS NOT NULL AND turn_idx IS NOT NULL")

    @property
    def pending(self) -> int:
        """Turns the kernel has to extract once per run."""
        return self.pending_ok + self.counts.get("malformed_payload", 0)


class ExtractBatch(_Transcripts):
    """bench.py's headline topology: range exchange -> extract_turns ->
    local sort -> noop sink, read-only."""

    name = "extract_batch"
    turns = 19_000

    def __init__(self, work, seed, scale):
        super().__init__(work, seed, scale)
        self.output = os.path.join(work, "extracted")

    def _extracted(self, spark):
        from deepseek_ocr_rs_spark.operators.extract import extract_turns

        corpus = spark.read.parquet(self.input)
        ranged = corpus.repartitionByRange(CORES * 2, *KEYS)
        return extract_turns(ranged).sortWithinPartitions(*KEYS)

    def run(self, spark) -> int:
        noop(self._extracted(spark))
        return self.counts["turns"]

    def check(self, spark):
        # the timed runs write to noop; one more pass, in the state they
        # left, writes the output that is compared
        self._extracted(spark).write.mode("overwrite").parquet(self.output)
        return turn_failures(self.output, self.fixtures)


class JobResume(_Transcripts):
    """The production job resuming over a half-committed sink: anti-join,
    bucket pruning, MERGE append, then the quarantine count, as
    scripts/extract_job.py does."""

    name = "job_resume"
    turns = 3_400
    bad_per_mille = 10
    committed_share = 0.5

    def __init__(self, work, seed, scale):
        super().__init__(work, seed, scale)
        self.sink = os.path.join(work, "sink")
        self.pristine = os.path.join(work, "sink_committed")
        self.result = None
        self.quarantined = 0
        self.quarantine_count_s = 0.0

    def warm(self, spark) -> None:
        from deepseek_ocr_rs_spark.plans.checkpoint import ParquetMergeSink
        from deepseek_ocr_rs_spark.plans.pipeline import run_extraction

        # the earlier run is the program itself: it extracts the committed
        # conversations into the sink that before_run() restores
        committed = (spark.read.parquet(self.fixtures).where("committed")
                     .select("conv_id").distinct())
        run_extraction(spark,
                       spark.read.parquet(self.input).join(
                           committed, "conv_id", "left_semi"),
                       sink=ParquetMergeSink(self.pristine, list(KEYS)))

    def before_run(self) -> None:
        for suffix in ("", "_metrics", "_lineage"):
            shutil.rmtree(self.sink + suffix, ignore_errors=True)
        shutil.copytree(self.pristine, self.sink)

    def run(self, spark) -> int:
        from deepseek_ocr_rs_spark.plans.checkpoint import ParquetMergeSink
        from deepseek_ocr_rs_spark.plans.pipeline import run_extraction

        sink = ParquetMergeSink(self.sink, list(KEYS))
        self.result = run_extraction(spark, spark.read.parquet(self.input),
                                     sink=sink)
        t0 = time.perf_counter()
        self.quarantined = self.result.quarantined.count()
        self.quarantine_count_s = time.perf_counter() - t0
        return self.result.rows_written

    def check(self, spark):
        attempted, failed = turn_failures(self.sink, self.fixtures,
                                          only_pending=True)
        rows = [(r.conv_id, r.turn_idx, r.reason) for r in
                self.result.quarantined.select(*KEYS, "reason").collect()]
        q_attempted, q_failed = quarantine_failures(rows, self.fixtures)
        q_failed += abs(self.quarantined - len(rows))
        return attempted + q_attempted, failed + q_failed


class StreamDrain(_Transcripts):
    """Structured Streaming availableNow drain of a many-file source into a
    fresh MERGE sink, with the streaming entry point's defaults.  Run as a
    layer probe by the traced run (see NOTES.md for why it is not a
    timed workload)."""

    name = "stream_drain"
    turns = 3_200
    partitions = 32  # source files; the entry point reads 8 per trigger

    def __init__(self, work, seed, scale):
        super().__init__(work, seed, scale)
        self.sink = os.path.join(work, "sink")
        self.checkpoint = os.path.join(work, "stream_checkpoint")
        self.progress = []

    def before_run(self) -> None:
        for path in (self.sink, self.checkpoint):
            shutil.rmtree(path, ignore_errors=True)

    def run(self, spark) -> int:
        from deepseek_ocr_rs_spark.plans.checkpoint import ParquetMergeSink
        from deepseek_ocr_rs_spark.streaming.stream import (
            run_streaming_extraction,
        )

        query = run_streaming_extraction(
            spark, self.input, ParquetMergeSink(self.sink, list(KEYS)),
            self.checkpoint)
        query.awaitTermination()
        self.progress = query.recentProgress
        return self.counts["turns"]

    def check(self, spark):
        return turn_failures(self.sink, self.fixtures)


WORKLOADS = {w.name: w for w in (ExtractBatch, JobResume)}
