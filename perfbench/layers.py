"""Per-layer measurements, each taken from outside the layer.

* ``ladder``: cumulative Spark layers over a transcript input, one layer
  added per step (scan, range exchange, identity Arrow transfer,
  ``extract_turns``, local sort), min of interleaved repetitions.
* ``rebalance_probe``: one ``rebalance_for_arrow`` call on range-partitioned
  input, timed, with the jobs it launches.
* ``kernel_microbench``: the ``functions.*`` kernel single-threaded in this
  process on a fixed sample of each payload kind.
* ``sink_shims``: timing wrappers around the public ``ParquetMergeSink``
  methods, installed for one traced run and removed afterwards.
* ``stream_summary``: epochs and durations from ``recentProgress``.
* ``operator_surface``: ten ``__spark_entry__.queries()`` on generated
  tables, each timed with its job count and checked against its oracle.
"""

from __future__ import annotations

import contextlib
import gc
import time

from harness import CORES, median
from planmetrics import PlanWindow

LADDER = ("scan", "range_exchange", "arrow_transfer", "extract_turns", "sort")
KEYS = ("conv_id", "turn_idx")

# the byte-fed tokenizer at the chunk size run_streaming_extraction uses
STREAM_CHUNK_BYTES = 4096

OPERATOR_QUERIES = (
    "ann_lsh", "ann_brute_force", "ann_ivf", "ann_batch_lsh",
    "web_redirect_resolve", "web_redirect_from_warc",
    "dedup_simhash_candidates", "web_page_metadata", "extract_html_wrapped",
    "pipeline_incremental_extract",
)
OPERATOR_TABLES = ("documents", "embeddings", "events")


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _ranged(df):
    return (df.select(*KEYS, "text")
            .repartitionByRange(CORES * 2, *KEYS))


def _ladder_plans(src):
    from deepseek_ocr_rs_spark.operators.extract import extract_turns

    def identity(batches):
        yield from batches

    cols = src.select(*KEYS, "text")
    ranged = _ranged(src)
    yield "scan", lambda: cols
    yield "range_exchange", lambda: ranged
    yield "arrow_transfer", lambda: ranged.mapInArrow(identity, ranged.schema)
    yield "extract_turns", lambda: extract_turns(ranged)
    yield "sort", lambda: extract_turns(ranged).sortWithinPartitions(*KEYS)


def ladder(src, reps: int = 3) -> dict:
    """Added wall seconds per layer; each step is timed from plan
    construction (``extract_turns`` plans a rebalance probe) to sink."""
    walls = {step: [] for step in LADDER}
    for _ in range(reps):
        for step, build in _ladder_plans(src):
            t0 = time.perf_counter()
            noop(build())
            walls[step].append(time.perf_counter() - t0)
    best = [min(walls[step]) for step in LADDER]
    added = [best[0]] + [b - a for a, b in zip(best, best[1:])]
    return {f"ladder.{step}_s": v for step, v in zip(LADDER, added)}


def rebalance_probe(spark, src, reps: int = 3) -> dict:
    from deepseek_ocr_rs_spark.operators.rebalance import rebalance_for_arrow

    window = PlanWindow(spark)
    walls = []
    for _ in range(reps):
        ranged = _ranged(src)
        t0 = time.perf_counter()
        rebalance_for_arrow(ranged)
        walls.append(time.perf_counter() - t0)
    return {"rebalance.probe_s": median(walls),
            "rebalance.jobs_per_call": window.jobs() / reps}


def kernel_microbench(sample: dict, reps: int = 5) -> dict:
    """Microseconds per payload, min over ``reps`` warm loops."""
    from deepseek_ocr_rs_spark.functions.classify import classify_blocks
    from deepseek_ocr_rs_spark.functions.dom import (
        build_blocks,
        build_blocks_fast,
    )
    from deepseek_ocr_rs_spark.functions.extract_core import extract_payload
    from deepseek_ocr_rs_spark.functions.markdown import render_blocks
    from deepseek_ocr_rs_spark.functions.normalize import normalize_text
    from deepseek_ocr_rs_spark.functions.pdflayout import parse_pdf_payload
    from deepseek_ocr_rs_spark.functions.tokenizer import (
        tokenize_html,
        tokenize_html_fast,
    )

    html, pdf, plain = sample["html"], sample["pdf"], sample["plain"]
    events = [tokenize_html_fast(h) for h in html]
    raw_blocks = [build_blocks(e) for e in events]
    kept = [classify_blocks(b) for b in raw_blocks]
    cases = {
        "kernel.extract_payload_us.html": (extract_payload, html),
        "kernel.extract_payload_us.pdf": (extract_payload, pdf),
        "kernel.extract_payload_us.plain": (extract_payload, plain),
        "kernel.build_blocks_fast_us": (build_blocks_fast, html),
        "kernel.tokenize_html_stream_us": (
            lambda h: tokenize_html(h, chunk_size=STREAM_CHUNK_BYTES), html),
        "kernel.build_blocks_us": (build_blocks, events),
        "kernel.classify_blocks_us": (classify_blocks, raw_blocks),
        "kernel.render_blocks_us": (render_blocks, kept),
        "kernel.parse_pdf_payload_us": (parse_pdf_payload, pdf),
        "kernel.normalize_text_us": (normalize_text, plain),
    }
    out = {}
    for name, (fn, items) in cases.items():
        for x in items:  # warm
            fn(x)
        loops = []
        for _ in range(reps):
            t0 = time.perf_counter()
            for x in items:
                fn(x)
            loops.append(time.perf_counter() - t0)
        out[name] = min(loops) / len(items) * 1e6
    return out


class SinkStats:
    def __init__(self):
        self.existing_keys_s = 0.0
        self.merge_s = 0.0
        self.rows_written = 0


@contextlib.contextmanager
def sink_shims(stats: SinkStats):
    """Time every ParquetMergeSink.existing_keys / merge call in the block.
    ``merge`` calls ``existing_keys`` itself, so merge_s includes it."""
    from deepseek_ocr_rs_spark.plans.checkpoint import ParquetMergeSink

    orig_keys, orig_merge = ParquetMergeSink.existing_keys, ParquetMergeSink.merge

    def existing_keys(self, *args, **kwargs):
        t0 = time.perf_counter()
        try:
            return orig_keys(self, *args, **kwargs)
        finally:
            stats.existing_keys_s += time.perf_counter() - t0

    def merge(self, *args, **kwargs):
        t0 = time.perf_counter()
        try:
            n = orig_merge(self, *args, **kwargs)
            stats.rows_written += n or 0
            return n
        finally:
            stats.merge_s += time.perf_counter() - t0

    ParquetMergeSink.existing_keys, ParquetMergeSink.merge = existing_keys, merge
    try:
        yield stats
    finally:
        ParquetMergeSink.existing_keys = orig_keys
        ParquetMergeSink.merge = orig_merge


def stream_summary(progress) -> dict:
    batches = [p for p in progress if p.numInputRows > 0]
    return {
        "stream.epochs": len(batches),
        "stream.add_batch_ms_median": median(
            [p.durationMs.get("addBatch", 0) for p in batches]),
        "stream.trigger_ms_median": median(
            [p.durationMs.get("triggerExecution", 0) for p in batches]),
    }


def operator_surface(spark, sf_dir: str):
    """(metrics, failed queries): one checked collect per query, then one
    timed pass of every query to a noop sink."""
    import __spark_entry__ as entry

    from checks import query_failures

    queries = entry.queries()
    results = {}
    for name in OPERATOR_QUERIES:
        df = queries[name](spark, sf_dir)
        results[name] = (df.columns, [tuple(r) for r in df.collect()])
    failed = query_failures(results, sf_dir, OPERATOR_TABLES)
    out = {}
    for name in OPERATOR_QUERIES:
        window = PlanWindow(spark)
        t0 = time.perf_counter()
        noop(queries[name](spark, sf_dir))
        out[f"query.{name}_s"] = time.perf_counter() - t0
        out[f"query.{name}_jobs"] = window.jobs()
    return out, failed


def persisted_rdds_left(spark) -> int:
    """Persisted RDDs still registered after a forced GC on both sides."""
    gc.collect()
    spark.sparkContext._jvm.System.gc()
    time.sleep(0.5)
    return spark.sparkContext._jsc.getPersistentRDDs().size()
