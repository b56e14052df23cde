#!/usr/bin/env python3
"""Transcript-extraction benchmark: one workload per invocation.

Run from the root of a checkout:

    python3 perfbench/run.py --workload extract_batch --seed 1 \\
        --seconds 10 --trace 0

The last stdout line is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``.  ``--trace 0`` reports the end-to-end metrics
(see BENCHMARK.json), ``--trace 1`` the per-layer metrics of a separate
traced run.  Load shape: one local[4] Spark session in this process, a
closed loop of one job at a time.  Everything the run writes stays under
``.perfbench_work/`` in the checkout and is removed on exit.  See
perfbench/NOTES.md for why each workload exists and what each metric
should move.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

# timed runs per invocation at least, whatever --seconds allows: the first
# job_resume run after the set-up is ~30% slower than the rest (its warm
# pass writes into an empty sink, so the resume path is still cold), and
# the median of four puts it aside
MIN_RUNS = 4


def _units(trace: int) -> dict:
    """Metric name -> unit for the mode, from BENCHMARK.json."""
    here = os.path.dirname(os.path.abspath(__file__))
    with open(os.path.join(os.path.dirname(here), "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {m["name"]: m["unit"]
            for m in spec["per_layer" if trace else "end_to_end"]}


def _end_to_end(wl, spark, seconds: float, setup: float):
    from harness import median, tree_cpu_seconds

    walls, cpus, turns = [], [], 0
    start = time.perf_counter()
    while len(walls) < MIN_RUNS or time.perf_counter() - start < seconds:
        wl.before_run()
        c0, t0 = tree_cpu_seconds(), time.perf_counter()
        turns = wl.run(spark)
        walls.append(time.perf_counter() - t0)
        cpus.append(tree_cpu_seconds() - c0)
    attempted, failed = wl.check(spark)
    wall = median(walls)
    print(f"{wl.name}: {len(walls)} timed runs, walls "
          f"{[round(w, 3) for w in walls]}, setup {setup:.3f} s, "
          f"{turns} turns/run", file=sys.stderr)
    return attempted, failed, {
        "setup_s": setup,
        "wall_s": wall,
        "turns_per_s": turns / wall,
        "cpu_s": median(cpus),
        "ok_share": 1.0 - failed / attempted,
    }


def _per_layer(wl, spark, work: str, seed: int, scale: float):
    import harness
    import inputs
    import layers
    from planmetrics import PlanWindow
    from workloads import StreamDrain

    def reference_wall():
        wl.before_run()
        t0 = time.perf_counter()
        wl.run(spark)
        return time.perf_counter() - t0

    # untraced reference runs on both sides of the traced one, so that
    # warm-up and drift do not read as tracing overhead; the first run
    # after the set-up is still cold (see MIN_RUNS) and is left out
    reference_wall()
    refs = [reference_wall()]
    wl.before_run()
    stats = layers.SinkStats()
    t0 = time.perf_counter()
    window = PlanWindow(spark)
    with layers.sink_shims(stats):
        wl.run(spark)
    plan = window.harvest(wl.input_marker)
    traced_wall = time.perf_counter() - t0
    attempted, failed = wl.check(spark)

    out = {
        "plan.scan_rows_per_input_row": plan["scan_rows"] / wl.counts["turns"],
        "plan.python_bytes_in_mb": plan["python_in"] / 1e6,
        "plan.python_bytes_out_mb": plan["python_out"] / 1e6,
        "plan.shuffle_bytes_mb": plan["shuffle_bytes"] / 1e6,
        "plan.kernel_turns": plan["kernel_turns"],
        "plan.kernel_passes_per_turn": plan["kernel_turns"] / wl.pending,
        "plan.spark_jobs": plan["jobs"],
        "checkpoint.existing_keys_s": stats.existing_keys_s,
        "checkpoint.merge_s": stats.merge_s,
        "checkpoint.rows_written": stats.rows_written,
        "pipeline.quarantine_count_s": getattr(wl, "quarantine_count_s", 0.0),
        "pipeline.quarantined": getattr(wl, "quarantined", 0),
    }
    refs.append(reference_wall())
    out["trace.overhead_s"] = traced_wall - harness.median(refs)

    src = wl.ladder_input(spark)
    out.update(layers.ladder(src))
    out.update(layers.rebalance_probe(spark, src))
    out.update(layers.kernel_microbench(inputs.kernel_sample(seed, 60)))
    ideal = sum(out[f"kernel.extract_payload_us.{k}"] * n
                for k, n in wl.kinds.items()) / 1e6 / harness.CORES
    out["extract.assembly_s"] = out["ladder.extract_turns_s"] - ideal

    # the streaming path, drained once from a many-file source of its own
    stream = StreamDrain(os.path.join(work, "stream"), seed, scale)
    stream.setup(spark)
    stream.before_run()
    t0 = time.perf_counter()
    stream.run(spark)
    out["stream.drain_s"] = time.perf_counter() - t0
    out.update(layers.stream_summary(stream.progress))
    s_attempted, s_failed = stream.check(spark)

    sf_dir = os.path.join(work, "operator_tables")
    inputs.write_operator_tables(
        sf_dir, seed, n_docs=max(50, round(500 * scale)),
        n_vecs=max(50, round(500 * scale)),
        n_events=max(600, round(10_000 * scale)))
    query_metrics, query_failed = layers.operator_surface(spark, sf_dir)
    out.update(query_metrics)
    out["cache.persisted_rdds_left"] = layers.persisted_rdds_left(spark)

    attempted += s_attempted + len(layers.OPERATOR_QUERIES)
    failed += s_failed + query_failed
    return attempted, failed, out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size factor (the smoke test uses a small one)")
    args = ap.parse_args(argv)

    root = os.getcwd()
    for needed in ("deepseek_ocr_rs_spark/__init__.py", "__spark_entry__.py"):
        if not os.path.isfile(os.path.join(root, needed)):
            print(f"perfbench: {needed} not found; run from the root of a "
                  "checkout", file=sys.stderr)
            return 2
    sys.path.insert(0, root)

    import harness
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    work = os.path.join(root, ".perfbench_work",
                        f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.makedirs(os.environ["TMPDIR"])
    # spark-submit's launcher JVM would otherwise write /tmp/hsperfdata_*
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    wl = WORKLOADS[args.workload](work, args.seed, args.scale)
    spark = None
    try:
        # launching the JVM is left out of setup_s: the package cannot
        # change it, and it would swamp the set-up work the package does
        spark = harness.build_spark(work)
        t0 = time.perf_counter()
        spark.stop()
        spark = harness.build_spark(work)
        wl.setup(spark)
        wl.warm(spark)
        setup = time.perf_counter() - t0
        if args.trace:
            attempted, failed, metrics = _per_layer(
                wl, spark, work, args.seed, args.scale)
        else:
            attempted, failed, metrics = _end_to_end(
                wl, spark, args.seconds, setup)
    finally:
        harness.shutdown(spark)
        shutil.rmtree(work, ignore_errors=True)
    units = _units(args.trace)
    if set(metrics) != set(units):
        raise RuntimeError("metrics differ from BENCHMARK.json: "
                           f"{sorted(set(metrics) ^ set(units))}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u}
                    for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
