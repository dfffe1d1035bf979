"""Benchmark entry point.

    python3 perfbench/run.py --workload analyst_mix --seed 1 --seconds 6 --trace 0

Run from the repository root. Generates the workload's inputs from the
seed and runs the DuckDB oracles while the JVM launches, then sets the
workload up several times (each set-up restarts the engine session and
loads the inputs through the engine; ``setup_s`` is the median), warms
it and checks it against its oracle, then runs one closed-loop client
for ``--seconds`` (whole rounds). ``peak_rss_mb`` covers the measured
loop only. The last line of standard output is one JSON object:
``correct``, ``attempted``, ``failed`` and ``metrics`` — the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
The line before it carries the machine fingerprint and the tail
rule / sample count. Spans and counters are written under
``.perfbench_work/traces/`` at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("analyst_mix", "medallion_merge", "corpus_curation")
SETUP_REPS = 3  # the first set-up also pays first-job costs; the median is warm

# per-layer metric → unit; every traced run reports all of them (0 where
# the workload does not touch the layer)
PER_LAYER = {
    "session.start_ms": "ms",
    "build_ms": "ms",
    "action_ms": "ms",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "catalog.build_ms": "ms",
    "readers.load_ms": "ms",
    "kql.translate_ms": "ms",
    "readers.files_read": "count",
    "readers.bytes_read": "B",
    "readers.scan_ms": "ms",
    "readers.rows_per_result": "ratio",
    "shuffle.bytes_written": "B",
    "shuffle.write_ms": "ms",
    "spill.bytes": "B",
    "joins.rows_out": "count",
    "python.exec_ms": "ms",
    "python.bytes_sent": "B",
    "txlog.merge_ms": "ms",
    "txlog.snapshot_ms": "ms",
    "txlog.read_changes_ms": "ms",
    "txlog.bytes_staged": "B",
    "txlog.files_added": "count",
    "txlog.files_removed": "count",
    "txlog.commit_conflicts": "count",
    "txlog.checkpoint_ms": "ms",
    "txlog.compact_ms": "ms",
    "txlog.vacuum_ms": "ms",
    "txlog.write_amp": "ratio",
    "txlog.space_amp": "ratio",
    "merge.scd2_ms": "ms",
    "incremental.fold_ms": "ms",
    "incremental.state_rows": "count",
    "text.quality_ms": "ms",
    "dedup.exact_ms": "ms",
    "dedup.minhash_ms": "ms",
    "dedup.cluster_ms": "ms",
    "dedup.contamination_ms": "ms",
    "text.repetition_ms": "ms",
    "dedup.candidate_pairs": "count",
    "dedup.verified_pairs": "count",
    "dedup.pair_yield": "ratio",
    "trace.overhead_ms": "ms",
    "trace.spans": "count",
}

END_TO_END = {
    "setup_s": "s",
    "op_p50_ms": "ms",
    "op_tail_ms": "ms",
    "ops_per_s": "1/s",
    "rows_per_s": "1/s",
    "peak_rss_mb": "MB",
}


def _log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _workload(name: str):
    if name == "analyst_mix":
        from analyst_mix import AnalystMix

        return AnalystMix
    if name == "medallion_merge":
        from medallion_merge import MedallionMerge

        return MedallionMerge
    from corpus_curation import CorpusCuration

    return CorpusCuration


def main(argv=None) -> int:
    args = _args(argv)
    if not os.path.isdir(os.path.join(ROOT, "azuredataengineering_deeplearning_spark")):
        print("perfbench: engine package not found next to perfbench/", file=sys.stderr)
        return 2
    work_root = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(work_root, f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # every temp file of this process, its JVM and its Python workers
    # lands inside the checkout
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={work}/tmp"
    tempfile.tempdir = None
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    sys.path.insert(0, ROOT)

    import harness

    tracer = harness.Tracer()
    wl = _workload(args.workload)(tracer, work, args.seed)
    oracle_err: list[BaseException] = []

    def oracles() -> None:
        try:
            wl.oracles()
        except BaseException as e:  # re-raised on the main thread
            oracle_err.append(e)

    spark = None
    try:
        t0 = time.perf_counter()
        wl.generate()
        _log(f"inputs generated in {time.perf_counter() - t0:.2f}s")
        # the oracles need no engine session: run them while the JVM starts
        oracle_thread = threading.Thread(target=oracles)
        t0 = time.perf_counter()
        oracle_thread.start()
        spark = harness.start_session(work, f"perfbench-{args.workload}")
        jvm_launch_s = time.perf_counter() - t0
        oracle_thread.join()
        if oracle_err:
            raise oracle_err[0]
        _log(f"JVM launch {jvm_launch_s:.2f}s, oracles done {time.perf_counter() - t0:.2f}s")
        setup_s, session_ms = [], []
        for rep in range(SETUP_REPS):
            t0 = time.perf_counter()
            spark.stop()
            t1 = time.perf_counter()
            spark = harness.start_session(work, f"perfbench-{args.workload}")
            session_ms.append((time.perf_counter() - t1) * 1e3)
            wl.setup(spark, rep)
            setup_s.append(time.perf_counter() - t0)
        _log(f"set-up x{SETUP_REPS}: " + ", ".join(f"{s:.2f}s" for s in setup_s))
        t0 = time.perf_counter()
        wl.prepare()
        _log(f"warm-up and checks: {time.perf_counter() - t0:.2f}s")
        harness.collect_garbage(spark)
        rss_reset = harness.reset_peak_rss()
        t0 = time.perf_counter()
        loop = harness.Loop(spark, tracer, bool(args.trace))
        min_rounds = getattr(wl, "MIN_ROUNDS", 1) + args.trace
        loop.run(wl.rounds(), args.seconds, wl.hygiene, min_rounds)
        _log(f"measured {loop.attempted} ops: {time.perf_counter() - t0:.2f}s")
        e2e = loop.end_to_end()
        e2e["setup_s"] = statistics.median(setup_s)
        e2e["peak_rss_mb"] = harness.peak_rss_mb()
        failures = wl.failures + loop.failures
        failed = loop.failed + len(wl.failures)
        attempted = loop.attempted + len(wl.failures)
        if args.trace:
            layer = loop.per_layer(statistics.median(session_ms))
            if hasattr(wl, "layer_extras"):
                layer.update(wl.layer_extras())
            metrics = {k: {"value": layer.get(k, 0.0), "unit": u} for k, u in PER_LAYER.items()}
        else:
            metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
        info = {
            "fingerprint": harness.fingerprint(spark, args.seed, wl.inputs),
            "failed_ratio": failed / attempted,
            "op_tail_rule": loop.tail_rule,
            "op_samples": loop.samples,
            "op_ms": loop.op_log,
            "jvm_launch_s": jvm_launch_s,
            "peak_rss_scope": "measured loop" if rss_reset else "process lifetime",
            "setup_s_reps": setup_s,
            "failures": failures[:20],
        }
        trace_dir = os.path.join(work_root, "traces")
        os.makedirs(trace_dir, exist_ok=True)
        with open(
            os.path.join(trace_dir, f"{args.workload}-{args.seed}-t{args.trace}.json"), "w"
        ) as f:
            span_ms, self_ms = tracer.totals(loop.traced_ops)
            json.dump(
                {
                    "info": info,
                    "metrics": metrics,
                    "span_ms": span_ms,
                    "self_ms": self_ms,
                    "spans": tracer.dump(),
                },
                f,
            )
        print(json.dumps(info))
        result = {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": metrics,
        }
    finally:
        if spark is not None:
            harness.shutdown_jvm(spark)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
