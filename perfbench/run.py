"""Benchmark of the extraction engine, measured from outside through
its public functions.

    python3 perfbench/run.py --workload extract_markup --seed 1 \\
        --seconds 8 --trace 0

One run is one process: start a SparkSession on local[4], generate the
workload's input from the seed (three times; the median counts), warm
the JVM and the Python workers with one unit of work on another seed's
input of the same size, then run units back to back (a closed loop, one
at a time) until ``--seconds`` have passed, and check the last unit's
output against the generator's ground truth.  README.md describes the
workloads and metrics.  ``--trace 0`` reports the end-to-end metrics of
BENCHMARK.json; ``--trace 1`` does the same untraced measurement, then
restarts the SparkContext with the event log on, repeats the timed loop
inside spans, runs the per-layer probes and reports the per-layer
metrics, including the tracing overhead.

Progress goes to stderr; the last line of stdout is one JSON object
with the keys correct, attempted, failed and metrics.  A report of the
run (samples, spans, load average, failure notes) is written under
``.perfbench_work/reports/``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
import uuid

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import harness  # noqa: E402
from perfbench.harness import WORK, fresh_dir  # noqa: E402

SCALES = ("full", "tiny")


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def timed_loop(wl, seconds: float, tracer) -> list:
    """Units back to back until ``seconds`` have passed (at least one)."""
    samples = []
    end = time.monotonic() + seconds
    while True:
        steal0 = harness.steal_s()
        with tracer.span(f"{wl.name}.unit") as span:
            sample = dict(wl.job())
        sample["steal_s"] = harness.steal_s() - steal0
        sample["span"] = span
        samples.append(sample)
        if time.monotonic() >= end:
            return samples


def query_parse_us() -> float:
    from engine.query_parse import parse_query_hybrid

    from perfbench.workloads import QUERY

    reps = []
    for _ in range(5):
        t0 = time.perf_counter()
        for _ in range(200):
            parse_query_hybrid(QUERY)
        reps.append((time.perf_counter() - t0) / 200 * 1e6)
    return _median(reps)


def layer_metrics(wl, events, tracer, samples, probes: dict) -> dict:
    """Per-layer values of the traced phase: event-log totals per unit
    of work (median over the units), per-span totals of the probes."""
    def per_unit(key):
        """Median over units; a unit's own no-op resume is not counted."""
        skip = {s["label"] for s in tracer.spans
                if s["name"] == "pipeline.noop_resume"}
        vals = [events.summarize(
            lambda d, labels=tracer.labels_under(s["span"]) - skip: d in labels,
            wl.input)[key] for s in samples]
        return _median(vals)

    def in_span(name, key):
        return sum(events.summarize(
            lambda d, labels=tracer.labels_under(s): d in labels)[key]
            for s in tracer.spans if s["name"] == name)

    m = dict(probes)
    for key in ("jobs", "tasks", "executor_cpu_s", "gc_s", "shuffle_bytes",
                "spill_bytes"):
        m[f"spark.{key}"] = per_unit(key)
    if wl.name.startswith("extract"):
        # the extraction unit commits one group
        m.update({
            "extract.shuffle_write_bytes": per_unit("salt_shuffle_bytes"),
            "extract.py_bytes_sent": per_unit("py_bytes_sent"),
            "extract.py_rows": per_unit("py_rows"),
            "extract.task_skew": per_unit("kernel_task_skew"),
            "pipeline.per_group_s": _median([s["job_s"] for s in samples]),
            "pipeline.spark_jobs_per_group": per_unit("jobs"),
            "pipeline.input_scans_per_group": per_unit("input_scans"),
        })
    else:
        m.update({
            "cleaning.input_scans": per_unit("input_scans"),
            "cleaning.neardup.shuffle_bytes": in_span("cleaning.neardup",
                                                      "shuffle_bytes"),
            "cleaning.neardup.spill_bytes": in_span("cleaning.neardup",
                                                    "spill_bytes"),
            "cleaning.semantic.shuffle_bytes": in_span("cleaning.semantic",
                                                       "shuffle_bytes"),
        })
    return m


def run(args, t_proc: float) -> dict:
    from perfbench.eventlog import EventLog
    from perfbench.workloads import WORKLOADS

    spec = load_spec()
    run_dir = fresh_dir(os.path.join(
        WORK, f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"))
    harness.prepare_env(run_dir)
    load_start = harness.loadavg()
    spark = harness.start_session(run_dir)
    session_start_s = time.time() - t_proc
    tracer = harness.Tracer(spark, uuid.uuid4().hex, enabled=False)
    cls = WORKLOADS[args.workload]
    wl = cls(args.workload, spark, os.path.join(run_dir, "timed"), args.seed,
             args.scale, tracer)
    # the warm-up unit runs the same plan shapes on an input of the same
    # size from another seed: a smaller input gets other join strategies
    # and leaves the first timed unit paying for their code generation
    warm = cls(args.workload, spark, os.path.join(run_dir, "warm"),
               args.seed + 1, args.scale, tracer)
    log = lambda msg: print(f"perfbench[{args.workload}]: {msg}",  # noqa: E731
                            file=sys.stderr, flush=True)

    gen_s = []
    for _ in range(3):
        t0 = time.perf_counter()
        wl.generate()
        gen_s.append(time.perf_counter() - t0)
    t0 = time.perf_counter()
    warm.generate()
    warm.job()
    warm_s = time.perf_counter() - t0
    warm.check()
    wl.attempted, wl.failed, wl.notes = warm.attempted, warm.failed, warm.notes
    setup_s = session_start_s + _median(gen_s) + warm_s
    log(f"set-up {setup_s:.2f} s (session {session_start_s:.2f}, "
        f"input {_median(gen_s):.2f}, warm-up {warm_s:.2f}); "
        f"{wl.n_rows} rows")

    with harness.RssSampler(harness.jvm_pid()) as rss:
        samples = timed_loop(wl, args.seconds, tracer)
    wl.check()
    job_s = [s["job_s"] for s in samples]
    rows_per_s = _median([wl.n_rows / t for t in job_s])
    log(f"{len(samples)} units, job s {[round(t, 3) for t in job_s]}, "
        f"steal s {[round(s['steal_s'], 2) for s in samples]}")
    report = {"args": vars(args), "n_rows": wl.n_rows, "gen_s": gen_s,
              "session_start_s": session_start_s, "warm_s": warm_s,
              "samples": [{k: v for k, v in s.items() if k != "span"}
                          for s in samples]}

    if not args.trace:
        metrics = {
            "setup_s": setup_s,
            "rows_per_s": rows_per_s,
            "job_s_tail": max(job_s),
            "ok_rate": 1.0 - wl.failed / max(wl.attempted, 1),
            "peak_rss_mb": rss.peak / 2 ** 20,
            "out_bytes_per_row": wl.out_bytes() / wl.n_rows,
        }
        report["job_s_tail_samples"] = len(job_s)
        harness.stop_all(spark)
        names = spec["end_to_end"]
    else:
        # a new SparkContext in the same JVM (its JIT and code caches
        # survive) switches the event log on
        event_dir = os.path.join(run_dir, "eventlog")
        spark.stop()
        spark = harness.start_session(run_dir, event_dir)
        tracer = harness.Tracer(spark, tracer.trace_id, enabled=True)
        wl.spark, wl.tracer = spark, tracer
        wl.rewarm()
        with tracer.span(f"{wl.name}.timed"):
            traced = timed_loop(wl, args.seconds, tracer)
        wl.check()
        with tracer.span(f"{wl.name}.probes"):
            probes = wl.probes()
        probes["query_parse.us_per_query"] = query_parse_us()
        harness.stop_all(spark)
        events = EventLog(event_dir)
        traced_rps = _median([wl.n_rows / s["job_s"] for s in traced])
        metrics = {name["name"]: 0 for name in spec["per_layer"]}
        metrics.update(layer_metrics(wl, events, tracer, traced, probes))
        metrics.update({
            "session.start_s": session_start_s,
            "session.warm_s": warm_s,
            "trace.rows_per_s": traced_rps,
            "trace.untraced_rows_per_s": rows_per_s,
            "trace.overhead_pct": (rows_per_s - traced_rps) / rows_per_s * 100,
        })
        report["traced_samples"] = [{k: v for k, v in s.items() if k != "span"}
                                    for s in traced]
        report["spans"] = tracer.finished()
        names = spec["per_layer"]

    unknown = set(metrics) - {m["name"] for m in names}
    if unknown:
        raise RuntimeError(f"metrics missing from BENCHMARK.json: {sorted(unknown)}")
    report.update({"loadavg_start": load_start, "loadavg_end": harness.loadavg(),
                   "attempted": wl.attempted, "failed": wl.failed,
                   "notes": wl.notes, "metrics": metrics})
    log(f"loadavg start {load_start} end {report['loadavg_end']}")
    for note in wl.notes[:5]:
        log(f"FAILED {note}")
    os.makedirs(os.path.join(WORK, "reports"), exist_ok=True)
    with open(os.path.join(WORK, "reports", f"{args.workload}-s{args.seed}"
                           f"-t{args.trace}.json"), "w") as f:
        json.dump(report, f, indent=1, default=str)
    fresh_dir(run_dir)
    return {
        "correct": wl.failed == 0,
        "attempted": wl.attempted,
        "failed": wl.failed,
        "metrics": {m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]}
                    for m in names},
    }


def main(argv=None) -> int:
    t_proc = harness.process_start_time()
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True,
                   choices=[w["name"] for w in load_spec()["workloads"]])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", choices=SCALES, default="full",
                   help="input size; 'tiny' is for the self-test")
    args = p.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "engine", "pipeline.py")):
        print(f"perfbench: no engine/ package under {ROOT}", file=sys.stderr)
        return 2
    real_stdout = harness.guard_stdout()
    try:
        result = run(args, t_proc)
    finally:
        harness.stop_all(None)
    real_stdout.write(json.dumps(result) + "\n")
    real_stdout.flush()
    return 0


if __name__ == "__main__":
    sys.exit(main())
