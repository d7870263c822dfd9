"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload json_land --seed 1 --seconds 10 --trace 0

The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0``
the metrics are the end-to-end ones; with ``--trace 1`` they are the
per-layer ones, and the spans, the Spark jobs and the forced-stage
timings are written under ``perfbench/.work/traces/``. The exit code is
non-zero when any output is wrong. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback

import common

END_TO_END = {
    "setup_s": "s",
    "rows_per_s": "rows/s",
    "op_p50_s": "s",
    "success_rate": "ratio",
    "peak_rss_mb": "MB",
    "stored_bytes_per_row": "B/row",
}

PER_LAYER = {
    "spark.session_s": "s",
    "jvm.attach_s": "s",
    "schema.create_s": "s",
    "plans.compile_s": "s",
    "exact_index.build_s": "s",
    "dedup.build_s": "s",
    "similarity.build_s": "s",
    "text_index.build_s": "s",
    "conform.build_s": "s",
    "conform.validate_exec_s": "s",
    "conform.parse_exec_s": "s",
    "conform.rows_flagged": "count",
    "jvm.encode_exec_s": "s",
    "avro_ocf.write_s": "s",
    "avro_ocf.bytes_per_row": "B/row",
    "avro_ocf.write_route_jvm": "ratio",
    "avro_ocf.read_build_s": "s",
    "avro_ocf.decode_exec_s": "s",
    "plans.resolution_s": "s",
    "plans.flatten_exec_s": "s",
    "avro_ocf.read_route_jvm": "ratio",
    "exact_index.probe_s": "s",
    "exact_index.append_s": "s",
    "dedup.probe_s": "s",
    "dedup.append_s": "s",
    "semantic.probe_s": "s",
    "similarity.append_s": "s",
    "text_index.append_s": "s",
    "curation.admit_ratio": "ratio",
    "dedup.near_dup_recall": "ratio",
    "index.compact_s": "s",
    "index.files": "count",
    "index.bytes_per_doc": "B/doc",
    "spark.jobs_per_op": "count",
    "spark.tasks_per_op": "count",
    "spark.job_s_per_op": "s",
    "spark.idle_s_per_op": "s",
    "spark.shuffle_bytes_per_op": "B",
    "trace.overhead": "ratio",
    "trace.span_coverage": "ratio",
}

SETUP_LAYERS = ("spark.session", "jvm.attach", "schema.create", "plans.compile",
                "exact_index.build", "dedup.build", "similarity.build",
                "text_index.build")


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True,
                   choices=("json_land", "curation_batches"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def run(args, started: float) -> int:
    import spans
    from workloads import WORKLOADS

    run_dir = common.prepare_work_dir(args.workload, args.seed)
    trace = bool(args.trace)
    tr = spans.Tracer()
    wl = WORKLOADS[args.workload](args.seed, run_dir, tr)
    _, gen_s = common.timed(wl.generate)

    proc = common.SparkProcess(trace)
    try:
        with tr.op("setup", traced=trace):
            with tr.span("spark.session"):
                spark = proc.start()
            tr.bind(spark)
            wl.setup(spark)
        _, load_s = common.timed(wl.load)
        # process start to the first op's readiness, input generation
        # excluded
        setup_s = time.time() - started - gen_s
        _, warmup_s = common.timed(wl.warmup)

        durations = {False: [], True: []}   # traced? -> op seconds
        windows = []                        # (op id, start, end) of every op
        failures = []
        attempted = failed = rows = 0
        busy_s = prep_s = 0.0
        host0, own0 = common.host_cpu_seconds(), common.tree_cpu_seconds()
        while attempted < wl.MIN_OPS or busy_s < args.seconds:
            k = attempted
            traced = trace and k % 2 == 1
            attempted += 1
            prep_s += common.timed(wl.prepare)[1]
            wall0, t0 = time.time(), time.perf_counter()
            try:
                with tr.op(f"op{k}", traced=traced):
                    n = wl.op(k)
            except common.CheckFailed as e:
                failures.append(str(e))
                failed += 1
            except Exception:
                traceback.print_exc(file=sys.stderr)
                failed += 1
            else:
                durations[traced].append(time.perf_counter() - t0)
                rows += n
            busy_s += time.perf_counter() - t0
            windows.append({"op": f"op{k}", "start": wall0, "end": time.time()})
        host1, own1 = common.host_cpu_seconds(), common.tree_cpu_seconds()
        bad, finish_s = common.timed(wl.finish)
        failures += bad
        routes = wl.routes()
        layers, forced = wl.layers() if trace else ({}, {})
        rss = proc.peak_rss_mb()
        stored = wl.stored_bytes_per_row()
    finally:
        proc.stop()
        shutil.rmtree(run_dir, ignore_errors=True)
    event_log = proc.event_log() if trace else None

    diag = {
        "workload": args.workload, "seed": args.seed, "cpus": common.cpus(),
        "driver_heap_mb": common.driver_heap_mb(), "routes": routes,
        "gen_s": gen_s, "load_s": load_s, "warmup_s": warmup_s,
        "prepare_s": prep_s, "finish_s": finish_s,
        "window_s": busy_s, "ops": attempted,
        "op_s": durations[False] + durations[True],
        "error_rate": failed / max(1, attempted), "failures": failures[:10],
        # CPUs this run kept busy during the window, CPUs the rest of the
        # machine did, and CPUs the hypervisor took: a slow run on a busy
        # host shows here
        "own_cpus": (own1 - own0) / busy_s,
        "host_other_cpus": ((host1[0] - host0[0]) - (own1 - own0)) / busy_s,
        "host_steal_cpus": (host1[1] - host0[1]) / busy_s,
    }
    if trace:
        metrics, detail = per_layer(tr, layers, forced, durations, windows,
                                    event_log)
        path = os.path.join(common.TRACES, f"{args.workload}-{args.seed}.json")
        with open(path, "w") as fh:
            json.dump({"diag": diag, **detail, "spans": tr.spans}, fh, indent=1)
        diag["trace_file"] = os.path.relpath(path, common.ROOT)
        units = PER_LAYER
    else:
        metrics = {
            "setup_s": setup_s,
            "rows_per_s": rows / busy_s,
            "op_p50_s": common.median(diag["op_s"]),
            "success_rate": (attempted - failed) / max(1, attempted),
            "peak_rss_mb": rss,
            "stored_bytes_per_row": stored,
        }
        units = END_TO_END
    for name, route in routes.items():
        if route not in (True, "jvm", ["jvm"]):
            print(f"perfbench: route {name} = {route} (not the JVM route)",
                  file=sys.stderr)
    correct = not failures and attempted > 0 and failed == 0
    print(json.dumps({"diag": diag}))
    print(json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": u} for k, u in units.items()},
    }))
    return 0 if correct else 1


def per_layer(tr, layers, forced, durations, windows, event_log):
    """Every PER_LAYER metric (0 for a layer the workload does not
    touch) and the trace file's detail."""
    import spans

    m = {k: 0.0 for k in PER_LAYER}
    for name in SETUP_LAYERS:
        m[name + "_s"] = common.median(tr.per_op(name, "setup"))
    m.update(layers)
    jobs = spans.parse_event_log(event_log)
    os.remove(event_log)
    engine, per_op = spans.engine_layers(jobs, windows)
    m.update(engine)
    if durations[True] and durations[False]:
        m["trace.overhead"] = (common.median(durations[True])
                               / common.median(durations[False]))
    coverage = {r["op"]: tr.coverage(r) for r in tr.ops("op")}
    m["trace.span_coverage"] = common.median(coverage.values())
    detail = {"layers": m, "forced_stages": forced, "per_op_engine": per_op,
              "per_op_span_coverage": coverage, "jobs": jobs}
    return m, detail


def main(argv=None) -> int:
    started = common.process_start()
    args = parse_args(argv)
    if not common.library_present():
        print("perfbench: the avro_spark package is not next to perfbench/; "
              "run from a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, common.ROOT)
    return run(args, started)


if __name__ == "__main__":
    sys.exit(main())
