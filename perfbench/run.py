"""Benchmark entry point: one workload, one seed, one fresh program process.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout.  Generates (or reuses) the seeded inputs,
starts the workload in its own process with a pinned environment, samples
host telemetry, checks every result against its reference, and prints a
readable report followed by one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the per-layer
metrics of a traced pass (plus a local[1] baseline pass for the stream drain
and the join).  Metrics a workload does not exercise read 0 in a traced run.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CHILD_TIMEOUT_S = 170

E2E_UNITS = {
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "latency_p50_ms": "ms",
    "latency_tail_ms": "ms",
    "throughput_per_s": "1/s",
}


def _bench_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _child_env(run_dir: str, cpus: int) -> dict:
    from perfbench import config

    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    env = dict(os.environ)
    env.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": config.DRIVER_MEM,
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "PYSPARK_SUBMIT_ARGS": (
            f"--driver-java-options {shlex.quote(f'-Djava.io.tmpdir={tmp} -Xms{config.DRIVER_MEM}')}"
            " pyspark-shell"),
        "PYTHONPATH": ROOT,
    })
    env.pop("OMP_NUM_THREADS", None)
    return env


def run_child(workload, inputs, run_dir, seconds, trace, mode, cpus):
    """Run one workload process; returns (result, monitor, output dir)."""
    from perfbench.hostmon import TreeMonitor

    out = os.path.join(run_dir, f"out_{mode}")
    os.makedirs(out)
    log_path = os.path.join(run_dir, f"{mode}.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(
            [sys.executable, "-m", "perfbench.workloads", workload, inputs, out,
             str(seconds), str(trace), mode],
            cwd=ROOT, env=_child_env(run_dir, cpus), stdout=log, stderr=subprocess.STDOUT,
        )
        mon = TreeMonitor(proc.pid).start()
        try:
            code = proc.wait(timeout=CHILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            code = None
        finally:
            mon.stop()
            _stop_tree(proc, mon)
    result_path = os.path.join(out, "result.json")
    if code != 0 or not os.path.exists(result_path):
        with open(log_path) as fh:
            tail = fh.read()[-4000:]
        raise RuntimeError(f"{workload} ({mode}) exited with {code}:\n{tail}")
    with open(result_path) as fh:
        return json.load(fh), mon, out


def _stop_tree(proc, mon) -> None:
    """Stop the workload process and everything it started (JVM, Python
    workers, generator), then wait for them.  The monitor saw every member,
    including those orphaned when the workload process exited first."""
    from perfbench.hostmon import kill_all

    if proc.poll() is None:
        proc.kill()
    proc.wait()
    kill_all(mon.seen)


def check(workload, inputs, out, result) -> tuple[int, int, list[str]]:
    """Check every result file; also confirm the check catches corruption."""
    from perfbench import oracle

    if workload == "corpus_ingest":
        attempted = failed = 0
        for name in sorted(os.listdir(out)):
            if name.startswith("corpus_survivors_"):
                with open(os.path.join(out, name)) as fh:
                    a, f = oracle.check_corpus(inputs, json.load(fh))
                attempted, failed = attempted + a, failed + f
        return attempted, failed, oracle.self_test_corpus(inputs)
    con = oracle.connect()
    try:
        if workload == "window_join_batch":
            a, f = oracle.check_join(con, inputs, out)
            sample = os.path.join(out, "join_inner.parquet", "*.parquet")
            missed = oracle.self_test(con, oracle.join_expected_sql(inputs, "inner"), sample)
            return a, f, missed
        def source(rows_file: str) -> str:
            phase = "warm" if "_warm" in rows_file else "backlog" if "drain" in rows_file else "live"
            return os.path.join(inputs, phase)

        attempted = failed = 0
        for name in result["rows_files"]:
            a, f = oracle.check_stream(con, source(name), os.path.join(out, name))
            attempted, failed = attempted + a, failed + f
        first = result["rows_files"][0]
        missed = oracle.self_test(
            con, oracle.stream_expected_sql(source(first)), os.path.join(out, first))
        return attempted, failed, missed
    finally:
        con.close()


def make_inputs(workload: str, seed: int, seconds: int) -> str:
    from perfbench import gen

    return {
        "stream_window_agg": gen.stream_inputs,
        "corpus_ingest": gen.corpus_inputs,
        "window_join_batch": gen.join_inputs,
    }[workload](ROOT, seed, seconds)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "go_streaming_spark", "__init__.py")):
        print("perfbench: go_streaming_spark is missing from this checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    spec = _bench_spec()
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    cpus = len(os.sched_getaffinity(0))

    inputs = make_inputs(args.workload, args.seed, args.seconds)
    run_dir = os.path.join(ROOT, ".perfbench_cache", "runs",
                           f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        t0 = time.perf_counter()
        result, mon, out = run_child(args.workload, inputs, run_dir, args.seconds,
                                     args.trace, "full", cpus)
        t1 = time.perf_counter()
        attempted, failed, missed = check(args.workload, inputs, out, result)
        harness = {"harness.program_s": (t1 - t0, "s"),
                   "harness.workload_s": (result["workload_s"], "s"),
                   "harness.check_s": (time.perf_counter() - t1, "s")}
        if missed:
            print(f"perfbench: self-test failed, check missed {missed}", file=sys.stderr)
            return 3
        e2e = dict(result["e2e"], peak_rss_mb=mon.peak_mem_mb)
        layers = dict(result.get("layers", {}))
        ext = mon.ext_cpu_cores
        layers["host.ext_cpu_cores"] = ext if ext is not None else 0.0
        if args.trace and args.workload != "corpus_ingest":
            base, _, _ = run_child(args.workload, inputs, run_dir, args.seconds,
                                   1, "baseline", 1)
            layers.update(base["layers"])
        if args.trace:
            trace_dir = os.path.join(ROOT, ".perfbench_cache", "traces")
            os.makedirs(trace_dir, exist_ok=True)
            shutil.copyfile(os.path.join(out, "spans.json"), os.path.join(
                trace_dir, f"{args.workload}-{args.seed}.json"))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    report = {k: (v, E2E_UNITS[k]) for k, v in e2e.items()}
    report["fail_ratio"] = (failed / attempted if attempted else 1.0, "ratio")
    report.update({k: tuple(v) for k, v in result.get("report", {}).items()})
    if ext is not None:
        report["host.ext_cpu_cores"] = (ext, "cores")
        report["host.contended"] = (float(mon.contended), "flag")
    report.update(harness)
    print(f"perfbench {args.workload} seed={args.seed} trace={args.trace}"
          f" checked {attempted} results, {failed} failed, self-test ok")
    for k, (v, unit) in report.items():
        print(f"  {k:32s} {v:14.4f} {unit}")

    if args.trace:
        wanted = {m["name"]: m["unit"] for m in spec["per_layer"]}
        metrics = {k: {"value": float(layers.get(k, 0.0)), "unit": u}
                   for k, u in wanted.items()}
        for k in sorted(wanted):
            print(f"  {k:48s} {metrics[k]['value']:16.4f} {wanted[k]}")
    else:
        metrics = {m["name"]: {"value": float(e2e[m["name"]]), "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
