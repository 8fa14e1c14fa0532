"""cascade_spark benchmark — one workload per invocation.

    python3 perfbench/run.py --workload {ingest,window,queries,replay} \
        --seed N --seconds S --trace {0,1}

Run from the repository root. Prints, as the last line of stdout, one
JSON object ``{"correct", "attempted", "failed", "metrics"}``: with
``--trace 0`` the end-to-end metrics of BENCHMARK.json, with
``--trace 1`` its per-layer metrics (a separate traced run; the spans go
to ``.perfbench_traces/<workload>-<seed>.json``). Everything the run
writes (topics, checkpoints, fixture tables, Spark local and temp dirs)
lives in one run-scoped directory under ``.perfbench_tmp/``, removed at
exit. See perfbench/README.md for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("ingest", "window", "queries", "replay")


def _args() -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args()


def _prepare_env(run_dir: str) -> None:
    """Process environment for the JVM and the Python workers it forks.
    Must run before pyspark starts the JVM."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    # Python data-source and UDF workers import cascade_spark by name
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    # the driver JVM is the whole local cluster; 4g leaves room on a 15 GiB host
    os.environ["CASCADE_DRIVER_MEM"] = "4g"
    # -XX:-UsePerfData: no hsperfdata file, which a JVM puts in /tmp
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_LAUNCHER_OPTS"] = java_opts  # spark-submit's launcher JVM
    confs = [
        f"spark.driver.extraJavaOptions={java_opts}",
        f"spark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
    ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [f"--conf {shlex.quote(c)}" for c in confs] + ["pyspark-shell"]
    )
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


def _stop_spark() -> None:
    """Stop the session, then the JVM the session started, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the launcher exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:  # a stuck JVM must not outlive the run
            proc.kill()
            proc.wait()


def main() -> int:
    args = _args()
    # a terminated run still stops its JVM and removes its run directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if args.seconds <= 0:
        print("--seconds must be positive", file=sys.stderr)
        return 2
    # the program under test lives at the repository root
    if not os.path.isdir(os.path.join(ROOT, "cascade_spark")):
        print(f"cascade_spark not found under {ROOT}", file=sys.stderr)
        return 2
    base = os.path.join(ROOT, ".perfbench_tmp")
    run_dir = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(run_dir)
    t_process = time.perf_counter()
    try:
        _prepare_env(run_dir)
        sys.path.insert(0, ROOT)
        sys.path.insert(0, HERE)
        os.chdir(run_dir)  # anything Spark drops in its cwd stays in the run dir
        import workloads
        from spans import NullTracer, Tracer

        tracer = Tracer() if args.trace else NullTracer()
        ctx = workloads.Ctx(
            run_dir=run_dir,
            seed=args.seed,
            seconds=args.seconds,
            tracer=tracer,
            t_process=t_process,
        )
        try:
            res = workloads.run(args.workload, ctx)
        finally:
            _stop_spark()
        if args.trace:
            metrics = workloads.layer_metrics(ctx, res)
            out_dir = os.path.join(ROOT, ".perfbench_traces")
            os.makedirs(out_dir, exist_ok=True)
            tracer.dump(
                os.path.join(out_dir, f"{args.workload}-{args.seed}.json"),
                {
                    "workload": args.workload,
                    "seed": args.seed,
                    "self_ms_by_layer": tracer.self_ms_by_layer(),
                    "checks": res.checks,
                    "details": res.details,
                    "per_layer": {k: v["value"] for k, v in metrics.items()},
                },
            )
        else:
            metrics = res.end_to_end
    finally:
        os.chdir(ROOT)
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(base)  # only when no other run is using it
        except OSError:
            pass
    for name, ok, detail in res.checks:
        print(f"# check {name}: {'ok' if ok else 'FAILED'} {detail}", file=sys.stderr)
    print(
        json.dumps(
            {
                "correct": res.failed == 0,
                "attempted": res.attempted,
                "failed": res.failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
