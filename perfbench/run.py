#!/usr/bin/env python3
"""Run one benchmark workload against the engine and print its metrics.

Usage (from the repository root):

    python3 perfbench/run.py --workload backfill-bulk --seed 1 --seconds 14 --trace 0

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.  The
line before it records the machine, the versions, the settings and the
workload's own figures under the names the README uses.  A traced run also
writes its spans to ``.perfbench_out/``.  The exit code is 0 only when every
output check passed.

Everything the run writes stays inside the repository root, in
``.perfbench_work/`` (removed at exit) and ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

UNITS = {
    "setup_s": "s",
    "main_op_s_p50": "s",
    "side_op_s_p50": "s",
    "peak_rss_mb": "MB",
}


def layer_units() -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}


def machine_info(seed: int, java_version: str | None) -> dict:
    import pyspark

    with open("/proc/meminfo") as f:
        mem_kb = int(f.readline().split()[1])
    try:
        sha = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
            text=True, timeout=10,
        ).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        sha = None
    return {
        "nproc": os.cpu_count(),
        "ram_gb": round(mem_kb / 2**20, 1),
        "spark": pyspark.__version__,
        "java": java_version,
        "python": platform.python_version(),
        "git_sha": sha,
        "seed": seed,
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a terminated run still stops Spark and removes its work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    work = os.path.join(ROOT, ".perfbench_work", f"run-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # before the engine is imported: its session module picks the local and
    # warehouse dirs from these at import time
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(work, "warehouse")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # every JVM the launch starts (the launcher's and the driver's) keeps its
    # temp files in the work dir and writes no hsperfdata file
    os.environ["JAVA_TOOL_OPTIONS"] = (
        "-XX:-UsePerfData -Djava.io.tmpdir=" + os.path.join(work, "tmp")
    )
    sys.path[:0] = [ROOT, HERE]
    try:
        import workloads
        from tracing import Tracer

        if args.workload not in workloads.WORKLOADS:
            ap.error(f"unknown workload {args.workload!r}; "
                     f"one of {sorted(workloads.WORKLOADS)}")
        ctx = workloads.Ctx(work=work, seed=args.seed, seconds=args.seconds,
                            trace=bool(args.trace), tracer=Tracer(False))
        try:
            workloads.WORKLOADS[args.workload](ctx)
        finally:
            ctx.sess.shutdown()
            ctx.phase("shutdown")
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))  # only when no other run uses it
        except OSError:
            pass

    tally = ctx.tally
    info = {
        **machine_info(args.seed, ctx.sess.java_version),
        **workloads.SETTINGS,
        "workload": args.workload,
        "seconds": args.seconds,
        "trace": args.trace,
    }
    summary = {
        **ctx.e2e,
        **ctx.summary,
        "ops_failed_share": tally.failed / tally.attempted,
        "errors": tally.errors,
        "phase_s": ctx.phases,
    }
    if args.trace:
        units = layer_units()
        metrics = {k: {"value": ctx.layer[k], "unit": u} for k, u in units.items()}
        out = os.path.join(ROOT, ".perfbench_out",
                           f"trace-{args.workload}-seed{args.seed}.json")
        ctx.tracer.write(out, {"info": info, "summary": summary, "layer": ctx.layer,
                               "probes": ctx.ladder})
    else:
        metrics = {k: {"value": ctx.e2e[k], "unit": u} for k, u in UNITS.items()}
    print(json.dumps({"info": info, "summary": summary}))
    print(json.dumps({
        "correct": tally.failed == 0,
        "attempted": tally.attempted,
        "failed": tally.failed,
        "metrics": metrics,
    }), flush=True)
    return 0 if tally.failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
