"""Run one benchmark workload and print its result.

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 12 --trace 0

Run from the repository root (the engine is imported from there; nothing
is installed). The timed window runs whole ingest rounds or analytics
passes until at least ``--seconds`` have passed, and at least three
analytics passes. An ingest round and three passes each take longer than
12 s, so ``--seconds 12`` gives every run the same work: one round or
three passes. The last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``: with ``--trace 0`` the
metrics are the end-to-end ones of BENCHMARK.json, with ``--trace 1``
the per-layer ones. The line before it, ``{"report": ...}``, carries the
per-op-kind medians and tails by name, the pinned environment, table
sizes and any failures; a traced run adds its round time over that of
the untraced run of the same workload, seed and code, when one ran
before it in this checkout. The same report and the traced run's spans
are written under ``.perfbench/`` in the repository root.

Exits 2 without a result when the engine is not next to this directory.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("ingest", "analytics")
REQUIRED = ("pixeltable_spark/__init__.py", "__spark_entry__.py",
            "tools/check_correctness.py", "tools/py_oracles.py")


def pin_environment(state: str) -> dict:
    """Pin the run environment before Spark starts: one Spark core per
    usable CPU, a driver heap sized to the machine, and every scratch
    directory inside ``state``."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        total_mb = next(int(line.split()[1]) // 1024 for line in f
                        if line.startswith("MemTotal:"))
    mem_mb = max(1024, min(4096, total_mb // 8))
    local, tmp = os.path.join(state, "spark-local"), os.path.join(state, "tmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEM": f"{mem_mb}m",
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "SPARK_GRAFT_JAVA_OPTS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYSPARK_SUBMIT_ARGS":
            "--conf spark.ui.showConsoleProgress=false pyspark-shell",
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    }
    os.environ.update(env)
    return {**env, "machine_mem_mb": total_mb}


def stop(spark) -> None:
    """Stop Spark and wait for the driver JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)


def code_hash() -> str:
    """A digest of the code a run executes: the engine, the query
    entry point, the oracle tools and this harness."""
    import hashlib

    h = hashlib.sha256()
    files = [os.path.join(ROOT, p) for p in REQUIRED[1:]]
    for d in ("pixeltable_spark", "perfbench"):
        for dirpath, dirs, names in os.walk(os.path.join(ROOT, d)):
            dirs[:] = sorted(x for x in dirs
                             if x not in ("__pycache__", "tests"))
            files += [os.path.join(dirpath, n) for n in sorted(names)
                      if n.endswith(".py")]
    for p in files:
        h.update(os.path.relpath(p, ROOT).encode() + b"\0")
        with open(p, "rb") as f:
            h.update(f.read() + b"\0")
    return h.hexdigest()[:16]


def result_path(state: str, workload: str, seed: int, code: str,
                trace: int) -> str:
    return os.path.join(state, "results",
                        f"{workload}-seed{seed}-{code}-trace{trace}.json")


def trace_overhead(state: str, workload: str, seed: int, code: str,
                   traced_round_s: float) -> dict:
    """round_s of this traced run over that of the untraced run of the
    same workload, seed and code; null with the reason when there is
    none."""
    out: dict = {"value": None, "unit": "ratio", "code": code}
    path = result_path(state, workload, seed, code, 0)
    if not os.path.exists(path):
        out["why"] = "no untraced run of this workload, seed and code"
        return out
    with open(path) as f:
        base = json.load(f)["metrics"]["round_s"]["value"]
    out["value"] = traced_round_s / base
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    missing = [p for p in REQUIRED if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: engine not found next to {HERE}: missing "
              f"{', '.join(missing)}", file=sys.stderr)
        return 2

    state = os.path.join(ROOT, ".perfbench")
    code = code_hash()
    work = os.path.join(state, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    env = pin_environment(state)
    sys.path.insert(0, ROOT)

    from perfbench import workloads as wl
    import pixeltable_spark as pxt

    t0 = time.perf_counter()
    spark = pxt.get_session(app_name="perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    session = {"start_s": time.perf_counter() - t0}
    try:
        if args.workload == "ingest":
            res = wl.ingest(spark, work, args.seed, args.seconds,
                            bool(args.trace))
        else:
            res = wl.analytics(spark, work, args.seed, args.seconds,
                               bool(args.trace), ROOT)
        session["warmup_s"] = res["warmup_s"]
        setup_s = res["window_start"] - T_START - res["excluded_s"]
        run = res["run"]
        e2e = wl.end_to_end(res, setup_s)
        if args.trace:
            metrics = {k: {"value": v, "unit": wl.unit_of(k)} for k, v in
                       wl.per_layer(res, session).items()}
        else:
            metrics = e2e
        report = {
            "workload": args.workload, "seed": args.seed,
            "trace": args.trace, "env": env, "setup_s": setup_s,
            "session_start_s": session["start_s"],
            "named": wl.named_metrics(args.workload, res),
            "kind_p50_ms": {k: 1000 * v for k, v in run.kind_p50().items()},
            "warmup_ms": {k: [1000 * x for x in v]
                          for k, v in run.warm.items()},
            "failures": run.failures, **res["report"],
        }
        if args.trace:
            report["trace_overhead_ratio"] = trace_overhead(
                state, args.workload, args.seed, code,
                e2e["round_s"]["value"])
        if run.tracer is not None:
            report["span_self_ms"] = run.tracer.spans.self_times()
            run.tracer.close()
            os.makedirs(os.path.join(state, "traces"), exist_ok=True)
            with open(os.path.join(state, "traces", f"{args.workload}-seed"
                                   f"{args.seed}.json"), "w") as f:
                json.dump(run.tracer.spans.rows, f)
    finally:
        stop(spark)
        shutil.rmtree(work, ignore_errors=True)

    os.makedirs(os.path.join(state, "results"), exist_ok=True)
    with open(result_path(state, args.workload, args.seed, code,
                          args.trace), "w") as f:
        json.dump({"report": report, "metrics": metrics}, f, indent=1)
    report["total_s"] = time.perf_counter() - T_START
    print(json.dumps({"report": report}, default=str))
    print(json.dumps({"correct": not run.failures,
                      "attempted": run.attempted,
                      "failed": len(run.failures), "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
