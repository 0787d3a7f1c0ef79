"""One benchmark process: a fresh Spark session running one workload.

Started by ``run.py`` with the repository root on ``PYTHONPATH`` and a
temporary directory as its working directory. It measures its own set-up
(process start to a ready session), runs the cold pass, then measured
passes for at least ``--seconds`` (no warm-up), checks outputs and writes
its raw figures as JSON to ``--out``.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import traceback

# The benchmark's own modules are imported after the session is ready, so
# the set-up time pays for the program's imports only.
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


class Ctx:
    def __init__(self, spark, inputs: dict, work: str, tracer) -> None:
        self.spark = spark
        self.inputs = inputs
        self.work = work
        self.tracer = tracer

    def path(self, table: str) -> str:
        return os.path.join(self.inputs["root"], f"{table}.parquet")


def ready_session():
    from spark_pipeline_spark.session import get_session

    spark = get_session(app_name="perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    return spark


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status", encoding="ascii") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def driver_jvm_pids() -> list[int]:
    """Direct children of this process that run a JVM."""
    me = os.getpid()
    pids = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat", encoding="ascii", errors="replace") as fh:
                stat = fh.read()
        except OSError:
            continue
        comm = stat[stat.index("(") + 1 : stat.rindex(")")]
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        if ppid == me and comm == "java":
            pids.append(int(d))
    return pids


def run_one(p, wl, tracer) -> tuple[float, int | None]:
    """Run and check one pass; returns (wall, root span id)."""
    root = None
    t0 = time.perf_counter()
    try:
        with tracer.span("pass", None) as sp:
            root = sp.sid if sp is not None else None
            wl.run_pass(p)
    except Exception:
        p.errors.append(f"pass {p.index} raised:\n{traceback.format_exc()}")
    wall = time.perf_counter() - t0
    if not p.errors:
        try:
            p.errors.extend(wl.check_pass(p))
        except Exception:
            p.errors.append(f"pass {p.index} check raised:\n{traceback.format_exc()}")
    return wall, root


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--inputs")
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out")
    ap.add_argument("--spans", help="where a traced run writes its spans")
    args = ap.parse_args()
    spawned = float(os.environ["PERFBENCH_SPAWNED"])

    spark = ready_session()
    ready = time.time()
    import spans as tracing
    from workloads import WORKLOADS, Pass

    with open(args.inputs, encoding="utf-8") as fh:
        inputs = json.load(fh)
    work = os.getcwd()
    tracer = tracing.NullTracer()
    if args.trace:
        tracer = tracing.Tracer(spark, run_id=f"{args.workload}-{inputs['seed']}")
        # the set-up as the `session` layer's span; its trivial job is
        # attributed by submission time
        sp = tracing.Span(sid=0, name="setup", layer="session", parent=None,
                          run_id=tracer.run_id, start=spawned, end=ready)
        tracer.spans.append(sp)
        tracer.step_done()
        tracer.instrument()
    ctx = Ctx(spark, inputs, work, tracer)
    wl = WORKLOADS[args.workload](ctx)
    res = {"setup_s": ready - spawned, "input_rows": wl.input_rows,
           "cpus": os.environ.get("SPARK_GRAFT_CPUS"), "errors": []}
    passes = []  # (Pass, wall, root span id)
    phases = res["phases"] = {"ready": ready}
    try:
        wl.prepare()
        phases["prepared"] = time.time()
        # the cold pass, then whole measured passes for at least --seconds
        deadline = None
        while deadline is None or time.perf_counter() < deadline:
            p = Pass(ctx, len(passes))
            passes.append((p, *run_one(p, wl, tracer)))
            if p.errors:
                break
            if deadline is None:
                deadline = time.perf_counter() + args.seconds
        phases["measured"] = time.time()
        if not any(p.errors for p, _, _ in passes):
            res["errors"].extend(wl.final_check(passes[-1][0]))
        phases["checked"] = time.time()
    except Exception:
        res["errors"].append(traceback.format_exc())

    for p, _, _ in passes:
        res["errors"].extend(p.errors)
    # every failed check or raised step is one failed operation
    res["attempted"] = sum(p.attempted for p, _, _ in passes) + 1  # + final check
    res["failed"] = min(len(res["errors"]), res["attempted"])
    res["cold_pass_s"] = passes[0][1] if passes else 0.0
    measured = passes[1:]
    res["warm_pass_s"] = [w for _, w, _ in measured]
    # op statistics over the first measured pass only, so the sample count
    # (and with it the tail percentile) is the same in every run
    res["ops"] = measured[0][0].ops if measured else []
    if tracer.enabled and measured:
        res["layers"] = [tracer.layer_totals(root) for _, _, root in measured]
        res["io"] = [tracer.io_totals(root) for _, _, root in measured]
        res["session"] = tracer.layer_totals(0).get("session", {})
        res["extras"] = [
            {k: v for k, v in p.out.items() if isinstance(v, (int, float)) and "." in k}
            for p, _, _ in measured
        ]
        if hasattr(wl, "trace_extras"):
            res["extra_once"] = wl.trace_extras()
        tracer.uninstrument()
        os.makedirs(os.path.dirname(args.spans), exist_ok=True)
        tracer.dump(args.spans)
    jvms = driver_jvm_pids()
    res["peak_rss_mb"] = vm_hwm_mb("self") + sum(vm_hwm_mb(p) for p in jvms)
    res["jvm_pids"] = jvms
    phases["done"] = time.time()
    with open(args.out, "w", encoding="utf-8") as fh:
        json.dump(res, fh)
    os._exit(0)  # run.py stops the JVM and waits for it


if __name__ == "__main__":
    sys.exit(main())
