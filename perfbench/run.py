"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. Generates the workload's inputs from the
seed, runs the workload in a fresh ``local[N]`` process (N = min(4,
cores)) that also measures its own Spark set-up, checks its outputs and
prints one line per metric followed by one JSON result line. Exits
non-zero when an output check fails or the program cannot run.
Everything the run writes lives under ``.perfbench_tmp/`` in the
current directory and is removed at exit, except the span dump of a traced
run, kept as ``.perfbench_tmp/spans/<workload>-<seed>.jsonl``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import spans  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

RUN_TIMEOUT_S = 165.0
MAX_CPUS = 4

# The JSON result carries these; op_p50_s, op_tail_s and error_rate are
# printed lines only (README.md: too few operation samples per run to
# stay within a bound, and error_rate's median is 0).
END_TO_END = {
    "setup_s": "s", "cold_pass_s": "s", "rows_per_s": "1/s", "peak_rss_mb": "MB",
}
SPECIFIC = {
    "io.sources.input_mb": "MB", "io.sinks.output_mb": "MB",
    "operators.dedup.verified_per_candidate": "ratio",
    "queries.build_s": "s", "trace.cold_pass_s": "s", "trace.rows_per_s": "1/s",
}


# Per-layer figures that read 0 in the traced runs of both listed
# workloads: no stage spills at these input sizes, a source load never
# shuffles, and `scoring.score` and `quality.check` build lazy plans whose
# jobs run under the calling verb's spans. They are printed, not reported
# as JSON metrics.
UNREPORTED = {f"{layer}.spill_mb" for layer in spans.LAYERS} | {"io.sources.shuffle_mb"} | {
    f"operators.{layer}.{m}" for layer in ("scoring", "quality")
    for m in ("wait_s", "jobs", "tasks", "cpu_s", "shuffle_mb")
}


def per_layer_units() -> dict[str, str]:
    units = {
        f"{layer}.{m}": u for layer in spans.LAYERS for m, u in spans.LAYER_METRICS.items()
    }
    units.update(SPECIFIC)
    return units


def tail(samples: list[float]) -> tuple[float, float]:
    """The highest percentile with at least ten samples beyond it, and its
    value: the 11th largest sample. With fewer than 11 samples no such
    percentile exists; the maximum is reported as p100."""
    s = sorted(samples)
    n = len(s)
    if n < 11:
        return 100.0, s[-1]
    return 100.0 * (n - 10) / n, s[n - 11]


def _reap(proc: subprocess.Popen) -> None:
    """Kill what is left of ``proc``'s session (its driver JVM and the JVM's
    Python workers) and wait until every process of it has ended. The
    worker has written its figures by then; nothing needs a graceful stop."""
    for _ in range(100):
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        if proc.poll() is not None and not _session_pids(proc.pid):
            return
        time.sleep(0.1)
    raise RuntimeError(f"processes of worker {proc.pid} did not end")


def _session_pids(sid: int) -> list[int]:
    out = []
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                if os.getsid(int(d)) == sid:
                    out.append(int(d))
            except OSError:
                pass
    return out


def spawn(args: list[str], env: dict, cwd: str, deadline: float, log) -> dict:
    """Run a worker in its own session; returns the JSON it wrote to
    ``--out``. Its output streams go to ``log``: the driver JVM inherits
    them, so a pipe would stay open until the JVM ended."""
    out = os.path.join(cwd, "..", f"out-{time.time_ns()}.json")
    env = dict(env, PERFBENCH_SPAWNED=repr(time.time()))
    proc = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "worker.py"), *args, "--out", out],
        cwd=cwd, env=env, stdin=subprocess.DEVNULL, stdout=log, stderr=log,
        start_new_session=True,
    )
    try:
        proc.wait(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        pass
    finally:
        _reap(proc)
    if proc.returncode != 0:
        raise RuntimeError(f"worker {' '.join(args[:2])} exited {proc.returncode}")
    with open(out, encoding="utf-8") as fh:
        return json.load(fh)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    start = time.time()
    repo = os.getcwd()
    if not os.path.isfile(os.path.join(repo, "spark_pipeline_spark", "__init__.py")):
        print("perfbench: run from the repository root (spark_pipeline_spark/ not found)",
              file=sys.stderr)
        return 2

    tmp = os.path.join(repo, ".perfbench_tmp", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(tmp)
    try:
        return _run(args, repo, tmp, start)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(tmp))
        except OSError:
            pass  # another run's directory is still there


def _run(args, repo: str, tmp: str, start: float) -> int:
    deadline = start + RUN_TIMEOUT_S
    inputs = gen.generate(
        os.path.join(tmp, "inputs"), args.seed, WORKLOADS[args.workload].inputs
    )
    inputs_json = os.path.join(tmp, "inputs.json")
    with open(inputs_json, "w", encoding="utf-8") as fh:
        json.dump(inputs.__dict__, fh)

    cpus = max(1, min(MAX_CPUS, os.cpu_count() or 1))
    work = os.path.join(tmp, "work")
    tmpfiles = os.path.join(tmp, "tmp")
    os.makedirs(os.path.join(work, "spark-local"))
    os.makedirs(tmpfiles)
    env = dict(os.environ)
    # every file the processes write stays under `tmp`: Spark's local
    # dirs, Python's and the JVM's temp files (native libraries, artifact
    # dirs), and no hsperfdata file in /tmp
    env.update(
        PYTHONPATH=os.pathsep.join(filter(None, [repo, env.get("PYTHONPATH")])),
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        TMPDIR=tmpfiles,
        JAVA_TOOL_OPTIONS=" ".join(filter(None, [
            env.get("JAVA_TOOL_OPTIONS"), f"-Djava.io.tmpdir={tmpfiles}", "-XX:-UsePerfData",
        ])),
        PYTHONDONTWRITEBYTECODE="1",
    )
    env.pop("SPARK_GRAFT_MASTER", None)
    spans_dir = os.path.join(os.path.dirname(tmp), "spans")
    log_path = os.path.join(tmp, "worker.log")
    with open(log_path, "w", encoding="utf-8") as log:
        try:
            res = spawn(["--workload", args.workload, "--inputs", inputs_json,
                         "--seconds", str(args.seconds), "--trace", str(args.trace),
                         "--spans", os.path.join(spans_dir, f"{args.workload}-{args.seed}.jsonl")],
                        env, work, deadline, log)
        except (RuntimeError, OSError, ValueError, KeyError) as exc:
            log.flush()
            with open(log_path, encoding="utf-8", errors="replace") as fh:
                sys.stderr.write(fh.read()[-4000:])
            print(f"perfbench: {exc}", file=sys.stderr)
            return 1
    t = {"start": start, **res["phases"], "exit": time.time()}
    print("perfbench: phases " + " ".join(
        f"{b}+{t[b] - t[a]:.1f}s" for a, b in zip(t, list(t)[1:])), file=sys.stderr)
    return report(args, res, cpus)


def report(args, res: dict, cpus: int) -> int:
    warm = res["warm_pass_s"]
    ops = [s for _, s in res["ops"]]
    pct, op_tail = tail(ops) if ops else (0.0, 0.0)
    e2e = {
        "setup_s": res["setup_s"],
        "cold_pass_s": res["cold_pass_s"],
        "rows_per_s": res["input_rows"] / statistics.median(warm) if warm else 0.0,
        "op_p50_s": statistics.median(ops) if ops else 0.0,
        "op_tail_s": op_tail,
        "peak_rss_mb": res["peak_rss_mb"],
    }
    attempted, failed = res["attempted"], res["failed"]
    for err in res["errors"]:
        print(f"perfbench: check failed: {err}", file=sys.stderr)

    print(f"workload {args.workload} seed {args.seed} local[{cpus}] "
          f"input_rows {res['input_rows']} warm_passes {len(warm)}")
    beyond = "10 samples beyond it" if len(ops) >= 11 else "fewer than 11 samples: the maximum"
    print(f"op samples {len(ops)}; op_tail_s is p{pct:.1f} ({beyond})")
    by_name: dict[str, list[float]] = {}
    for name, s in res["ops"]:
        by_name.setdefault(name, []).append(s)
    for name, s in by_name.items():
        print(f"  op {name} median {statistics.median(s):.4g} s over {len(s)}")
    for name, unit in {**END_TO_END, "op_p50_s": "s", "op_tail_s": "s"}.items():
        print(f"{name} {e2e[name]:.6g} {unit}")
    print(f"error_rate {failed / attempted:.6g} ({failed}/{attempted} operations)")

    if args.trace:
        metrics = traced_metrics(res, warm)
        units = per_layer_units()
        for name in units:
            print(f"{name} {metrics[name]:.6g} {units[name]}")
        for name, v in sorted((res.get("extras") or [{}])[-1].items()):
            if name not in units:  # e.g. the index size after each step
                print(f"{name} {v:.6g} (last measured pass)")
        out = {k: {"value": metrics[k], "unit": u} for k, u in units.items()
               if k not in UNREPORTED}
    else:
        out = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
    ok = failed == 0
    print(json.dumps({"correct": ok, "attempted": attempted, "failed": failed,
                      "metrics": out}))
    return 0 if ok else 1


def traced_metrics(res: dict, warm: list[float]) -> dict[str, float]:
    """Per-layer metrics: the median over measured passes of each pass's
    totals; layers the workload does not call read 0."""
    def med(values: list[float]) -> float:
        return statistics.median(values) if values else 0.0

    out = {}
    per_pass = res.get("layers", [])
    for layer in spans.LAYERS:
        for m in spans.LAYER_METRICS:
            out[f"{layer}.{m}"] = med([p.get(layer, {}).get(m, 0.0) for p in per_pass])
    for m, v in res.get("session", {}).items():
        out[f"session.{m}"] = v
    io_ = res.get("io", [])
    out["io.sources.input_mb"] = med([i for i, _ in io_])
    out["io.sinks.output_mb"] = med([o for _, o in io_])
    extras = res.get("extras", [])
    out["queries.build_s"] = med([e["queries.build_s"] for e in extras if "queries.build_s" in e])
    out["operators.dedup.verified_per_candidate"] = res.get("extra_once", {}).get(
        "operators.dedup.verified_per_candidate", 0.0
    )
    out["trace.cold_pass_s"] = res["cold_pass_s"]
    out["trace.rows_per_s"] = res["input_rows"] / med(warm) if warm else 0.0
    for k, v in out.items():
        if not math.isfinite(v):
            out[k] = 0.0
    return out


if __name__ == "__main__":
    sys.exit(main())
