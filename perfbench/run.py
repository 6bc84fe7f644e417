"""Benchmark of the flagship CDC pipeline and a registry slice.

    python3 perfbench/run.py --workload cdc_stream|batch_ksql --seed N
                             --seconds S --trace 0|1

Run from the root of a source tree.  Every run starts fresh processes
(``worker.py``), keeps all files under ``.perfbench_tmp/`` in the tree
and removes them at exit.  The last line of standard output is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics`` — the
``end_to_end`` metrics of ``BENCHMARK.json`` with ``--trace 0``, its
``per_layer`` metrics with ``--trace 1``.  See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "trainee_scala_module_8_kafka_streaming_etl_pipeline_spark"
WORKLOADS = ("cdc_stream", "batch_ksql")
BATCH_SF = 0.1
DEADLINE_S = 170  # the whole run, every process included


def _cpus() -> int:
    return len(os.sched_getaffinity(0))


def _cpu_times() -> list[int]:
    """The machine's cumulative CPU times (``/proc/stat``), in ticks."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def _reap(pgid: int) -> None:
    """Kill what is left of a worker's process group (the JVM, Python
    workers) and wait until none of it remains."""
    try:
        os.killpg(pgid, signal.SIGKILL)
        for _ in range(200):
            time.sleep(0.05)
            os.killpg(pgid, 0)
    except ProcessLookupError:
        return
    raise RuntimeError(f"process group {pgid} did not end")


def _worker(tmp: str, deadline: float, cpus: int, *args: str) -> dict:
    """Run ``worker.py`` in a fresh process whose files all go under the
    new directory ``tmp``, and return its result."""
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(tmp, d))
    out = os.path.join(tmp, "result.json")
    env = dict(os.environ)
    env.update({
        "PYTHONPATH": os.pathsep.join([ROOT, HERE, env.get("PYTHONPATH", "")]).rstrip(os.pathsep),
        "SPARK_GRAFT_CPUS": str(cpus),
        "TMPDIR": os.path.join(tmp, "tmp"),
        "SPARK_LOCAL_DIRS": os.path.join(tmp, "spark-local"),
        "PYSPARK_PYTHON": sys.executable,
    })
    cmd = [sys.executable, os.path.join(HERE, "worker.py"), "--tmp", tmp, "--out", out,
           "--launched", repr(time.time()), *args]
    proc = subprocess.Popen(cmd, cwd=tmp, env=env, start_new_session=True,
                            stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    try:
        log, _ = proc.communicate(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        raise RuntimeError("worker ran past the deadline") from None
    finally:
        _reap(proc.pid)
    if proc.returncode != 0 or not os.path.exists(out):
        sys.stderr.write(log[-4000:])
        raise RuntimeError(f"worker exited with {proc.returncode}")
    for line in log.splitlines():
        if line.startswith(("round ", "batch ")) or "differs" in line or "failed" in line:
            print(line)
    with open(out) as fh:
        return json.load(fh)


def _tail(secs: list[float]) -> tuple[float, float, int]:
    """(value, percentile, n): the highest percentile with at least 10
    operations beyond it.  With fewer than 20 operations that would not
    reach the median, so a quarter of them lie beyond it instead (none,
    the maximum, below four): one slow round among a few does not set it."""
    xs = sorted(secs)
    n = len(xs)
    beyond = 10 if n >= 20 else n // 4
    if beyond == 0:
        return xs[-1], 100.0, n
    return xs[n - 1 - beyond], 100.0 * (n - beyond) / n, n


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    deadline = time.monotonic() + DEADLINE_S

    missing = [p for p in ("__spark_entry__.py", "bench.py", PKG, "tools/check.py")
               if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: program sources missing under {ROOT}: {missing}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)

    tmp = os.path.join(ROOT, ".perfbench_tmp", f"run-{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    try:
        sys.path.insert(0, ROOT)
        import bench  # host-drift canary, recorded but never gated

        phases = [("start", time.monotonic())]
        cpu0 = _cpu_times()
        canary_s = bench.canary_sec(passes=1)
        phases.append(("canary", time.monotonic()))
        common = ["--workload", args.workload, "--seed", str(args.seed),
                  "--seconds", str(args.seconds), "--trace", str(args.trace)]
        if args.workload != "cdc_stream":
            from gen_tables import generate

            generate(os.path.join(tmp, "data"), args.seed, BATCH_SF)
            common += ["--data", os.path.join(tmp, "data")]
            phases.append(("generate", time.monotonic()))
        res = _worker(os.path.join(tmp, "main"), deadline, _cpus(), *common)
        phases.append(("worker", time.monotonic()))
        baseline = None
        if args.trace and args.workload == "cdc_stream":
            half = ["--seconds", str(args.seconds / 2), "--trace", "0"]
            baseline = _worker(os.path.join(tmp, "local1"), deadline, 1, *common[:4], *half)
            phases.append(("baseline", time.monotonic()))
        spans = os.path.join(tmp, "main", "spans.jsonl")
        if os.path.exists(spans):
            out_dir = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            shutil.copy(spans, os.path.join(out_dir, f"spans-{args.workload}-{args.seed}.jsonl"))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(tmp))
        except OSError:
            pass

    # Steal: time the hypervisor ran another guest while this machine had
    # work for it.  Runs with much of it are slow for reasons outside the
    # program; it is recorded beside the canary and never gated.
    ticks = [b - a for a, b in zip(cpu0, _cpu_times())]
    steal_share = ticks[7] / sum(ticks) if len(ticks) > 7 and sum(ticks) else 0.0
    ops = res["ops"]
    warm = [o for o in ops if o["kind"] == "warm" and not o["traced"]]
    failed = sum(not o["ok"] for o in ops)

    def rate(r):
        w = [o for o in r["ops"] if o["kind"] == "warm" and not o["traced"]]
        return sum(o["records"] for o in w) / sum(o["sec"] for o in w) if w else 0.0

    tail, pct, n = _tail([o["sec"] for o in warm]) if warm else (0.0, 0.0, 0)
    if args.trace:
        values = dict(res["layers"])
        values.update({
            "session.build_s": res["session.build_s"],
            "baseline.local1_records_per_s": rate(baseline) if baseline else 0.0,
            "baseline.localN_records_per_s": rate(res) if baseline else 0.0,
            "host.canary_s": canary_s,
            "host.steal_share": steal_share,
            "process.peak_rss_mb": res["peak_rss_mb"],
        })
        names = spec["per_layer"]
    else:
        values = {
            "setup_s": res["setup_s"],
            "cold_s": sum(o["sec"] for o in ops if o["kind"] == "cold"),
            "op_p50_s": statistics.median([o["sec"] for o in warm]) if warm else 0.0,
            "op_tail_s": tail,
            "records_per_s": rate(res),
            "ok_share": (len(ops) - failed) / len(ops),
        }
        names = spec["end_to_end"]
    print(json.dumps({
        "workload": args.workload, "seed": args.seed, "cores": res["cores"],
        "op_tail_percentile": pct, "warm_ops": n,
        "canary_s": canary_s, "steal_share": round(steal_share, 4),
        "peak_rss_mb": res["peak_rss_mb"], "info": res["info"],
        "warm_s": [round(o["sec"], 3) for o in warm],
        "wall_s": {k: round(t - prev, 2) for (_, prev), (k, t) in zip(phases, phases[1:])},
    }))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
                    for m in names},
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
