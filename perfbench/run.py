"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout of the repository. Each run generates (once
per checkout) the input tables under ``.perfbench_work/``, starts ONE fresh
child process at ``local[<cores>]`` with a box-fitted driver heap, runs the
workload there with one closed-loop client, checks every op's output
outside the timers, and prints one JSON object as the last line of stdout.

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` runs the child
with tracing (spans, py4j counter, job groups, uncompressed event log) and
reports the per-layer table, including the tracing overhead against the
untraced runs of the same workload recorded in this checkout (the same
seed's when there is one).

See NOTES.md for the workloads, their sizes and the layer -> end-to-end map.
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
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import layers  # noqa: E402
import oracle  # noqa: E402
import workloads as W  # noqa: E402
from tracing import parse_event_log  # noqa: E402

CHILD_TIMEOUT_S = 165
WORK = ".perfbench_work"


def fitted_env(root: str, work: str, trace_dir: str | None) -> dict[str, str]:
    """Child environment sized to this machine: every core Spark can use,
    and a quarter of MemAvailable, at most 3g (sf0.1 needs less), for the
    driver heap, which the session pins with -Xms; the machine may be
    shared. The cap keeps the heap, and so GC and peak RSS, the same from
    run to run while memory allows. Scratch paths stay inside the
    checkout."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        avail_kb = next(int(line.split()[1]) for line in f if line.startswith("MemAvailable:"))
    mem_g = max(1, min(3, avail_kb // 4 // (1024 * 1024)))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{mem_g}g",
        "SPARK_GRAFT_WAREHOUSE": os.path.join(work, "warehouse"),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYTHONPATH": os.pathsep.join([root, HERE]),
        "PYTHONDONTWRITEBYTECODE": "1",
    })
    env.pop("PYSPARK_SUBMIT_ARGS", None)
    if trace_dir is not None:
        env["PYSPARK_SUBMIT_ARGS"] = " ".join([
            "--conf spark.eventLog.enabled=true",
            f"--conf spark.eventLog.dir=file://{trace_dir}",
            "--conf spark.eventLog.compress=false",
            "--conf spark.eventLog.rolling.enabled=false",
            "pyspark-shell",
        ])
    return env


def group_running(pgid: int) -> bool:
    """Whether a process of group ``pgid`` still runs. One that has exited
    but waits for init to reap it (the JVM and its helpers are reparented
    when the child exits, and init may take a second or more) has ended."""
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                state, _ppid, pgrp = f.read().rsplit(")", 1)[1].split()[:3]
        except (OSError, ValueError):
            continue  # gone meanwhile
        if int(pgrp) == pgid and state != "Z":
            return True
    return False


def stop_group(proc: subprocess.Popen) -> None:
    """Stop every process of the child's session (the child, its JVM and
    Python workers) and wait until none is left running."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        try:
            os.killpg(proc.pid, sig)
        except ProcessLookupError:
            return
        deadline = time.time() + 10
        while time.time() < deadline:
            proc.poll()  # reap the child itself
            if not group_running(proc.pid):
                return
            time.sleep(0.05)


def run_child(spec: dict, env: dict, log_path: str, deadline: float) -> dict:
    spec_path = os.path.join(spec["work"], "spec.json")
    if os.path.exists(spec["out"]):
        os.unlink(spec["out"])
    with open(log_path, "w") as log:
        spec["launch_ts"] = time.time()
        with open(spec_path, "w") as f:
            json.dump(spec, f)
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "child.py"), spec_path],
            env=env, stdout=log, stderr=subprocess.STDOUT, start_new_session=True,
        )
        try:
            code = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            code = None
        finally:
            stop_group(proc)
            proc.wait()
    if code != 0 or not os.path.exists(spec["out"]):
        with open(log_path) as f:
            tail = f.read()[-4000:]
        sys.stderr.write(tail)
        raise SystemExit(f"benchmark child {'timed out' if code is None else f'exited {code}'}; log: {log_path}")
    with open(spec["out"]) as f:
        return json.load(f)


def end_to_end(out: dict) -> dict[str, float]:
    walls = [p["wall_s"] for p in out["passes"]]
    return {
        "setup_s": out["session_s"] + out["open_s"],
        "cold_pass_s": walls[0],
        "warm_pass_s": statistics.median(walls[1:]),
        "peak_rss_mb": out["peak_rss_mb"],
    }


E2E_UNITS = {"setup_s": "s", "cold_pass_s": "s", "warm_pass_s": "s", "peak_rss_mb": "MB"}


def verify(out: dict, data: str) -> list[tuple[str, str]]:
    """(op, reason) for every failed or wrong-output op."""
    ref = oracle.Reference(data)
    fails = []
    params = {p["pass"]: p["params"] for p in out["passes"]}
    for rec in out["ops"]:
        tag = f"p{rec['pass']}.{rec['op']}"
        if not rec["ok"]:
            fails.append((tag, rec["error"]))
            continue
        if rec["op"].startswith("txn"):
            continue  # acknowledged or rejected: check_durable below
        if rec["layer"] == "engine" and rec["op"] != "index_lookup":
            why = oracle.check_durable_op(rec, out)
        else:
            why = oracle.check_op(ref, rec, params[rec["pass"]])
        if why:
            fails.append((tag, why))
    if "txns" in out:
        fails += oracle.check_durable(out)
    return fails


def attempted(out: dict) -> int:
    """Ops run, plus the recovery check of a store."""
    return len(out["ops"]) + ("txns" in out)


def report(out: dict, fails, e2e: dict, env: dict) -> None:
    print(f"workload={out['workload']} seed={out['seed']} trace={out['trace']} "
          f"cpus={env['SPARK_GRAFT_CPUS']} driver_mem={env['SPARK_GRAFT_DRIVER_MEM']} "
          f"spark={out['versions']['spark']} java={out['versions']['java']} python={out['versions']['python']}")
    print(f"  session_s={out['session_s']:.3f} open_s={out['open_s']:.3f} "
          f"rss_python_mb={out['rss_python_mb']:.1f} rss_jvm_mb={out['rss_jvm_mb']:.1f}")
    for p in out["passes"]:
        ops = [f"{r['op']}={r['wall_s']:.3f}" for r in out["ops"] if r["pass"] == p["pass"]]
        print(f"  pass {p['pass']}: {p['wall_s']:.3f} s  " + " ".join(ops))
    n_warm = len(out["passes"]) - 1
    print("  " + " ".join(f"{k}={v:.4f}" for k, v in e2e.items()) + f"  (warm passes n={n_warm})")
    if "txns" in out:
        print("  " + " ".join(f"{k}={v:.4f}" for k, v in layers.durable_summary(out).items()))
    print(f"  error_rate={len(fails)}/{attempted(out)}")
    for tag, why in fails:
        print(f"  FAILED {tag}: {why}")


def untraced_reference(log: str, seed: int) -> dict | None:
    """End-to-end numbers of earlier untraced runs in this checkout: the
    same seed's if there is one, else the median over all seeds."""
    if not os.path.exists(log):
        return None
    with open(log) as f:
        recs = [json.loads(line) for line in f if line.strip()]
    recs = [r for r in recs if r["seed"] == seed] or recs
    if not recs:
        return None
    return {k: statistics.median(r[k] for r in recs) for k in E2E_UNITS}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=W.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=W.SF, help=argparse.SUPPRESS)  # self-test scale
    args = ap.parse_args(argv)
    t_start = time.time()
    deadline = t_start + CHILD_TIMEOUT_S

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "hgraphstorage_spark", "__init__.py")):
        print(f"no hgraphstorage_spark package under {root}: run from the repository root", file=sys.stderr)
        return 2
    work = os.path.join(root, WORK)
    run_dir = os.path.join(work, f"{args.workload}-{args.seed}-{args.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    data = datagen.ensure(work, args.sf)
    spec = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds, "sf": args.sf,
            "data": data, "work": run_dir, "trace": 0, "out": os.path.join(run_dir, "result.json")}

    untraced_env = fitted_env(root, work, None)
    e2e_log = os.path.join(work, f"e2e-{args.workload}-sf{args.sf}.jsonl")
    if not args.trace:
        out = run_child(spec, untraced_env, os.path.join(run_dir, "child.log"), deadline)
        fails = verify(out, data)
        e2e = end_to_end(out)
        report(out, fails, e2e, untraced_env)
        with open(e2e_log, "a") as f:
            f.write(json.dumps({"seed": args.seed, **e2e}) + "\n")
        n_attempted = attempted(out)
        metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in e2e.items()}
    else:
        events = os.path.join(run_dir, "eventlog")
        os.makedirs(events)
        spec["trace"] = 1
        out = run_child(spec, fitted_env(root, work, events), os.path.join(run_dir, "child.log"), deadline)
        fails = verify(out, data)
        n_attempted = attempted(out)
        e2e = end_to_end(out)
        report(out, fails, e2e, untraced_env)
        logs = [os.path.join(events, f) for f in os.listdir(events) if not f.endswith(".inprogress")]
        if len(logs) != 1:
            raise SystemExit(f"expected one finished event log in {events}, found {os.listdir(events)}")
        with open(os.path.join(run_dir, "spans.json")) as f:
            spans = json.load(f)["spans"]
        base = untraced_reference(e2e_log, args.seed)
        if base is None:
            # an untraced child would not fit the run's time limit beside
            # the traced one: charge only the tracer's own time
            print("  no untraced run of this workload in the checkout: overhead = tracer self time")
            base = {**e2e, "warm_pass_s": e2e["warm_pass_s"] - out["trace_hook_s"]}
        table = layers.table(out, spans, parse_event_log(logs[0]), e2e, base)
        print("  tracing overhead vs untraced: "
              + " ".join(f"{k}={e2e[k] - base[k]:+.3f}" for k in ("setup_s", "cold_pass_s", "warm_pass_s")))
        print("  layer table (per warm pass; cold_* = pass 0):")
        for name, value in table.items():
            if value:
                print(f"    {name:42s} {value:14.4f}")
        metrics = {name: {"value": table[name], "unit": u} for name, u in layers.metric_names()}
    print(json.dumps({"correct": not fails, "attempted": n_attempted, "failed": len(fails), "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
