"""One benchmark run in a fresh process (started by ``run.py``).

Usage: child.py <spec.json>. The spec names the workload, seed, seconds,
data directory, work directory, trace flag and the parent's launch
timestamp; the child writes its measurements to ``spec["out"]``.
Operation outputs are collected rows; they are checked by the parent,
outside every timer.
"""

from __future__ import annotations

import json
import os
import sys
import time
import traceback
from contextlib import nullcontext

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import workloads as W  # noqa: E402


def jsonable(v):
    from decimal import Decimal

    if isinstance(v, Decimal):
        return str(v)
    if isinstance(v, (list, tuple)):
        return [jsonable(x) for x in v]
    return v


class Runner:
    def __init__(self, spec: dict):
        self.spec = spec
        self.tracer = None
        if spec["trace"]:
            from tracing import Tracer

            self.tracer = Tracer()
            self.tracer.install_py4j()
            self.tracer.install()
        self.ops: list[dict] = []
        self.passes: list[dict] = []

    def span(self, name, layer, phase=None):
        return nullcontext() if self.tracer is None else self.tracer.span(name, layer, phase)

    def set_op(self, op: str) -> None:
        if self.tracer is not None:
            self.tracer.op = op
            self.tracer._tag(None)

    def run_op(self, pass_no: int, name: str, layer: str, fn, expect=None) -> dict:
        """Time one op: ``fn(act)`` builds through the engine and calls
        ``act(df)`` for the action. An exception is a failed op, unless it
        is the ``expect``-ed exception type (a seeded rejection)."""
        op_id = f"p{pass_no}.{name}"
        self.set_op(op_id)
        rec = {"pass": pass_no, "op": name, "layer": layer, "ok": True, "rows": None, "error": None}

        def act(df):
            with self.span(f"{name}.action", layer, "exec"):
                return [jsonable(list(r)) for r in df.collect()]

        t0 = time.perf_counter()
        try:
            with self.span(name, layer, "build"):
                rec["rows"] = fn(act)
        except Exception as e:  # a failing op is counted, the run goes on
            if expect is not None and isinstance(e, expect):
                rec["rejected"] = True
            else:
                rec["ok"] = False
                rec["error"] = f"{type(e).__name__}: {e}"
                traceback.print_exc()
        rec["wall_s"] = time.perf_counter() - t0
        self.set_op("idle")
        self.ops.append(rec)
        return rec


def release(spark) -> None:
    """Between passes, outside the timers: only what a user can call."""
    from hgraphstorage_spark.pipeline.state import release_tracked

    release_tracked()
    spark.catalog.clearCache()


def session(runner: Runner):
    from hgraphstorage_spark import get_spark

    with runner.span("get_spark", "bench"):
        spark = get_spark("perfbench")
    if runner.tracer is not None:
        runner.tracer.bind(spark)
    return spark


def open_data(runner: Runner, fn):
    """Open the workload's data once; returns the handle and its wall."""
    runner.set_op("open")
    t0 = time.perf_counter()
    with runner.span("open", "bench"):
        handle = fn()
    wall = time.perf_counter() - t0
    runner.set_op("idle")
    return handle, wall


def passes_loop(runner: Runner, spark, make_ops, seconds: float, writes=None, min_passes: int = 2) -> None:
    """Closed loop, one client: pass after pass until ``seconds`` have
    passed and at least ``min_passes`` passes (the cold one and warm ones)
    ran. ``writes(params)(pass_no)``, if given, runs after the read ops."""
    spec = runner.spec
    t_start = time.perf_counter()
    p = 0
    while p < min_passes or time.perf_counter() - t_start < seconds:
        prm = W.params(spec["workload"], spec["seed"], p, spec["sf"])
        t0 = time.perf_counter()
        for name, layer, fn in make_ops(prm):
            runner.run_op(p, name, layer, fn)
        if writes is not None:
            writes(prm)(p)
        runner.passes.append({"pass": p, "wall_s": time.perf_counter() - t0, "params": prm})
        release(spark)
        p += 1


def graph_txn(runner: Runner, spark, out: dict) -> None:
    """Analytics over the TPC-H graph beside durable transactions on a
    Hackage store, one checkpoint cycle of writes per pass."""
    from pyspark.sql import functions as F

    from hgraphstorage_spark import DuplicateIndexKey, T, open_graph
    from hgraphstorage_spark.sources import load_tpch_graph
    from hgraphstorage_spark.sources.hackage import load_hackage_graph

    spec = runner.spec
    root = os.path.join(spec["work"], "store")  # the run directory starts empty

    def open_():
        snap = load_tpch_graph(spark, spec["data"])
        return snap, open_graph(spark, root, checkpoint_every=W.CHECKPOINT_EVERY)

    (snap, eng), out["open_s"] = open_data(runner, open_)
    txns: list[dict] = []
    acked: list[dict] = []

    def ingest(act):
        hack = load_hackage_graph(spark, W.HACKAGE_PACKAGES)
        eng.add_nodes_df(hack.nodes, hack.props)
        eng.add_edges_df(hack.edges)
        v = eng.commit()
        eng.add_index("pkg_name", ["Package"], ["name"])
        return act(eng.current.nodes.groupBy("label").count()) + [["version", v]]

    def txn_op(p, k, tx):
        def txn(act):
            t = eng.begin()
            nid = t.add_node("Package", {"name": tx["name"]})
            t.add_edge(nid, tx["depends_on"], "depends")
            t.set_properties(tx["touch"], "node", {"downloads": tx["downloads"]})
            try:
                v = t.commit()
            except DuplicateIndexKey:
                t.rollback()
                raise
            return [[v, nid]]

        r = runner.run_op(p, f"txn{k}", "engine", txn, expect=DuplicateIndexKey)
        entry = {"pass": p, "k": k, "name": tx["name"], "reject": tx["reject"], "read": tx["read"],
                 "depends_on": tx["depends_on"], "wall_s": r["wall_s"], "ok": r["ok"],
                 "rejected": r.get("rejected", False)}
        txns.append(entry)
        if not r["ok"] or entry["rejected"]:
            return
        entry["version"], entry["node"] = r["rows"][0]
        acked.append(entry)

        def read(act):  # read-your-writes at head
            if tx["read"] == "index":
                return act(eng.index_lookup("pkg_name", tx["name"]).select("owner_id"))
            return act(eng.traverse(T().nid(entry["node"]).out("depends").values("name")).df.select("id"))

        entry["read_s"] = runner.run_op(p, f"read{k}", "engine", read)["wall_s"]

    def write_ops(prm):
        def run(p):
            if p == 0:
                rec = runner.run_op(0, "bulk_ingest", "engine", ingest)
                out["ingest_s"] = rec["wall_s"]
            t0 = time.perf_counter()
            for k, tx in enumerate(prm["txns"]):
                txn_op(p, k, tx)
            # one time-travel read of an older version per cycle
            old = acked[len(acked) // 2]["version"] if acked else 1
            runner.run_op(p, "snapshot_at", "engine",
                          lambda act: act(eng.snapshot_at(old).nodes.groupBy("label").count()) + [["version", old]])
            out["write_s"] = out.get("write_s", 0.0) + time.perf_counter() - t0
        return run

    passes_loop(runner, spark, lambda prm: W.graph_ops(snap, prm), spec["seconds"], write_ops)
    out["txns"] = txns

    # recovery: reopen from disk and read, then look up every acknowledged write
    runner.set_op("recovery")
    t0 = time.perf_counter()
    with runner.span("reopen", "bench"):
        eng2 = open_graph(spark, root, checkpoint_every=W.CHECKPOINT_EVERY)
        first = eng2.index_lookup("pkg_name", acked[0]["name"]).count() if acked else 0
    out["recovery_s"] = time.perf_counter() - t0
    out["recovery_first_rows"] = first
    names = [t["name"] for t in acked]
    found = eng2.current.indexes["pkg_name"].filter(F.col("key").isin(names)).select("key").collect()
    out["recovered_names"] = sorted(r[0] for r in found)
    out["store_bytes"] = {
        part: sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(os.path.join(root, part)) for f in fs)
        for part in ("ledger", "versions")
    }


def llm_dedup(runner: Runner, spark, out: dict) -> None:
    data = runner.spec["data"]

    def open_():
        return spark.read.parquet(f"{data}/documents.parquet"), spark.read.parquet(f"{data}/embeddings.parquet")

    (docs, emb), out["open_s"] = open_data(runner, open_)
    passes_loop(runner, spark, lambda prm: W.llm_ops(docs, emb, prm), runner.spec["seconds"],
                min_passes=W.LLM_MIN_PASSES)


def java_pid(spark) -> int | None:
    try:
        return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
    except Exception:
        return None


def hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def main() -> int:
    with open(sys.argv[1]) as f:
        spec = json.load(f)
    runner = Runner(spec)
    out: dict = {"workload": spec["workload"], "seed": spec["seed"], "trace": spec["trace"]}
    spark = session(runner)
    out["session_s"] = time.time() - spec["launch_ts"]
    out["versions"] = {
        "spark": spark.version,
        "java": spark.sparkContext._jvm.java.lang.System.getProperty("java.version"),
        "python": sys.version.split()[0],
    }
    {"graph_txn": graph_txn, "llm_dedup": llm_dedup}[spec["workload"]](
        runner, spark, out
    )
    out["ops"] = runner.ops
    out["passes"] = runner.passes
    jpid = java_pid(spark)
    out["rss_python_mb"] = hwm_mb(os.getpid())
    out["rss_jvm_mb"] = hwm_mb(jpid) if jpid else 0.0
    out["peak_rss_mb"] = out["rss_python_mb"] + out["rss_jvm_mb"]
    if runner.tracer is not None:
        runner.tracer.dump(os.path.join(spec["work"], "spans.json"))
        out["trace_hook_s"] = runner.tracer.hook_s
    spark.stop()
    with open(spec["out"], "w") as f:
        json.dump(out, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
