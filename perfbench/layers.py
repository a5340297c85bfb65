"""Per-layer table of a traced run: spans (``tracing.Tracer``) joined with
event-log counters (``tracing.parse_event_log``) by job group.

Counters are per warm pass (the mean over passes 1..n); ``cold_*``
counters are pass 0 and ``open_s`` the data open of the set-up. The transaction, store and ingest figures of
``graph_txn`` come from its whole write phase.
"""

from __future__ import annotations

import statistics
from collections import defaultdict

import workloads as W
from tracing import LAYERS

GENERIC = ("calls", "build_s", "exec_s", "py4j_calls", "jobs", "tasks", "shuffle_write_bytes",
           "fetch_wait_s", "python_bytes_sent", "python_boot_s", "gc_s", "spill_bytes", "failed")
SMALL = ("calls", "build_s", "py4j_calls", "jobs", "tasks", "failed")
NO_PYTHON = tuple(c for c in GENERIC if not c.startswith("python_"))

# layer -> (counter, unit) rows of the table; "where they apply"
COUNTERS: dict[str, tuple[str, ...]] = {
    "session": ("calls", "build_s", "py4j_calls"),
    "sources": ("calls", "build_s", "py4j_calls", "jobs", "tasks", "open_s", "ingest_rows_per_s"),
    "compiler": NO_PYTHON + ("cold_build_s",),
    "analytics": NO_PYTHON + ("cold_build_s",),
    "engine": NO_PYTHON + ("commit_s", "commit_s_first", "commit_s_last", "txn_p50_s", "txns_per_min",
                           "read_after_write_s", "attempted_txns", "rejected_txns"),
    "mutations": SMALL,
    "store": SMALL + ("checkpoint_s", "checkpoint_commits", "ledger_bytes", "snapshot_bytes",
                      "bytes_per_user_byte", "reopen_s"),
    "pipeline.text": GENERIC,
    "pipeline.dedup": GENERIC,
    "pipeline.similarity": GENERIC + ("cold_build_s", "cold_py4j_calls"),
    "pipeline.search": GENERIC,
    "trace": ("overhead_s", "overhead_pct", "hook_s"),
}


def unit(counter: str) -> str:
    if counter == "bytes_per_user_byte":
        return "ratio"
    if "bytes" in counter:
        return "bytes"
    if counter.endswith("_per_s"):
        return "1/s"
    if counter.endswith("_s") or "_s_" in counter:
        return "s"
    if counter.endswith("_pct"):
        return "%"
    if counter.endswith("_per_min"):
        return "1/min"
    return "count"


def metric_names() -> list[tuple[str, str]]:
    return [(f"{layer}.{c}", unit(c)) for layer, cs in COUNTERS.items() for c in cs]


def _pass_of(op: str) -> int | None:
    if op.startswith("p") and "." in op:
        try:
            return int(op[1:op.index(".")])
        except ValueError:
            return None
    return None


def _median(xs, default=0.0):
    return statistics.median(xs) if xs else default


def table(out: dict, spans: list[dict], groups: dict[str, dict], traced_e2e: dict, untraced_e2e: dict) -> dict[str, float]:
    """Every metric of ``metric_names()`` for one traced run; the overhead
    rows compare its end-to-end numbers with the untraced run's."""
    n_warm = max(1, len([p for p in out["passes"] if p["pass"] >= 1]))
    by_id = {s["id"]: s for s in spans}
    acc: dict[str, dict[str, float]] = {layer: defaultdict(float) for layer in COUNTERS}

    for s in spans:
        layer = s["layer"]
        if layer not in LAYERS:
            continue
        p = _pass_of(s["op"])
        parent = by_id.get(s["parent"])
        entry = parent is None or parent["layer"] != layer
        if layer == "session":
            a = acc[layer]
            a["calls"] += entry
            a["build_s"] += s["self_s"]
            a["py4j_calls"] += s["py4j_self"]
            continue
        a = acc[layer]
        if s["op"] == "open":
            a["open_s"] += s["self_s"]
        if p is None:
            continue
        if p == 0:
            if s["phase"] == "build":
                a["cold_build_s"] += s["self_s"]
            a["cold_py4j_calls"] += s["py4j_self"]
            continue
        if s["phase"] == "exec":
            a["exec_s"] += (s["end"] - s["start"]) / n_warm
        else:
            a["build_s"] += s["self_s"] / n_warm
        a["py4j_calls"] += s["py4j_self"] / n_warm
        if entry:
            a["calls"] += 1 / n_warm
            if s["error"] and s["error"] != "DuplicateIndexKey":
                a["failed"] += 1 / n_warm

    for group, g in groups.items():
        op, layer, _phase = (group.split("|") + ["", "", ""])[:3]
        p = _pass_of(op)
        if layer not in acc or p is None or p == 0:
            continue
        a = acc[layer]
        a["jobs"] += g["jobs"] / n_warm
        a["tasks"] += g["tasks"] / n_warm
        a["failed"] += g["failed_jobs"] / n_warm
        for k in ("shuffle_write_bytes", "fetch_wait_s", "gc_s", "spill_bytes", "python_bytes_sent", "python_boot_s"):
            a[k] += g[k] / n_warm

    if "txns" in out:
        durable(out, spans, acc)

    tr = acc["trace"]
    tr["hook_s"] = out.get("trace_hook_s", 0.0)
    tr["overhead_s"] = traced_e2e["warm_pass_s"] - untraced_e2e["warm_pass_s"]
    tr["overhead_pct"] = 100.0 * tr["overhead_s"] / untraced_e2e["warm_pass_s"]

    return {f"{layer}.{c}": float(acc[layer].get(c, 0.0)) for layer, cs in COUNTERS.items() for c in cs}


def durable(out: dict, spans: list[dict], acc) -> None:
    """Commit walls by commits since the last checkpoint; checkpoint time is
    the store's publish at checkpoint versions (it writes the snapshot)."""
    ce = W.CHECKPOINT_EVERY
    version_of = {f"p{t['pass']}.txn{t['k']}": t.get("version") for t in out["txns"]}
    first, last, other, ckpt = [], [], [], []
    for s in spans:
        v = version_of.get(s["op"])
        if v is None or s["error"]:
            continue
        wall = s["end"] - s["start"]
        if s["name"].endswith("Transaction.commit") and v % ce:
            (first if v % ce == 1 else last if v % ce == ce - 1 else other).append(wall)
        elif s["name"].endswith("._try_publish") and v % ce == 0:
            ckpt.append(wall)
    e, st = acc["engine"], acc["store"]
    e["commit_s"] = _median(first + last + other)
    e["commit_s_first"] = _median(first)
    e["commit_s_last"] = _median(last)
    st["checkpoint_s"] = _median(ckpt)
    st["checkpoint_commits"] = len(ckpt)
    for k, v in durable_summary(out).items():
        layer, c = k.split(".", 1)
        acc[layer][c] = v


def durable_summary(out: dict) -> dict[str, float]:
    """The transaction figures an untraced graph_txn run reports too."""
    txns = out["txns"]
    acked = [t for t in txns if "version" in t]
    reads = [t["read_s"] for t in acked if "read_s" in t]
    user = user_bytes(out)
    disk = out["store_bytes"]["ledger"] + out["store_bytes"]["versions"]
    return {
        "engine.txn_p50_s": _median([t["wall_s"] for t in acked]),
        "engine.txns_per_min": 60.0 * len(acked) / out["write_s"],
        "engine.read_after_write_s": _median(reads),
        "engine.attempted_txns": float(len(txns)),
        "engine.rejected_txns": float(sum(t["rejected"] for t in txns)),
        "store.ledger_bytes": float(out["store_bytes"]["ledger"]),
        "store.snapshot_bytes": float(out["store_bytes"]["versions"]),
        "store.bytes_per_user_byte": disk / user,
        "store.reopen_s": out["recovery_s"],
        "sources.ingest_rows_per_s": ingest_rows() / out["ingest_s"],
    }


def _hackage():
    n = W.HACKAGE_PACKAGES
    for i in range(n):
        for j in range(120 if i == 0 else 1 + (i * i) % 113):
            yield i, j


def ingest_rows() -> int:
    """Nodes + edges + property rows of the Hackage graph ingested."""
    n = W.HACKAGE_PACKAGES
    vers = sum(1 for _ in _hackage())
    depends = sum(1 for i, j in _hackage() if (i * 31 + j) % n != i)
    return n + vers + vers + depends + n + vers


def user_bytes(out: dict) -> float:
    """Bytes of user data written: 8 per id, the UTF-8 length of every
    label, property name and value, for the ingest and every acknowledged
    transaction (one node, one edge, one property update)."""
    n = W.HACKAGE_PACKAGES
    b = 0
    for i in range(n):
        b += 8 + len("Package") + 8 + len("name") + len(f"pkg_{i}")
    for i, j in _hackage():
        b += 8 + len("Version") + 8 + len("name") + len(f"{i}.{j}")
        b += 24 + len("versions")
        if (i * 31 + j) % n != i:
            b += 24 + len("depends")
    for t in out["txns"]:
        if "version" in t:
            b += 8 + len("Package") + 8 + len("name") + len(t["name"])
            b += 24 + len("depends")
            b += 8 + len("downloads") + 8
    return float(b)
