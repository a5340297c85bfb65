"""Self-test of the benchmark at sf0.001 (a few minutes on 4 cores).

    python3 perfbench/selftest.py        # from the repository root

Checks that one seed yields identical generated inputs (tables and
parameters) and another seed different parameters, and that every
end-to-end metric and every per-layer row named in BENCHMARK.json is
emitted, with its unit, by an untraced and a traced run of each workload,
with all outputs correct.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import workloads as W  # noqa: E402

SF = 0.001


def check(cond: bool, what: str) -> None:
    print(("ok   " if cond else "FAIL ") + what)
    if not cond:
        raise SystemExit(1)


def main() -> int:
    check(datagen.digest(datagen.generate(SF)) == datagen.digest(datagen.generate(SF)),
          "same tables from two generations")
    for w in W.WORKLOADS:
        same = all(W.params(w, 7, p, SF) == W.params(w, 7, p, SF) for p in range(3))
        check(same, f"{w}: seed 7 gives the same parameters twice")
        check(W.params(w, 7, 1, SF) != W.params(w, 8, 1, SF), f"{w}: seeds 7 and 8 differ")

    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        bench = json.load(f)
    want = {0: {m["name"]: m["unit"] for m in bench["end_to_end"]},
            1: {m["name"]: m["unit"] for m in bench["per_layer"]}}
    for w in [x["name"] for x in bench["workloads"]]:
        for trace in (0, 1):
            cmd = [*bench["command"], "--workload", w, "--seed", "7", "--seconds", "1",
                   "--trace", str(trace), "--sf", str(SF)]
            proc = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
            check(proc.returncode == 0, f"{w} trace={trace}: exit 0")
            res = json.loads(proc.stdout.strip().splitlines()[-1])
            check(set(res) == {"correct", "attempted", "failed", "metrics"}, f"{w} trace={trace}: result keys")
            check(res["correct"] and res["failed"] == 0 and res["attempted"] >= 1,
                  f"{w} trace={trace}: outputs correct ({res['attempted']} ops)")
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            check(got == want[trace], f"{w} trace={trace}: all {len(want[trace])} metrics with units")
    return 0


if __name__ == "__main__":
    sys.exit(main())
