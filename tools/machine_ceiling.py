"""Measure what THIS host can actually deliver at two parallelism
widths, independent of Spark — the control experiment behind BENCH.md's
scaling-efficiency numbers.

Two workloads, each run at N and 4N processes with fixed duration:
1. busy-loop: cache-resident integer work — pure cycle delivery. On
   ideal hardware aggregate throughput scales 4.0x; any shortfall is
   the virtualization layer (vCPU overcommit / frequency / SMT), not
   the workload and not Spark.
2. kernel: the real extraction+correction kernel over generated pages
   (string/regex heavy, memory-bandwidth bound) in plain
   multiprocessing — the workload's own parallel ceiling with zero
   Spark involvement.

Usage: python tools/machine_ceiling.py [N] [4N]   (default 8 32)
Prints one JSON line.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

CHECKOUT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

BUSY = (
    "import time\nt0=time.time()\nx=0\n"
    "while time.time()-t0<10: x+=1\nprint(x)"
)

KERNEL = r'''
import sys, time
sys.path.insert(0, sys.argv[1])
from ocr_service_spark.corpus import gen_docs
from ocr_service_spark.kernel.dispatch import extract_document
from ocr_service_spark.kernel.correct import contextual_digit_fix, apply_corrections_map
payloads = [d.html for d in gen_docs(3000) if d.html]
t0 = time.time(); n = 0
while time.time() - t0 < 15:
    r = extract_document(payloads[n % len(payloads)])
    if r.text:
        fixed, _ = contextual_digit_fix(r.text)
        apply_corrections_map(fixed, {"О": "0"})
    n += 1
print(n)
'''


def run(code: str, nproc: int) -> int:
    # argv[1] is the checkout the kernel workload imports from
    ps = [subprocess.Popen([sys.executable, "-c", code, CHECKOUT],
                           stdout=subprocess.PIPE) for _ in range(nproc)]
    return sum(int(p.communicate()[0]) for p in ps)


def steal_and_load():
    with open("/proc/stat") as f:
        steal = int(f.readline().split()[8])
    with open("/proc/loadavg") as f:
        load = float(f.read().split()[0])
    return steal, load


def main() -> None:
    n_small = int(sys.argv[1]) if len(sys.argv) > 1 else 8
    n_big = int(sys.argv[2]) if len(sys.argv) > 2 else 32
    out = {"pair": f"{n_small}->{n_big}"}
    for name, code in (("busy_loop", BUSY), ("kernel_mp", KERNEL)):
        s0, out[f"{name}_load_before"] = steal_and_load()
        a = run(code, n_small)
        b = run(code, n_big)
        s1, _ = steal_and_load()
        ratio = b / a
        out[name] = {
            "aggregate_ratio": round(ratio, 2),
            "efficiency": round(ratio / (n_big / n_small), 3),
            "per_proc_ratio": round((b / n_big) / (a / n_small), 3),
            "steal_ticks": s1 - s0,
        }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
