"""Host-capability probes backing the N vs 4N scaling evidence
(BENCH/BASELINE.md): measure what THIS box can physically scale from N/4 to
N pinned cores (N = the CPUs this process may use; 1 -> 4 on a 4-core
host), independent of Spark or the engine.

  - cpu: zlib deflate + md5 over a 64 KB in-cache buffer per core —
    pure-CPU, no DRAM pressure. Efficiency ~1.0 means the core pair
    is free of frequency throttling (unlike 8/32 on a 32-vCPU VM).
  - dram: 256 MB out-of-cache numpy buffer copies per core — pure
    memory-bus streaming. On a 32-vCPU VM the AGGREGATE copy rate at 8
    cores measured ~3x LOWER than at 2 (efficiency ~0.08): the guest's
    memory bus was saturated by two cores and degraded under concurrency.
    Any workload whose working set streams through DRAM inherits a
    ceiling far below 0.8 on such a host — a real N -> 4N cluster
    multiplies memory channels by 4N instead of sharing one bus.

Writes BENCH/probes.json and prints one JSON line.
Usage: python tools/host_probes.py [seconds-per-leg]
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_CPU_CODE = r"""
import zlib, hashlib, time, os
buf = os.urandom(65536)
t0 = time.time(); n = 0
while time.time() - t0 < {secs}:
    zlib.compress(buf, 1); hashlib.md5(buf).digest(); n += 1
print(n)
"""

_DRAM_CODE = r"""
import numpy as np, time
b = np.frombuffer(np.random.bytes(256 * 1024 * 1024), dtype=np.uint8).copy()
t0 = time.time(); n = 0
while time.time() - t0 < {secs}:
    c = b.copy(); n += 1
print(n)
"""


def leg(code: str, cpus: list[int], secs: float) -> float:
    """Aggregate ops/sec with one process pinned to each of ``cpus``."""
    src = code.format(secs=secs)
    ps = [
        subprocess.Popen(
            ["taskset", "-c", str(c), sys.executable, "-c", src],
            stdout=subprocess.PIPE,
        )
        for c in cpus
    ]
    return sum(int(p.communicate()[0]) for p in ps) / secs


def main() -> None:
    secs = float(sys.argv[1]) if len(sys.argv) > 1 else 8.0
    usable = sorted(os.sched_getaffinity(0))
    hi = len(usable)
    lo = max(1, hi // 4)
    out = {}
    for name, code in (("cpu", _CPU_CODE), ("dram", _DRAM_CODE)):
        r_lo = leg(code, usable[:lo], secs)
        r_hi = leg(code, usable, secs)
        out[name] = {
            f"ops_per_sec@{lo}": round(r_lo, 1),
            f"ops_per_sec@{hi}": round(r_hi, 1),
            f"eff_{lo}to{hi}": round(r_hi / r_lo * lo / hi, 3),
        }
    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    with open(os.path.join(REPO, "BENCH", "probes.json"), "w") as f:
        json.dump(out, f, indent=2)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
