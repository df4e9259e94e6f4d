"""The benchmark's own checks.

1. The same seed gives byte-identical generated inputs, and another seed
   gives different ones.
2. Two traced runs of the same seed schedule identical per-call job counts
   for every non-stream call of ``homed_daily`` and ``curation_graph``.

Usage (from the root of a checkout): python3 perfbench/selfcheck.py [SEED]
Prints one line per check and exits non-zero if any fails.
"""

from __future__ import annotations

import hashlib
import json
import os
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

from inputs import generate  # noqa: E402
from worker import CURATION_GRAPH, HOMED_DAILY  # noqa: E402


def _digests(seed: int) -> dict[str, str]:
    with tempfile.TemporaryDirectory() as d:
        generate(seed, d)
        out = {}
        for name in sorted(os.listdir(d)):
            with open(os.path.join(d, name), "rb") as f:
                out[name] = hashlib.sha256(f.read()).hexdigest()
        return out


def _traced_jobs(workload: str, seed: int) -> dict[str, float]:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "30", "--trace", "1"],
        capture_output=True, text=True, check=True,
    ).stdout
    metrics = json.loads(out.strip().splitlines()[-1])["metrics"]
    return {k: v["value"] for k, v in metrics.items() if k.endswith(".jobs")}


def main() -> int:
    seed = int(sys.argv[1]) if len(sys.argv) > 1 else 1
    ok = True
    first, again, other = _digests(seed), _digests(seed), _digests(seed + 1)
    same = first == again
    differs = all(first[n] != other[n] for n in ("events.parquet", "orders.parquet",
                                                "lineitem.parquet", "documents.parquet"))
    print(f"inputs: seed {seed} byte-identical on regeneration: {same}; "
          f"seed {seed + 1} gives different fact files: {differs}")
    ok &= same and differs
    for workload, calls in (("homed_daily", HOMED_DAILY), ("curation_graph", CURATION_GRAPH)):
        a, b = _traced_jobs(workload, seed), _traced_jobs(workload, seed)
        counts = {q: (a[f"{q}.jobs"], b[f"{q}.jobs"]) for q in calls}
        diff = {q: v for q, v in counts.items() if v[0] != v[1]}
        print(f"{workload}: per-call jobs {dict((q, v[0]) for q, v in counts.items())}; "
              f"differing between two traced runs: {diff or 'none'}")
        ok &= not diff
    return 0 if ok else 1


if __name__ == "__main__":
    raise SystemExit(main())
