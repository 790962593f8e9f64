"""Run one workload over several seeds and report each end-to-end metric's
median, quartiles and quartile spread (as a share of the median).

    python3 perfbench/steadiness.py <workload> <seconds> <seed> [<seed> ...]

Runs are sequential. Prints one JSON object; ``STEADINESS.json`` beside
this file keeps the figures behind the bounds in ``BENCHMARK.json``.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import latency

HERE = os.path.dirname(os.path.abspath(__file__))


def main(argv: list[str]) -> int:
    if len(argv) < 3:
        print(__doc__, file=sys.stderr)
        return 2
    workload, seconds, seeds = argv[0], argv[1], argv[2:]
    values: dict[str, list[float]] = {}
    for seed in seeds:
        proc = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
             "--seed", seed, "--seconds", seconds, "--trace", "0"],
            capture_output=True, text=True, cwd=os.path.dirname(HERE))
        result = json.loads(proc.stdout.strip().splitlines()[-1])
        if proc.returncode != 0 or not result["correct"]:
            print(f"seed {seed}: run failed ({proc.returncode})", file=sys.stderr)
            return 1
        for name, m in result["metrics"].items():
            values.setdefault(name, []).append(m["value"])
        print(f"seed {seed}: " + " ".join(f"{k}={v['value']:.4g}"
              for k, v in result["metrics"].items()), file=sys.stderr, flush=True)
    print(json.dumps({"workload": workload, "seconds": int(seconds), "seeds": seeds,
                      "metrics": {k: {**latency.quartile_spread(v), "values": v}
                                  for k, v in values.items()}}))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
