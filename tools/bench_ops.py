"""Per-operation view of perfbench runs: which op moved between two runs.

perfbench's end-to-end metrics (latency_p50_ms, latency_p90_ms, pass_s)
pool every operation of a run. This prints, for each run record, the
median time of every registry key it ran, the median pass time and the
median artifact-rebuild time, so an A/B over alternating runs shows which
operation a change moved.

Usage: python3 tools/bench_ops.py <result.json | run dir>...
  e.g. python3 tools/bench_ops.py .perfbench/training_pipeline-5-0/result.json
A run dir is perfbench's record directory (.perfbench/<workload>-<seed>-<trace>),
which holds result.json.
"""
import json
import statistics
import sys
from pathlib import Path


def load(arg: str) -> dict:
    p = Path(arg)
    return json.loads((p / "result.json" if p.is_dir() else p).read_text())


def med(xs) -> str:
    return f"{statistics.median(xs):.0f}" if xs else "-"


def main() -> None:
    if len(sys.argv) < 2:
        sys.exit(__doc__)
    runs = [(arg, load(arg)) for arg in sys.argv[1:]]
    keys = sorted({o["key"] for _, r in runs for o in r["ops"]})
    cols = keys + ["pass_s", "rebuild_s"]
    width = max(len(c) for c in cols)
    print(f"{'':{width}}  " + "  ".join(f"{i:>8}" for i in range(len(runs))))
    for k in keys:
        cells = [med([o["ms"] for o in r["ops"] if o["key"] == k and not o["error"]]) for _, r in runs]
        print(f"{k:{width}}  " + "  ".join(f"{c:>8}" for c in cells))
    for name in ("pass_s", "rebuild_s"):
        cells = [f"{statistics.median(r[name]):.2f}" if r.get(name) else "-" for _, r in runs]
        print(f"{name:{width}}  " + "  ".join(f"{c:>8}" for c in cells))
    print("ms per key (median over the run's passes); pass_s and rebuild_s in s")
    for i, (arg, _) in enumerate(runs):
        print(f"{i}: {arg}")


if __name__ == "__main__":
    main()
