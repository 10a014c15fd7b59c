"""Run every workload untraced and traced with one seed and print every
end-to-end metric by name and unit, the per-op medians, ``error_rate``
and the tracing overhead.

    python3 perfbench/report.py --seed 1 [--seconds 1] [--workloads table curate]

Run from the repository root.  Each run is a separate ``run.py`` process
with a fresh JVM, exactly as a single benchmark run.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

from run import E2E_UNITS, HERE, ROOT

# the per-op medians each workload reports, by op kind
PER_OP = {
    "table": {"filter_p50_ms": "filter", "fulltext_p50_ms": "fulltext",
              "bm25_p50_ms": "bm25", "vector_p50_ms": "vector",
              "commit_p50_ms": "commit", "index_refresh_p50_ms": "refresh",
              "merge_p50_ms": "merge"},
    "curate": {},
}


def run(workload: str, seed: int, seconds: float, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, stdout=subprocess.PIPE, text=True, check=True)
    json.loads(proc.stdout.strip().splitlines()[-1])  # the result line parses
    path = os.path.join(ROOT, ".perfbench_work", "results",
                        f"{workload}-seed{seed}-trace{trace}.json")
    with open(path) as f:
        return json.load(f)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=1)
    ap.add_argument("--workloads", nargs="+", default=list(PER_OP))
    args = ap.parse_args(argv)
    for w in args.workloads:
        plain = run(w, args.seed, args.seconds, 0)
        traced = run(w, args.seed, args.seconds, 1)
        print(f"== {w} (seed {args.seed}, {plain['attempted']} timed ops, "
              f"{plain['samples_beyond_p90']} beyond p90, anchor "
              f"{plain['host']['anchor_s']:.3f} s, nproc {plain['host']['nproc']})")
        rows = [(k, v, E2E_UNITS[k]) for k, v in plain["end_to_end"].items()]
        rows.append(("error_rate", plain["error_rate"], "ratio"))
        rows.append(("op_p90_ms (not gated)", plain["op_p90_ms"], "ms"))
        rows += [(name, plain["per_kind_p50_ms"].get(kind), "ms")
                 for name, kind in PER_OP[w].items()]
        extra = plain["extra"]
        rows += [(k, extra[k], "docs/s") for k in ("docs_per_s", "ledger_docs_per_s")
                 if k in extra]
        for name, value, unit in rows:
            print(f"  {name:22s} {value:12.4f} {unit}" if value is not None
                  else f"  {name:22s} {'n/a':>12s} {unit}")
        print("  tracing overhead (traced / untraced - 1):")
        for k in ("setup_s", "ops_per_s", "op_p50_ms"):
            a, b = plain["end_to_end"][k], traced["end_to_end"][k]
            print(f"    {k:20s} {b / a - 1:+.3f}")
        print(f"    counter reads        {traced['trace_cost_s']:.3f} s in the traced run")
    return 0


if __name__ == "__main__":
    sys.exit(main())
