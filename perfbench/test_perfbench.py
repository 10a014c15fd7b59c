"""Self-checks of the benchmark itself (not of the library).

    python3 -m pytest perfbench -q -m "slow or not slow"

The counter-determinism check runs the benchmark twice per workload
(about 5 minutes on 4 cores), so it sits in the ``slow`` tier.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402

# Counters seen to differ between two runs of one seed, left out of the
# check.  Shuffle bytes of merge, diff, flow compact and vector search on
# the branched table move by a few bytes to a few KB (presumably the random
# row ids and commit timestamps they shuffle); flow ingest even varies its
# job count (89 vs 90 for the same batch).
VARIES = {
    "versioning.merge": {"shuffle_bytes"},
    "versioning.diff": {"shuffle_bytes"},
    "operators.flow.compact": {"shuffle_bytes"},
    "index.vector.search": {"shuffle_bytes"},
    "operators.flow.ingest": {"jobs", "tasks", "shuffle_bytes"},
}


def _hashes(tmp_path, seed):
    tmp_path.mkdir()
    g = gen.TableGen(seed)
    tables = {"base": g.rows(500), "batch": g.rows(100),
              "corpus": gen.curate_corpus(seed, 400)[0]}
    out = {}
    for name, table in tables.items():
        p = str(tmp_path / f"{name}-{seed}.parquet")
        gen.write_parquet(table, p)
        out[name] = gen.parquet_sha256(p)
    return out


def test_same_seed_gives_identical_bytes(tmp_path):
    a, b, c = (_hashes(tmp_path / d, seed) for d, seed in (("a", 7), ("b", 7), ("c", 8)))
    assert a == b
    assert all(a[k] != c[k] for k in a)


def test_injected_pairs_are_recorded():
    _, props = gen.curate_corpus(3, 2000)
    pairs = props["exact_pairs"] + props["near_pairs"]
    assert pairs and all(o < c for o, c in pairs)
    assert props["duplicate_share"] == pytest.approx(len(pairs) / 2000)


def _traced(workload, seed):
    subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "0", "--trace", "1"],
        cwd=ROOT, check=True, stdout=subprocess.DEVNULL)
    res_dir = os.path.join(ROOT, ".perfbench_work", "results")
    with open(os.path.join(res_dir, f"{workload}-seed{seed}-trace1.json")) as f:
        return json.load(f)


@pytest.mark.slow
@pytest.mark.parametrize("workload", ["table", "curate"])
def test_counters_repeat_exactly(workload):
    from probe import CALLS

    first, second = _traced(workload, 5), _traced(workload, 5)
    made = [c for c in CALLS if first["per_layer"][f"{c}.jobs"]]
    assert made
    for call in made:
        for counter in {"jobs", "tasks", "shuffle_bytes"} - VARIES.get(call, set()):
            key = f"{call}.{counter}"
            assert first["per_layer"][key] == second["per_layer"][key], key
    assert first["end_to_end"]["recall"] == second["end_to_end"]["recall"]


def test_benchmark_json_matches_the_metrics_the_runner_prints():
    from probe import per_layer_names
    from run import E2E_UNITS
    from workloads import WORKLOADS

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [m["name"] for m in bench["end_to_end"]] == list(E2E_UNITS)
    assert all(m["unit"] == E2E_UNITS[m["name"]] for m in bench["end_to_end"])
    assert [m["name"] for m in bench["per_layer"]] == per_layer_names()
    assert [w["name"] for w in bench["workloads"]] == list(WORKLOADS)
