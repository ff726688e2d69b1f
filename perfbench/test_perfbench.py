"""The benchmark's own tests: checker tests on deliberately corrupted
outputs (no Spark), input determinism, and a small-scale smoke run of
every workload in both modes.

    python3 -m pytest perfbench/test_perfbench.py -q -p no:cacheprovider

The smoke runs start one Spark session each (about half a minute apiece).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import checks  # noqa: E402
import inputs  # noqa: E402
import run  # noqa: E402
import tracing  # noqa: E402

SMALL = inputs.Sizes().scaled(0.02)


# --------------------------------------------------------------------------
# checkers must fail on corrupted outputs
# --------------------------------------------------------------------------

def test_planted_check_catches_a_dropped_match():
    data = inputs.gen_link(3, SMALL)
    assignment = {r[0]: r[0] for r in data.rows}
    for dup, (base, _) in data.planted.items():
        assignment[dup] = base
    assert checks.check_planted(assignment, data.planted) == []
    dup = sorted(data.planted)[0]
    assignment[dup] = dup
    assert checks.planted_recall(assignment, data.planted)[0] < 1.0
    assert checks.check_planted(assignment, data.planted)


def test_match_sample_check_catches_a_wrong_distance():
    fps = {"a": "kitten", "b": "sitten", "c": "sitting"}
    assert checks.check_match_sample([("a", "b", 1), ("b", "c", 2)], fps, 2, "standard") == []
    assert checks.check_match_sample([("a", "b", 2)], fps, 2, "standard")
    assert checks.check_match_sample([("a", "c", 3)], fps, 2, "standard")  # beyond n


def test_pair_sample_check_clamps_and_catches_a_wrong_distance():
    ok = [("a", "b", "kitten", "sitting", 3), ("c", "d", "abcdef", "zyxwvu", 3),
          ("e", "f", "abc", "abd", 1)]
    assert checks.check_pair_sample(ok, 2, "standard") == []
    bad = [("e", "f", "abc", "abd", 0)]
    assert checks.check_pair_sample(bad, 2, "standard")


def test_pair_totals_check():
    assert checks.check_pair_totals({"pairs": 10, "near_within": 4}, 10, 4) == []
    assert checks.check_pair_totals({"pairs": 9, "near_within": 4}, 10, 4)
    assert checks.check_pair_totals({"pairs": 10, "near_within": 3}, 10, 4)


def test_match_set_check_catches_a_missing_stream_match():
    want = {("a", "b", 1), ("b", "c", 2)}
    assert checks.check_match_sets(set(want), want, "stream") == []
    assert checks.check_match_sets({("a", "b", 1)}, want, "stream")
    assert checks.check_match_sets(want | {("a", "c", 2)}, want, "stream")


def test_transduce_check_catches_a_missing_hit():
    terms = ["kitten", "mitten", "sitting", "zebra"]
    queries = [("q0", "kitten"), ("q1", "zzz")]
    want = checks.expected_transduce(queries, terms, 2, "standard")
    assert ("q0", "mitten", 1) in want
    assert checks.check_transduce(set(want), queries, want) == []
    assert checks.check_transduce(set(want) - {("q0", "mitten", 1)}, queries, want)
    assert checks.check_exact_queries(set(want), queries, set(terms)) == []
    assert checks.check_exact_queries(set(want) - {("q0", "kitten", 0)}, queries, set(terms))


def test_same_check():
    assert checks.check_same("x", ["d1", "d1", "d1"]) == []
    assert checks.check_same("x", ["d1", "d2"])


def test_tail_names_the_percentile():
    assert run.tail([1.0] * 5 + [9.0])[0] == 9.0
    value, name = run.tail([float(i) for i in range(1, 21)])
    assert value == 10.0 and name.startswith("p50.0 of 20")


def test_cpu_meter_counts_a_reaped_child():
    burn = "import time\nt = time.process_time()\nwhile time.process_time() - t < 0.5: pass"
    with tracing.Stopwatch() as sw:
        subprocess.run([sys.executable, "-c", burn], check=True)
    assert sw.cpu_s >= 0.45
    assert sw.jit_s == 0.0


# --------------------------------------------------------------------------
# inputs
# --------------------------------------------------------------------------

@pytest.mark.parametrize("gen", [inputs.gen_link, inputs.gen_pairs,
                                 inputs.gen_stream, inputs.gen_dict])
def test_same_seed_same_inputs(gen):
    a, b, c = gen(5, SMALL), gen(5, SMALL), gen(6, SMALL)
    assert repr(a) == repr(b)
    assert repr(a) != repr(c)


def test_stream_duplicates_arrive_after_their_base_batch():
    data = inputs.gen_stream(4, SMALL)
    batch_of = {r[0]: k for k, rows in enumerate(data.batches) for r in rows}
    assert data.planted
    assert all(batch_of[d] != batch_of[b] for d, (b, _) in data.planted.items())


def test_pairs_pass_the_length_band_and_near_pairs_are_marked():
    data = inputs.gen_pairs(2, SMALL)
    texts = dict(data.entities)
    assert all(abs(len(texts[a]) - len(texts[b])) <= 2 for a, b in data.pairs)
    assert 0 < data.n_near < len(data.pairs)


# --------------------------------------------------------------------------
# smoke runs
# --------------------------------------------------------------------------

def bench(args, cwd=ROOT):
    return subprocess.run([sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
                          cwd=cwd, capture_output=True, text=True, timeout=300)


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in spec()["workloads"]] + run.UNGATED)
def test_smoke(workload, trace):
    p = bench(["--workload", workload, "--seed", "3", "--seconds", "1",
               "--trace", str(trace), "--scale", "0.02"])
    assert p.returncode == 0, p.stdout[-3000:] + p.stderr[-3000:]
    res = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    kind = "per_layer" if trace else "end_to_end"
    assert set(res["metrics"]) == {m["name"] for m in spec()[kind]}
    if not trace:
        assert all(v["value"] > 0 for v in res["metrics"].values())


def test_linkage_digest_repeats_across_runs():
    digests = []
    for trace in (0, 1):
        path = os.path.join(ROOT, ".perfbench_work", "results",
                            f"linkage-batch-s3-t{trace}.json")
        if not os.path.exists(path):
            pytest.skip("needs the linkage-batch smoke runs")
        with open(path) as f:
            digests.append(json.load(f)["report"]["named"]["digest"])
    assert digests[0] == digests[1]


def test_fails_without_the_package(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = bench(["--workload", "linkage-batch", "--seed", "1", "--seconds", "1",
               "--trace", "0"], cwd=str(tmp_path))
    assert p.returncode != 0
    assert '"correct"' not in p.stdout
