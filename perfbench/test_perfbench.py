"""Tests of the benchmark itself.

    python3 -m pytest perfbench/test_perfbench.py -q

The oracle-check and input tests take seconds.  The tiny end-to-end
runs start Spark once per run (about a minute each).
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path[:0] = [str(HERE), str(ROOT), str(ROOT / "tests")]

import check  # noqa: E402
import inputs  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402

SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


@pytest.fixture(scope="module")
def small_index():
    rows = inputs.corpus(5, 60)
    idx = oracle.build_index(rows)
    return idx, {u: d for d, u in idx.doc_url.items()}


def test_unchanged_results_pass(small_index):
    idx, id_of = small_index
    results = [(q, check.expected_topk(idx, q, id_of))
               for q in inputs.REFERENCE_QUERIES]
    assert check.count_mismatches(results, idx, id_of) == 0


def test_nudged_score_is_a_failure(small_index):
    idx, id_of = small_index
    q = "machine learning"
    want = check.expected_topk(idx, q, id_of)
    assert want
    nudged = [(want[0][0], want[0][1] + 1e-5)] + want[1:]
    assert check.count_mismatches([(q, nudged)], idx, id_of) == 1
    within = [(want[0][0], want[0][1] + 1e-8)] + want[1:]
    assert check.count_mismatches([(q, within)], idx, id_of) == 0


def test_reordered_or_short_results_are_failures(small_index):
    idx, id_of = small_index
    q = "machine learning"
    want = check.expected_topk(idx, q, id_of)
    assert len(want) >= 2
    swapped = [want[1], want[0]] + want[2:]
    assert not check.same_topk(swapped, want)
    assert not check.same_topk(want[:-1], want)


def test_engine_ids_only_change_the_tie_break(small_index):
    idx, id_of = small_index
    q = "machine learning"
    flipped = {u: 10**6 - d for u, d in id_of.items()}
    got = check.expected_topk(idx, q, flipped)
    assert got == sorted(got, key=lambda r: (-r[1], r[0]))
    assert [s for _, s in got] == \
        [s for _, s in check.expected_topk(idx, q, id_of)]


def test_inputs_are_seeded():
    assert inputs.corpus(3, 5) == inputs.corpus(3, 5)
    assert inputs.corpus(3, 5) != inputs.corpus(4, 5)
    qs = inputs.queries(3, 50)
    assert qs == inputs.queries(3, 50)
    assert set(inputs.REFERENCE_QUERIES) <= set(qs)
    from ir_index_construction_spark.text import parse_query
    assert all(parse_query(q)[0] for q in qs)


def test_refresh_batches_are_disjoint_with_planted_overlaps():
    base = inputs.corpus(3, 50)
    b0 = inputs.refresh_batch(3, 0, 20, base, 4)
    b1 = inputs.refresh_batch(3, 1, 20, base, 4)
    base_urls = {r["url"] for r in base}
    assert sum(r["url"] in base_urls for r in b0) >= 1
    assert not {r["warc_ts"] for r in b0} & {r["warc_ts"] for r in b1}
    assert min(r["warc_ts"] for r in b0) > max(r["warc_ts"] for r in base)


def test_spec_matches_runner():
    assert [w["name"] for w in SPEC["workloads"]] == sorted(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in SPEC["per_layer"]} == run.PER_LAYER
    names = [m["name"] for m in SPEC["end_to_end"]]
    assert "setup_s" in names and len(names) == len(set(names))


def test_tracer_self_time():
    import probes
    tr = probes.Tracer()
    with tr.span("outer"):
        with tr.span("inner"):
            pass
    st = tr.self_times()
    outer = tr.spans[0][4] - tr.spans[0][3]
    inner = tr.spans[1][4] - tr.spans[1][3]
    assert st["outer"] == pytest.approx(outer - inner)
    assert tr.spans[1][1] == 0


TINY = """import sys, run
run.N_BUILD_DOCS = run.N_SERVE_DOCS = 40
run.N_BATCH_QUERIES = 20
run.REFRESH_DOCS, run.REFRESH_OVERLAP = 10, 2
run.TEXT_SAMPLE = 10
{extra}
sys.exit(run.main(sys.argv[1:]))
"""

NUDGE = """sys.path[:0] = [str(run.ROOT), str(run.ROOT / "tests")]
import oracle
_search = oracle.search
def nudged(*a, **kw):
    return [(r[0], r[1], r[2], r[3] + 1e-3) for r in _search(*a, **kw)]
oracle.search = nudged
"""


def tiny_run(workload: str, trace: int, extra: str = "") -> dict:
    proc = subprocess.run(
        [sys.executable, "-c", TINY.format(extra=extra),
         "--workload", workload, "--seed", "1", "--seconds", "1",
         "--trace", str(trace)],
        cwd=HERE, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def assert_metrics(out: dict, group: str):
    want = {m["name"]: m["unit"] for m in SPEC[group]}
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert {k: v["unit"] for k, v in out["metrics"].items()} == want
    assert all(isinstance(v["value"], (int, float))
               for v in out["metrics"].values())


@pytest.mark.parametrize("workload", sorted(run.WORKLOADS))
@pytest.mark.parametrize("trace", [0, 1])
def test_tiny_run_prints_every_metric(workload, trace):
    out = tiny_run(workload, trace)
    assert_metrics(out, "per_layer" if trace else "end_to_end")
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1


def test_tiny_run_counts_perturbed_scores():
    out = tiny_run("serve", 0, extra=NUDGE)
    assert_metrics(out, "end_to_end")
    assert not out["correct"]
    assert 0 < out["failed"] <= out["attempted"]


def test_refuses_to_run_without_engine(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "build",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180)
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
