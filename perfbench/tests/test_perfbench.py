"""Tests of the benchmark's own code (not of the engine).

    python3 -m pytest perfbench/tests -q

The smoke tests start Spark twice on tiny inputs (about a minute).
"""

from __future__ import annotations

import json
import random
import shutil
import subprocess
import sys
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

ROOT = Path(__file__).resolve().parents[2]
if str(ROOT) not in sys.path:
    sys.path.insert(0, str(ROOT))

from perfbench import harness, oracle, run, trace, workloads  # noqa: E402

SMALL = 0.05


def full_dp(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j - 1] + (ca != cb), prev[j] + 1, cur[j - 1] + 1))
        prev = cur
    return prev[-1]


@pytest.mark.parametrize("k", [0, 1, 2, 4])
def test_banded_distance_is_full_dp_clamped(k):
    rng = random.Random(k)
    for _ in range(300):
        a = "".join(rng.choice("abc") for _ in range(rng.randint(0, 12)))
        b = "".join(rng.choice("abc") for _ in range(rng.randint(0, 12)))
        assert oracle.banded_distance(a, b, k) == min(full_dp(a, b), k + 1)


@pytest.mark.parametrize(
    "make",
    [
        lambda seed: [workloads.sparse(seed, SMALL)],
        lambda seed: [workloads.dense(seed, SMALL)],
        lambda seed: [workloads.delta(seed, SMALL).base, *workloads.delta(seed, SMALL).batches],
        lambda seed: list(workloads.needle_docs(seed, SMALL)),
    ],
    ids=["sparse", "dense", "delta", "needle"],
)
def test_generators_are_deterministic_per_seed(make):
    def key(seed):
        return [(c.digest(), c.truth) for c in make(seed)]

    assert key(3) == key(3)
    assert key(3) != key(4)


def test_dense_variants_are_within_max_l_dist():
    # in UTF-8 bytes, the engine's unit; the templates carry 2- and 3-byte
    # characters in their comments
    corpus = workloads.dense(5)
    k = workloads.MAX_L_DIST
    rng = random.Random(0)
    fam = workloads.DENSE_VARIANTS
    assert any(ord(ch) > 0x7F for r in corpus.rows for ch in r["content"])
    for _ in range(80):
        t = rng.randrange(len(corpus.rows) // fam)
        a, b = rng.sample(range(t * fam, (t + 1) * fam), 2)
        assert oracle.banded_distance(
            harness._utf8(corpus.rows[a]["content"]), harness._utf8(corpus.rows[b]["content"]), k
        ) <= k
    # every variant's truth edge points at its template
    assert all(a % fam == 0 and b // fam == a // fam for a, b in corpus.truth[: fam - 1])


def test_delta_batch_truth_indexes_base_plus_batch():
    d = workloads.delta(6, SMALL)
    n = len(d.base.rows)
    for batch in d.batches:
        assert all(0 <= a < n + len(batch.rows) and 0 <= b < n + len(batch.rows)
                   for a, b in batch.truth)
    keys = {(r["repo"], r["path"], r["commit"]) for r in d.base.rows}
    for batch in d.batches:
        assert not keys & {(r["repo"], r["path"], r["commit"]) for r in batch.rows}


def test_trace_digest_attributes_jobs_to_ops_and_layers():
    def job(jid, tag, start, end, stages):
        return [
            {"Event": "SparkListenerJobStart", "Job ID": jid, "Submission Time": start,
             "Stage IDs": stages, "Properties": {"fsw.stage": tag}},
            {"Event": "SparkListenerJobEnd", "Job ID": jid, "Completion Time": end},
        ]

    def task(sid, run_ms, sw=0):
        return {"Event": "SparkListenerTaskEnd", "Stage ID": sid,
                "Task Metrics": {"Executor Run Time": run_ms,
                                 "Shuffle Write Metrics": {"Shuffle Bytes Written": sw}}}

    events = (
        job(0, "s0_ingest", 1000, 3000, [0])
        + job(1, "s2_signatures", 2500, 3500, [1])
        + job(2, "bench.op", 3600, 3700, [2])
        + job(3, "s4_verified", 4000, 5000, [3])
        + job(4, "s4_verified", 9000, 9500, [4])  # outside every window
        + [task(0, 700), task(0, 100), task(1, 300), task(3, 400, sw=2 * trace.MB)]
    )
    [op] = trace.digest(events, [(0.5, 6.0)])
    v = trace.layer_view(op)
    assert v["ingest"]["wall_s"] == pytest.approx(2.5)  # union of 1-3.5 s
    assert v["ingest"]["task_s"] == pytest.approx(1.1)
    assert v["ingest"]["task_skew"] == pytest.approx(700 / 400)
    assert v["verify"]["wall_s"] == pytest.approx(1.0)
    assert v["verify"]["shuffle_write_mb"] == pytest.approx(2.0)
    assert v["op"]["jobs"] == 4
    assert v["op"]["unattributed_s"] == pytest.approx(5.5 - 3.5)


def _fake_run(tmp: Path, dist: int, drop_row: bool = False) -> tuple[Path, list, list]:
    """A workdir shaped like a pipeline run over three files, two of them
    one substitution apart."""
    rows = [
        {"repo": "r", "path": f"p{i}", "commit": "c", "content": c}
        for i, c in enumerate(["abcdefgh", "abcdxfgh", "zzzz"])
    ]
    keys = [(r["repo"], r["path"], r["commit"]) for r in rows]
    wd = tmp / "wd"
    for stage in ("s0_ingest", "s4_verified", "s5_clusters", "metrics"):
        (wd / stage).mkdir(parents=True)
    pq.write_table(pa.table({"doc_id": [10, 11, 12], "content": [r["content"] for r in rows]}),
                   wd / "s0_ingest" / "part.parquet")
    pq.write_table(pa.table({"a_id": [10], "b_id": [11], "dist": [dist]}),
                   wd / "s4_verified" / "part.parquet")
    out = rows[:2] if drop_row else rows
    pq.write_table(
        pa.table({"repo": [r["repo"] for r in out], "path": [r["path"] for r in out],
                  "commit": [r["commit"] for r in out],
                  "cluster_id": [10, 10, 12][: len(out)]}),
        wd / "s5_clusters" / "part.parquet",
    )
    metrics = {
        "s1_exact": {"rows": 3, "n_exact_members": 0},
        "s3_candidates": {"rows": 1, "oversized_buckets": []},
        "s4_verified": {"rows": 1},
        "s5_clusters": {"rows": len(out), "sha256_mismatches": 0, "plan_sec": 0.1},
    }
    for stage, m in metrics.items():
        (wd / "metrics" / f"{stage}.json").write_text(json.dumps(m))
    return wd, keys, [(0, 1)]


def _gate(wd, keys, truth):
    return harness._dedup_gate(wd, keys, truth, [wd / "s0_ingest"], random.Random(0),
                               "sha256_mismatches")


def test_dedup_gate_passes_a_correct_run(tmp_path):
    wd, keys, truth = _fake_run(tmp_path, dist=1)
    recall, problems, facts = _gate(wd, keys, truth)
    assert (recall, problems) == (1.0, [])
    assert facts["pairs_out"] == 1 and facts["candidates"] == 1


@pytest.mark.parametrize("wrong", ["dist", "rows"])
def test_dedup_gate_fails_a_wrong_run(tmp_path, wrong):
    wd, keys, truth = _fake_run(tmp_path, dist=2 if wrong == "dist" else 1,
                                drop_row=wrong == "rows")
    _, problems, _ = _gate(wd, keys, truth)
    assert problems


def test_needle_gate_fails_on_a_missing_match():
    w = harness.NeedleScan(None, 7, SMALL)
    lev, subs = workloads.needle_docs(7, SMALL)
    w.docs = {"lev": lev, "subs": subs}
    # "Licensed under the Apache License" is in every document's banner
    banner = lambda c, p: [  # noqa: E731
        {"doc_id": d, "needle_idx": ni, "start": m.start, "end": m.end, "dist": m.dist}
        for d, r in enumerate(c.rows)
        for ni, n in enumerate(workloads.NEEDLES)
        for m in __import__("fuzzysearch_spark").find_matches(n, r["content"], **p)
    ]
    found = {name: banner(w.docs[name], p) for name, p in w.CALLS.items()}
    assert w._gate(0, 0.0, 1.0, found, {"lev": 0.5, "subs": 0.5}).problems == []
    found["subs"] = [r for r in found["subs"] if r["needle_idx"] != 0]
    op = w._gate(0, 0.0, 1.0, found, {"lev": 0.5, "subs": 0.5})
    assert op.problems and op.recall < 1.0


def test_metric_names_match_benchmark_json():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert {w["name"] for w in spec["workloads"]} <= set(run.WORKLOADS)


def test_fails_without_the_engine(tmp_path):
    shutil.copytree(ROOT / "perfbench", tmp_path / "perfbench")
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "dedup_sparse", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert p.returncode != 0 and p.stdout == ""


@pytest.mark.parametrize("trace_flag, names", [(0, run.END_TO_END), (1, run.PER_LAYER)])
def test_smoke_run_emits_exactly_the_declared_metrics(trace_flag, names):
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "dedup_dense", "--seed", "1",
         "--seconds", "1", "--trace", str(trace_flag), "--scale", str(SMALL)],
        cwd=ROOT, capture_output=True, text=True, timeout=170,
    )
    assert p.returncode == 0, p.stderr[-2000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    assert {k: v["unit"] for k, v in result["metrics"].items()} == names
