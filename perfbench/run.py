"""Benchmark of the fuzzysearch_spark dedup engine on one host.

    python3 perfbench/run.py --workload dedup_dense --seed 1 --seconds 20 --trace 0

Run from the repository root. The benchmark generates its inputs from
``--seed`` (perfbench/workloads.py), writes them to parquet under
``.perfbench_work/`` and drives the engine's public entry points in one
process on ``local[nproc]``, one operation at a time, for ``--seconds``.
Every operation passes a correctness gate (perfbench/harness.py).

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` spends half the
time untraced, restarts Spark with its event log on, re-warms, spends the
other half traced, and prints the per-layer metrics (perfbench/trace.py).
The last stdout line is the result; the line before it is the run record
(draw key, host facts, versions, every op's wall time, CPU steal share).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORKLOADS = ("dedup_sparse", "dedup_dense", "delta_fold", "needle_scan")
PREPARE_REPEATS = 3  # input generations per run; set-up reports their median

END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "files_per_s": "1/s",
    "pair_recall": "ratio",
    "peak_rss_mb": "MB",
}
PER_LAYER = {
    "ingest.wall_s": "s",
    "ingest.task_s": "s",
    "ingest.gc_s": "s",
    "ingest.kernel_s": "s",
    "ingest.transfer_s": "s",
    "ingest.input_mb": "MB",
    "ingest.checkpoint_mb": "MB",
    "exact_dedup.wall_s": "s",
    "exact_dedup.shuffle_write_mb": "MB",
    "exact_dedup.reps": "count",
    "lsh.wall_s": "s",
    "lsh.task_s": "s",
    "lsh.shuffle_write_mb": "MB",
    "lsh.shuffle_read_mb": "MB",
    "lsh.candidates": "count",
    "lsh.salted_buckets": "count",
    "lsh.excluded_buckets": "count",
    "lsh.task_skew": "ratio",
    "verify.wall_s": "s",
    "verify.task_s": "s",
    "verify.shuffle_write_mb": "MB",
    "verify.pairs_in": "count",
    "verify.pairs_out": "count",
    "verify.pass_ratio": "ratio",
    "verify.kernel_us_per_pair": "us",
    "verify.task_skew": "ratio",
    "components.wall_s": "s",
    "components.plan_s": "s",
    "components.edges": "count",
    "components.jobs": "count",
    "search.lev.wall_s": "s",
    "search.subs.wall_s": "s",
    "search.task_s": "s",
    "search.matches": "count",
    "search.lev.kernel_s": "s",
    "search.subs.kernel_s": "s",
    "search.transfer_s": "s",
    "spark.empty_job_s": "s",
    "spark.jobs": "count",
    "spark.fixed_s": "s",
    "spark.unattributed_s": "s",
    "spark.spill_mb": "MB",
    "spark.checkpoint_write_mb": "MB",
    "trace.overhead_s": "s",
    "trace.op_wall_s": "s",
    "trace.layer_overlap_s": "s",
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument(
        "--scale", type=float, default=1.0,
        help="input size factor; below 1 only for smoke tests",
    )
    return p.parse_args(argv)


def attempt(w, i: int):
    """Op ``i``; one that raises counts as a failed op."""
    from perfbench.harness import Op

    t0 = time.time()
    try:
        return w.op(i)
    except Exception as e:  # noqa: BLE001 - any engine error fails the op
        return Op(t0, time.time(), 0, 0.0, [f"op {i} raised {type(e).__name__}: {e}"])


def measure(w, seconds: float, first: int, record: dict) -> list:
    """Closed loop: run ops back to back until ``seconds`` have passed.
    Records the share of the host's CPU time stolen meanwhile."""
    from perfbench.harness import steal_s

    ops, i, t0, stolen = [], first, time.time(), steal_s()
    while not ops or time.time() < t0 + seconds:
        ops.append(attempt(w, i))
        i += 1
    share = (steal_s() - stolen) / (record["host"]["nproc"] * (time.time() - t0))
    record.setdefault("steal_share", []).append(share)
    return ops


def _median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def layer_metrics(w, ops, views, untraced_wall: float, empty_job_s: float) -> dict:
    """Per-layer figures: medians over the traced ops."""

    def med(fn) -> float:
        return _median(fn(op, v) for op, v in zip(ops, views))

    out = {}
    for layer in ("ingest", "exact_dedup", "lsh", "verify", "components"):
        for key in ("wall_s", "task_s", "gc_s", "input_mb", "checkpoint_mb",
                    "shuffle_write_mb", "shuffle_read_mb", "task_skew", "jobs"):
            name = f"{layer}.{key}"
            if name in PER_LAYER:
                out[name] = med(lambda op, v: v[layer][key])
    out["ingest.kernel_s"] = med(lambda op, v: w.kernel_s(op))
    out["ingest.transfer_s"] = med(lambda op, v: v["ingest"]["task_s"] - w.kernel_s(op))
    out["exact_dedup.reps"] = med(lambda op, v: op.facts.get("reps", 0))
    for key in ("candidates", "salted_buckets", "excluded_buckets"):
        out[f"lsh.{key}"] = med(lambda op, v: op.facts.get(key, 0))
    out["verify.pairs_in"] = med(lambda op, v: op.facts.get("candidates", 0))
    out["verify.pairs_out"] = med(lambda op, v: op.facts.get("pairs_out", 0))
    out["verify.pass_ratio"] = med(
        lambda op, v: op.facts["pairs_out"] / op.facts["candidates"]
        if op.facts.get("candidates") else 0.0
    )
    out["verify.kernel_us_per_pair"] = med(lambda op, v: op.facts.get("kernel_us_per_pair", 0.0))
    out["components.plan_s"] = med(lambda op, v: op.facts.get("components_plan_s", 0.0))
    out["components.edges"] = med(lambda op, v: op.facts.get("edges", 0))
    for call in ("lev", "subs"):
        out[f"search.{call}.wall_s"] = med(lambda op, v: v[f"search.{call}"]["wall_s"])
        out[f"search.{call}.kernel_s"] = med(lambda op, v: op.facts.get(f"{call}.kernel_s", 0.0))
    search_task = lambda op, v: v["search.lev"]["task_s"] + v["search.subs"]["task_s"]  # noqa: E731
    out["search.task_s"] = med(search_task)
    out["search.matches"] = med(lambda op, v: op.facts.get("matches", 0))
    out["search.transfer_s"] = med(
        lambda op, v: search_task(op, v)
        - op.facts.get("lev.kernel_s", 0.0) - op.facts.get("subs.kernel_s", 0.0)
    )
    out["spark.empty_job_s"] = empty_job_s
    out["spark.jobs"] = med(lambda op, v: v["op"]["jobs"])
    out["spark.fixed_s"] = out["spark.jobs"] * empty_job_s
    for key in ("unattributed_s", "spill_mb", "checkpoint_write_mb"):
        out[f"spark.{key}"] = med(lambda op, v: v["op"][key])
    traced_wall = _median(op.wall for op in ops)
    out["trace.op_wall_s"] = traced_wall
    out["trace.overhead_s"] = traced_wall - untraced_wall
    # what the layer walls and the unattributed time count twice: layers
    # whose jobs run concurrently (s1 exact dedup beside the s2 projection)
    out["trace.layer_overlap_s"] = med(
        lambda op, v: sum(v[name]["wall_s"] for name in v if name != "op")
        + v["op"]["unattributed_s"] - v["op"]["wall_s"]
    )
    return out


def run(args) -> tuple[dict, dict]:
    from perfbench import harness, trace

    host = harness.host_facts()
    rss = harness.RssSampler()
    work = ROOT / ".perfbench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    # Spark, its Python workers and the JVM keep temporaries in the checkout
    os.environ["TMPDIR"] = str(work / "tmp")
    mem_gb = max(1, min(8, round(host["ram_gb"] / 8)))
    s = harness.Session(work, host["nproc"], mem_gb)
    w = harness.make(args.workload, s, args.seed, args.scale)
    record = {"workload": args.workload, "seed": args.seed, "scale": args.scale,
              "seconds": args.seconds, "trace": args.trace, "host": host,
              "driver_memory_gb": mem_gb}
    try:
        t0 = time.time()
        session_s = s.start(trace=False)
        record["versions"] = s.versions()
        prepare, digests = [], set()
        for _ in range(PREPARE_REPEATS):
            t = time.time()
            digests.add(w.prepare())
            prepare.append(time.time() - t)
        t = time.time()
        w.warm()
        warm_s = time.time() - t
        setup_s = session_s + statistics.median(prepare) + warm_s
        record.update(input_digest=sorted(digests), session_s=session_s,
                      prepare_s=prepare, warm_s=warm_s)
        if len(digests) != 1:
            w.setup_problems.append("input generation is not deterministic")

        seconds = args.seconds / 2 if args.trace else args.seconds
        ops = measure(w, seconds, 0, record)
        record["op_walls_s"] = [op.wall for op in ops]
        if args.trace:
            untraced = _median(op.wall for op in ops)
            s.stop()
            s.start(trace=True)
            w.warm_ops += [attempt(w, len(ops) + j) for j in range(harness.WARM_OPS)]
            empty_job_s = s.empty_job_s()
            traced = measure(w, seconds, len(ops) + harness.WARM_OPS, record)
            record["traced_op_walls_s"] = [op.wall for op in traced]
            s.stop()
            views = [trace.layer_view(d) for d in trace.digest(
                trace.read_events(str(s.event_dir)), [(op.t0, op.t1) for op in traced])]
            metrics = {k: (v, PER_LAYER[k]) for k, v in layer_metrics(
                w, traced, views, untraced, empty_job_s).items()}
            ops += traced
        else:
            record["empty_job_s"] = s.empty_job_s()
            metrics = {
                "setup_s": (setup_s, "s"),
                "wall_s": (_median(op.wall for op in ops), "s"),
                "files_per_s": (_median(op.files / op.wall for op in ops), "1/s"),
                "pair_recall": (min(op.recall for op in ops), "ratio"),
            }
        s.shutdown()
        peak = rss.close()
        if not args.trace:
            metrics["peak_rss_mb"] = (peak, "MB")
        record["total_s"] = time.time() - t0
    finally:
        s.shutdown()
        rss.close()
        shutil.rmtree(work, ignore_errors=True)
        try:
            (ROOT / ".perfbench_work").rmdir()
        except OSError:
            pass  # another run's work is still there

    gated = w.warm_ops + ops
    failed = [op for op in gated if op.problems]
    record["problems"] = w.setup_problems + [p for op in failed for p in op.problems]
    result = {
        "correct": not record["problems"],
        "attempted": len(gated),
        "failed": len(failed),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    return record, result


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / "fuzzysearch_spark" / "__init__.py").is_file():
        print(f"perfbench: no fuzzysearch_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    # Python workers import the engine from the checkout as well
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )
    record, result = run(args)
    print(json.dumps({"record": record}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
