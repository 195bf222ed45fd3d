"""Spark session, host facts and the four workloads' operations.

One process, ``local[nproc]``, a closed loop with one operation in flight.
Each operation is one call of the engine's public API on inputs the
benchmark generated and wrote to parquet; after the timed call the output
passes a correctness gate that reads the engine's checkpoints with pyarrow
(no Spark job), so the gate never runs inside an op's window.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import statistics
import subprocess
import threading
import time
from dataclasses import dataclass, field
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import oracle, workloads

# Spark's defaults otherwise: at these input sizes the scaling campaign's
# split and batch settings (scripts/bench_scaling.py) made every op ~40 %
# slower on a 4-core host
SPARK_CONF = {
    "spark.sql.adaptive.enabled": "true",
    "spark.ui.enabled": "false",
    "spark.ui.showConsoleProgress": "false",
    "spark.python.sql.dataFrameDebugging.enabled": "false",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
}
DP_SAMPLE = 6  # verified pairs re-checked by plain DP per op
NEEDLE_SAMPLE = 8  # documents per search call re-checked in process
KERNEL_SAMPLE = 200  # documents timed through the signature kernels
# The JVM compiles with C1 only. With the default tiered C2 compiler a
# dedup_dense op keeps getting faster for its first ~12 ops (9.3 s -> 5.8 s
# on a 4-core host) as C2 works through its queue beside the tasks, so a
# run's median would measure how far C2 got; with C1 alone the second op
# is already at the steady time (~7.4 s). Peak JVM-side speed is lower, the
# same for every run.
JIT_OPTION = "-XX:TieredStopAtLevel=1"
# ops run and discarded at the start of each Spark session: the first runs
# 2-3x slower than the rest (Python worker start, JIT, code generation)
WARM_OPS = 1


def host_facts() -> dict:
    with open("/proc/meminfo") as f:
        mem_kb = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    return {"nproc": len(os.sched_getaffinity(0)), "ram_gb": round(mem_kb / 2**20, 1)}


def steal_s() -> float:
    """CPU seconds the hypervisor gave to other guests since boot, summed
    over this host's CPUs: a shared host's contention, for the record."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue  # the process ended while we looked
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_rss_mb(root: int) -> float:
    """Resident memory of ``root`` and all its descendants, as the sum of
    their proportional set sizes: a page shared by n of them counts 1/n in
    each. Plain RSS counts a shared page once per process: 2 of 10 runs
    read +2.5 GB and +5 GB over the usual 3.3 GB, one and two JVM heaps,
    as when a child the JVM has just forked is caught before it execs."""
    kids, stack, total = _children(), [root], 0
    while stack:
        pid = stack.pop()
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                total += next(int(line.split()[1]) for line in f if line.startswith("Pss:"))
        except (OSError, IndexError, ValueError, StopIteration):
            pass  # the process ended while we looked, or is a zombie
        stack += kids.get(pid, [])
    return total / 1024


class RssSampler:
    """Peak resident memory of this process tree (JVM and Python workers)."""

    def __init__(self, interval: float = 0.5):
        self.peak = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, args=(interval,), daemon=True)
        self._thread.start()

    def _run(self, interval: float) -> None:
        while not self._stop.wait(interval):
            self.peak = max(self.peak, tree_rss_mb(os.getpid()))

    def close(self) -> float:
        self._stop.set()
        self._thread.join(timeout=5)
        return max(self.peak, tree_rss_mb(os.getpid()))


@dataclass
class Op:
    """One timed call and what its gate found."""

    t0: float
    t1: float
    files: int
    recall: float
    problems: list[str] = field(default_factory=list)
    facts: dict = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return self.t1 - self.t0


class Session:
    """The Spark session and the benchmark's working directory."""

    def __init__(self, work: Path, cpus: int, mem_gb: int):
        self.work = work
        self.cpus = cpus
        self.mem_gb = mem_gb
        self.spark = None
        self.event_dir: Path | None = None

    def start(self, trace: bool) -> float:
        from pyspark.sql import SparkSession

        t0 = time.time()
        tmp = self.work / "tmp"
        tmp.mkdir(parents=True, exist_ok=True)
        b = (
            SparkSession.builder.master(f"local[{self.cpus}]")
            .appName("perfbench")
            .config("spark.sql.shuffle.partitions", str(2 * self.cpus))
            .config("spark.driver.memory", f"{self.mem_gb}g")
            # the whole heap is committed and touched at start, so resident
            # memory does not depend on when the collector chose to grow it;
            # no perf-data file, which the JVM would write to /tmp
            .config(
                "spark.driver.extraJavaOptions",
                f"-Djava.io.tmpdir={tmp} -Xms{self.mem_gb}g -XX:+AlwaysPreTouch"
                f" -XX:-UsePerfData {JIT_OPTION}",
            )
            .config("spark.local.dir", str(self.work / "local"))
            .config("spark.sql.warehouse.dir", str(self.work / "warehouse"))
        )
        for k, v in SPARK_CONF.items():
            b = b.config(k, v)
        if trace:
            self.event_dir = self.work / "events"
            self.event_dir.mkdir(parents=True, exist_ok=True)
            b = (
                b.config("spark.eventLog.enabled", "true")
                .config("spark.eventLog.dir", self.event_dir.as_uri())
                .config("spark.eventLog.compress", "false")
                .config("spark.eventLog.rolling.enabled", "false")
            )
        else:
            b = b.config("spark.eventLog.enabled", "false")
        self.spark = b.getOrCreate()
        self.spark.sparkContext.setLogLevel("ERROR")
        return time.time() - t0

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def shutdown(self) -> None:
        """Stop Spark and the JVM it runs in, and wait for both."""
        from pyspark import SparkContext

        self.stop()
        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            # the gateway JVM exits when its stdin closes
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)

    def tag(self, name: str) -> None:
        """Label the jobs this thread submits next (see perfbench/trace.py)."""
        self.spark.sparkContext.setLocalProperty("fsw.stage", name)

    def versions(self) -> dict:
        import pyspark

        jvm = self.spark.sparkContext._jvm
        return {
            "spark": self.spark.version,
            "pyspark": pyspark.__version__,
            "pyarrow": pa.__version__,
            "java": jvm.java.lang.System.getProperty("java.version"),
        }

    def empty_job_s(self, n: int = 7) -> float:
        """Median wall of a one-task, one-row DataFrame job: Spark's floor
        cost per job, planning included, as the engine's jobs pay it."""
        self.tag("bench.floor")
        walls = []
        for _ in range(n):
            t0 = time.time()
            self.spark.range(0, 1, 1, 1).collect()
            walls.append(time.time() - t0)
        return statistics.median(walls)

    def write(self, name: str, rows: list[dict]) -> str:
        """``rows`` as a parquet directory of one file per core: a single
        small file would be read as one partition, and a call that does
        not repartition (the multi-needle search) would run on one core."""
        path = self.work / "in" / name
        path.mkdir(parents=True, exist_ok=True)
        table = pa.Table.from_pylist(rows)
        step = -(-len(rows) // self.cpus)
        for i, lo in enumerate(range(0, len(rows), step)):
            pq.write_table(table.slice(lo, step), path / f"part-{i:05d}.parquet")
        return str(path)


def _metrics(workdir: Path) -> dict:
    out = {}
    for path in (workdir / "metrics").glob("*.json"):
        with open(path) as f:
            out[path.stem] = json.load(f)
    return out


def _clusters(workdir: Path) -> dict:
    t = pq.read_table(workdir / "s5_clusters", columns=["repo", "path", "commit", "cluster_id"])
    cols = [t.column(c).to_pylist() for c in ("repo", "path", "commit", "cluster_id")]
    return {(r, p, c): cid for r, p, c, cid in zip(*cols)}


def _keys(rows: list[dict]) -> list[tuple]:
    return [(r["repo"], r["path"], r["commit"]) for r in rows]


def _utf8(text: str) -> bytes:
    return text.encode("utf-8", "surrogatepass")


def _recheck(verified: Path, content_dirs: list[Path], rng: random.Random, facts: dict) -> list[str]:
    """Plain-DP recheck of a sample of verified pairs; also times the
    engine's pair kernel on the same pairs."""
    from fuzzysearch_spark.kernels.pairdist import bounded_edit_distance

    pairs = sorted(
        zip(*(pq.read_table(verified).column(c).to_pylist() for c in ("a_id", "b_id", "dist")))
    )
    sample = rng.sample(pairs, min(DP_SAMPLE, len(pairs)))
    ids = sorted({i for a, b, _ in sample for i in (a, b)})
    content: dict = {}
    for d in content_dirs:
        if ids:
            t = pq.read_table(d, columns=["doc_id", "content"], filters=[("doc_id", "in", ids)])
            content.update(zip(t.column("doc_id").to_pylist(), t.column("content").to_pylist()))
    problems = []
    kernel_s = 0.0
    k = workloads.MAX_L_DIST
    for a, b, dist in sample:
        if a not in content or b not in content:
            problems.append(f"verified pair ({a}, {b}) has no content")
            continue
        t0 = time.perf_counter()
        bounded_edit_distance(content[a], content[b], k)
        kernel_s += time.perf_counter() - t0
        plain = oracle.banded_distance(_utf8(content[a]), _utf8(content[b]), k)
        if plain > k or plain != dist:
            problems.append(f"pair ({a}, {b}): engine dist {dist}, plain DP {plain}")
    facts["pairs_out"] = len(pairs)
    facts["kernel_us_per_pair"] = 1e6 * kernel_s / len(sample) if sample else 0.0
    return problems


def _stage_facts(m: dict, facts: dict) -> None:
    s1, s3, s5 = m["s1_exact"], m["s3_candidates"], m["s5_clusters"]
    actions = [b["action"] for b in s3.get("oversized_buckets", [])]
    facts.update(
        reps=s1["rows"] - s1["n_exact_members"],
        candidates=s3["rows"],
        salted_buckets=actions.count("salted"),
        excluded_buckets=actions.count("excluded"),
        edges=s1["n_exact_members"] + m["s4_verified"]["rows"],
        components_plan_s=s5.get("plan_sec", 0.0),
    )


def _dedup_gate(
    workdir: Path,
    keys: list[tuple],
    truth: list,
    content_dirs: list[Path],
    rng: random.Random,
    mismatch_key: str,
) -> tuple[float, list[str], dict]:
    problems: list[str] = []
    facts: dict = {}
    cid = _clusters(workdir)
    if len(cid) != len(keys):
        problems.append(f"{len(cid)} cluster rows for {len(keys)} input files")
    cluster_of = [cid.get(k) for k in keys]
    if None in cluster_of:
        problems.append("input files missing from the cluster table")
    m = _metrics(workdir)
    if m["s5_clusters"].get(mismatch_key) != 0:
        problems.append(f"{mismatch_key} = {m['s5_clusters'].get(mismatch_key)}")
    problems += _recheck(workdir / "s4_verified", content_dirs, rng, facts)
    _stage_facts(m, facts)
    return oracle.pair_recall(truth, cluster_of), problems, facts


def _kernel_s_per_doc(contents: list[str]) -> float:
    """In-process seconds per document of the ingest signature kernels."""
    from fuzzysearch_spark.functions.signatures import (
        SignatureConfig,
        batch_minhash_signatures,
        batch_simhash64,
    )

    cfg = SignatureConfig()
    seeds = cfg.hash_seeds()
    datas = [_utf8(c) for c in contents]
    t0 = time.perf_counter()
    batch_minhash_signatures(datas, seeds, cfg.shingle_k)
    batch_simhash64(datas)
    return (time.perf_counter() - t0) / len(datas)


def _dedup_config(workdir: Path):
    from fuzzysearch_spark.operators.verify import VerifyConfig
    from fuzzysearch_spark.pipeline import DedupConfig

    return DedupConfig(
        workdir=str(workdir), resume=False, verify=VerifyConfig(max_l_dist=workloads.MAX_L_DIST)
    )


class Workload:
    """prepare() makes inputs (returns their digest), warm() runs the
    discarded set-up operations, op(i) runs measured operation ``i``."""

    def __init__(self, s: Session, seed: int, scale: float):
        self.s, self.seed, self.scale = s, seed, scale
        self.setup_problems: list[str] = []
        self.warm_ops: list[Op] = []

    def _workdir(self, name: str) -> Path:
        return self.s.work / "runs" / name

    def kernel_s(self, op: Op) -> float:
        return 0.0

    def warm(self) -> None:
        for i in range(WARM_OPS):
            self.warm_ops.append(self.op(-1 - i))


class Dedup(Workload):
    def __init__(self, s: Session, seed: int, scale: float, make):
        super().__init__(s, seed, scale)
        self.make = make
        self._per_doc: float | None = None

    def prepare(self) -> str:
        self.corpus = self.make(self.seed, self.scale)
        self.keys = _keys(self.corpus.rows)
        self.path = self.s.write("corpus", self.corpus.rows)
        return self.corpus.digest()

    def op(self, i: int) -> Op:
        from fuzzysearch_spark.pipeline import DedupPipeline

        wd = self._workdir(f"op{i}")
        spark = self.s.spark
        self.s.tag("bench.op")
        t0 = time.time()
        DedupPipeline(spark, _dedup_config(wd)).run(spark.read.parquet(self.path))
        t1 = time.time()
        self.s.tag("bench.gate")
        rng = random.Random(self.seed * 1000 + i)
        recall, problems, facts = _dedup_gate(
            wd, self.keys, self.corpus.truth, [wd / "s0_ingest"], rng, "sha256_mismatches"
        )
        shutil.rmtree(wd, ignore_errors=True)
        return Op(t0, t1, len(self.keys), recall, problems, facts)

    def kernel_s(self, op: Op) -> float:
        if self._per_doc is None:
            rows = random.Random(self.seed).sample(
                self.corpus.rows, min(KERNEL_SAMPLE, len(self.corpus.rows))
            )
            self._per_doc = _kernel_s_per_doc([r["content"] for r in rows])
        return self._per_doc * op.files


class DeltaFold(Dedup):
    """Epoch 0 over the base corpus runs in set-up; each op folds one fresh
    batch into epoch 0 with ``delta_dedup``."""

    def __init__(self, s: Session, seed: int, scale: float):
        super().__init__(s, seed, scale, None)

    def prepare(self) -> str:
        self.inputs = workloads.delta(self.seed, self.scale)
        self.base_keys = _keys(self.inputs.base.rows)
        self.base_path = self.s.write("base", self.inputs.base.rows)
        self.corpus = self.inputs.base
        return workloads.Corpus(
            self.inputs.base.rows + [r for b in self.inputs.batches for r in b.rows]
        ).digest()

    def warm(self) -> None:
        """Epoch 0, then the first fold checked against a full run over
        base + the same batch: the fold must give the same partition."""
        from fuzzysearch_spark.pipeline import DedupPipeline

        spark = self.s.spark
        self.epoch0 = self._workdir("epoch0")
        self.s.tag("bench.op")
        DedupPipeline(spark, _dedup_config(self.epoch0)).run(spark.read.parquet(self.base_path))
        self.s.tag("bench.gate")
        rng = random.Random(self.seed)
        _, problems, _ = _dedup_gate(
            self.epoch0, self.base_keys, self.inputs.base.truth,
            [self.epoch0 / "s0_ingest"], rng, "sha256_mismatches",
        )
        self.setup_problems += [f"epoch 0: {p}" for p in problems]

        batch = self.inputs.batches[0]
        full = self._workdir("full0")
        path = self.s.write("full0", self.inputs.base.rows + batch.rows)
        self.s.tag("bench.op")
        DedupPipeline(spark, _dedup_config(full)).run(spark.read.parquet(path))
        self.s.tag("bench.gate")
        keys = self.base_keys + _keys(batch.rows)
        want = _clusters(full)
        shutil.rmtree(full, ignore_errors=True)

        first = self._fold(0, keep=True)
        self.warm_ops.append(first)
        got = _clusters(self._workdir("fold0"))
        shutil.rmtree(self._workdir("fold0"), ignore_errors=True)
        if oracle.partition(keys, [got.get(k) for k in keys]) != oracle.partition(
            keys, [want.get(k) for k in keys]
        ):
            self.setup_problems.append("first fold's partition differs from a full run")

    def _fold(self, i: int, keep: bool = False) -> Op:
        from fuzzysearch_spark.delta import delta_dedup

        spark = self.s.spark
        batch = self.inputs.batches[i % len(self.inputs.batches)]
        path = self.s.write(f"batch{i}", batch.rows)
        wd = self._workdir(f"fold{i}")
        self.s.tag("bench.op")
        t0 = time.time()
        delta_dedup(spark, spark.read.parquet(path), [str(self.epoch0)], _dedup_config(wd))
        t1 = time.time()
        self.s.tag("bench.gate")
        rng = random.Random(self.seed * 1000 + i)
        recall, problems, facts = _dedup_gate(
            wd, self.base_keys + _keys(batch.rows), batch.truth,
            [self.epoch0 / "s0_ingest", wd / "s0_ingest"], rng, "sha256_mismatches_delta",
        )
        # the cluster table is cumulative, so the gate's row check covers
        # base + batch; the op completes only the batch's files
        shutil.rmtree(path)
        if not keep:
            shutil.rmtree(wd, ignore_errors=True)
        return Op(t0, t1, len(batch.rows), recall, problems, facts)

    def op(self, i: int) -> Op:
        # batch 0 was folded in set-up; cycling reuses batches, each fold
        # still runs against epoch 0 alone in a fresh workdir
        return self._fold(i + 1)


class NeedleScan(Workload):
    """One Levenshtein and one substitutions-only multi-needle search."""

    CALLS = {
        "lev": {"max_l_dist": 2},
        "subs": {"max_substitutions": 2, "max_insertions": 0, "max_deletions": 0},
    }

    def prepare(self) -> str:
        lev, subs = workloads.needle_docs(self.seed, self.scale)
        self.docs = {"lev": lev, "subs": subs}
        self.paths = {
            name: self.s.write(
                name, [{"doc_id": i, "content": r["content"]} for i, r in enumerate(c.rows)]
            )
            for name, c in self.docs.items()
        }
        return workloads.Corpus(lev.rows + subs.rows).digest()

    def op(self, i: int) -> Op:
        from fuzzysearch_spark.operators.substring import find_near_matches_multi_df

        spark = self.s.spark
        found, walls = {}, {}
        t0 = time.time()
        for name, params in self.CALLS.items():
            self.s.tag(f"search.{name}")
            t = time.time()
            found[name] = find_near_matches_multi_df(
                spark.read.parquet(self.paths[name]), list(workloads.NEEDLES), **params
            ).collect()
            walls[name] = time.time() - t
        t1 = time.time()
        self.s.tag("bench.gate")
        return self._gate(i, t0, t1, found, walls)

    def _gate(self, i: int, t0: float, t1: float, found: dict, walls: dict) -> Op:
        """The engine's matches on a document sample equal in-process
        ``find_matches`` on the same documents."""
        from fuzzysearch_spark.kernels.dispatch import find_matches

        rng = random.Random(self.seed * 1000 + i)
        problems: list[str] = []
        facts: dict = {"matches": sum(len(v) for v in found.values())}
        want_n = hit_n = 0
        for name, params in self.CALLS.items():
            rows = self.docs[name].rows
            sample = rng.sample(range(len(rows)), min(NEEDLE_SAMPLE, len(rows)))
            want = set()
            t = time.perf_counter()
            for d in sample:
                for ni, needle in enumerate(workloads.NEEDLES):
                    for m in find_matches(needle, rows[d]["content"], **params):
                        want.add((d, ni, m.start, m.end, m.dist))
            facts[f"{name}.kernel_s"] = (time.perf_counter() - t) / len(sample) * len(rows)
            facts[f"{name}.wall_s"] = walls[name]
            keep = set(sample)
            got = {
                (r["doc_id"], r["needle_idx"], r["start"], r["end"], r["dist"])
                for r in found[name]
                if r["doc_id"] in keep
            }
            if got != want:
                problems.append(
                    f"search.{name}: {len(got - want)} extra, {len(want - got)} missing matches"
                )
            want_n += len(want)
            hit_n += len(want & got)
        files = sum(len(c.rows) for c in self.docs.values())
        return Op(t0, t1, files, hit_n / want_n if want_n else 1.0, problems, facts)


def make(name: str, s: Session, seed: int, scale: float) -> Workload:
    if name == "dedup_sparse":
        return Dedup(s, seed, scale, workloads.sparse)
    if name == "dedup_dense":
        return Dedup(s, seed, scale, workloads.dense)
    if name == "delta_fold":
        return DeltaFold(s, seed, scale)
    if name == "needle_scan":
        return NeedleScan(s, seed, scale)
    raise ValueError(f"unknown workload {name!r}")
