"""Seeded inputs for the four benchmark workloads.

Everything here is pure Python: the same seed yields byte-identical rows,
truth edges and digest, with no Spark session. The engine only ever sees the
rows, written to parquet by the caller; truth edges stay in the benchmark.

Truth edges are pairs of row indexes whose files must share a cluster:
the generator's planted ``truth_pairs`` minus ``contained`` fragments
(containment is not whole-file equivalence), plus, for the dense corpus,
every variant -> template edge.
"""

from __future__ import annotations

import hashlib
import random
from dataclasses import dataclass, field

from fuzzysearch_spark.corpus import LICENSE_BANNER, generate

MAX_L_DIST = 4  # the dedup threshold every dedup workload runs with

# Sizes are fixed per workload, not per host: a run must stay inside the
# benchmark's time budget on a 4-core host, and the figures of two hosts
# are only comparable on equal inputs.
SPARSE_FILES = 2500
SPARSE_FUNCS = (30, 90)  # ~9 KB files: the signature kernel dominates
DENSE_TEMPLATES = 120
DENSE_VARIANTS = 20  # files per template (the template is variant 0)
DENSE_FUNCS = (3, 12)  # ~0.7 KB files: cheap to ingest, many pairs to verify
DENSE_MAX_SUBS = 2  # per variant, so any two variants are <= 4 apart
DELTA_BASE = 2000
DELTA_BATCH = 200
DELTA_BATCHES = 10  # ops cycle through these, each folded into epoch 0 alone
# ~3 s per op on 4 cores, about half of it in each call
NEEDLE_LEV_DOCS = 120
NEEDLE_SUBS_DOCS = 960
# fixed needles drawn from the generator's vocabulary: hits depend on the
# seed's documents, never on the needles
NEEDLES = (
    "Licensed under the Apache License",
    "def spill_codec(",
    "static int probe_merge(",
    "# module planner/",
    "total -= window;",
)

_SUB_CHARS = "qZw7@"


@dataclass
class Corpus:
    """Rows in the engine's input shape plus what the benchmark checks."""

    rows: list[dict]
    truth: list[tuple[int, int]] = field(default_factory=list)

    def digest(self) -> str:
        h = hashlib.sha256()
        for r in self.rows:
            for c in ("repo", "path", "commit", "lang", "content"):
                h.update(r[c].encode("utf-8", "surrogatepass"))
                h.update(b"\x00")
        return h.hexdigest()[:16]


def _truth(planted) -> list[tuple[int, int]]:
    return [
        (p["a_doc_id"], p["b_doc_id"])
        for p in planted.truth_pairs
        if p["edit_kind"] != "contained"
    ]


def _n(count: int, scale: float) -> int:
    """``count`` scaled down for smoke runs (``scale`` < 1)."""
    return max(20, round(count * scale))


def sparse(seed: int, scale: float = 1.0) -> Corpus:
    """Realistic-size source files, ~30% planted relations."""
    planted = generate(
        n_files=_n(SPARSE_FILES, scale), seed=seed, funcs_per_file=SPARSE_FUNCS
    )
    return Corpus(planted.rows, _truth(planted))


def substitute(rng: random.Random, text: str, n: int) -> str:
    """``text`` with ``n`` substitutions at distinct ASCII positions after
    the shared license banner. The engine's distance counts UTF-8 bytes,
    and an ASCII character for an ASCII one is one byte edit, where one
    for a character of the generator's Greek or CJK comments would be 2-3."""
    chars = list(text)
    ascii_pos = [i for i in range(len(LICENSE_BANNER), len(chars)) if chars[i] < "\x80"]
    for pos in rng.sample(ascii_pos, n):
        chars[pos] = rng.choice([c for c in _SUB_CHARS if c != chars[pos]])
    return "".join(chars)


def dense(seed: int, scale: float = 1.0) -> Corpus:
    """Small templates, each expanded into ``DENSE_VARIANTS`` files with
    0..``DENSE_MAX_SUBS`` substitutions: every pair inside a template's
    family is a true near-duplicate, so LSH, verify and components carry
    the work."""
    planted = generate(
        n_files=_n(DENSE_TEMPLATES, scale), seed=seed, funcs_per_file=DENSE_FUNCS
    )
    rng = random.Random(seed * 7919 + 1)
    rows: list[dict] = []
    first: list[int] = []
    truth: list[tuple[int, int]] = []
    for t in planted.rows:
        first.append(len(rows))
        for v in range(DENSE_VARIANTS):
            content = t["content"]
            if v:
                content = substitute(rng, content, rng.randint(0, DENSE_MAX_SUBS))
                truth.append((first[-1], len(rows)))
            rows.append(
                {
                    **t,
                    "path": f"{t['path']}.v{v}",
                    "commit": "".join(rng.choice("0123456789abcdef") for _ in range(40)),
                    "content": content,
                }
            )
    truth += [(first[a], first[b]) for a, b in _truth(planted)]
    return Corpus(rows, truth)


@dataclass
class DeltaInputs:
    base: Corpus
    batches: list[Corpus]


def delta(seed: int, scale: float = 1.0) -> DeltaInputs:
    """One shuffled planted corpus cut into a base epoch and fresh batches.

    Shuffling spreads planted relations across the cut, so a fold meets
    near-duplicates of prior-epoch files as well as of its own. A batch's
    truth holds the edges with both ends in base + batch, indexed into the
    concatenation ``base.rows + batch.rows``."""
    n_base, n_batch = _n(DELTA_BASE, scale), _n(DELTA_BATCH, scale)
    total = n_base + n_batch * DELTA_BATCHES
    planted = generate(n_files=total, seed=seed, funcs_per_file=SPARSE_FUNCS)
    order = list(range(total))
    random.Random(seed * 7919 + 2).shuffle(order)
    pos = {old: new for new, old in enumerate(order)}
    rows = [planted.rows[i] for i in order]
    edges = [(pos[a], pos[b]) for a, b in _truth(planted)]

    def batch(lo: int) -> Corpus:
        hi = lo + n_batch

        def local(i: int) -> int | None:
            if i < n_base:
                return i
            return n_base + i - lo if lo <= i < hi else None

        keep = [(local(a), local(b)) for a, b in edges]
        return Corpus(rows[lo:hi], [e for e in keep if None not in e])

    base_truth = [(a, b) for a, b in edges if max(a, b) < n_base]
    batches = [batch(n_base + i * n_batch) for i in range(DELTA_BATCHES)]
    return DeltaInputs(Corpus(rows[:n_base], base_truth), batches)


def needle_docs(seed: int, scale: float = 1.0) -> tuple[Corpus, Corpus]:
    """Sparse-shaped documents for the Levenshtein and the
    substitutions-only call (disjoint slices of one corpus)."""
    n_lev = _n(NEEDLE_LEV_DOCS, scale)
    planted = generate(
        n_files=n_lev + _n(NEEDLE_SUBS_DOCS, scale), seed=seed, funcs_per_file=SPARSE_FUNCS
    )
    return Corpus(planted.rows[:n_lev]), Corpus(planted.rows[n_lev:])
