"""The closed-loop workloads and the per-layer staged pass.

An op is one call of the program's public API on the whole corpus, with
its result collected to the driver; the next op starts when it returns.
Scoring runs outside the timed region.
"""

from __future__ import annotations

import os
import shutil
import time
from contextlib import contextmanager
from dataclasses import dataclass
from functools import cached_property
from pathlib import Path
from typing import Callable

from simages_spark.config import DedupConfig
from simages_spark.functions.signatures import compute_signatures
from simages_spark.operators.connected_components import connected_components
from simages_spark.operators.exact import exact_dup_edges
from simages_spark.operators.lsh import candidate_pairs
from simages_spark.operators.simhash_join import simhash_candidates
from simages_spark.operators.suffix import anchored_windows, substring_dup_pairs
from simages_spark.operators.verify import verify_pairs
from simages_spark.pipeline import find_duplicates, representative_docs

from perfbench import scoring

MIN_LEN = 64  # substring run length, the repo's default
RERUN_THRESHOLD = 0.6  # threshold-only rerun of the checkpoint layer

# Correctness floors. Verification is exact Jaccard and the corpus plants
# no unrelated pair near the 0.5 threshold, so precision must be ~1; recall
# rests on the LSH/SimHash S-curves for single-token edits of short pages.
# The substring operator is exact, so it must find every planted pair.
DEDUP_RECALL_FLOOR = 0.95
DEDUP_PRECISION_FLOOR = 0.99
SUBSTRING_RECALL_FLOOR = 1.0
SUBSTRING_PRECISION_FLOOR = 1.0


@dataclass
class Context:
    docs: object  # persisted (doc_id, text)
    truth: object  # pandas: doc_id, text, idx, truth_cluster
    work: Path
    seed: int

    @cached_property
    def truth_pairs(self) -> set:
        return scoring.truth_dup_pairs(self.truth.doc_id, self.truth.truth_cluster)

    @cached_property
    def planted_substring_pairs(self) -> set:
        t = self.truth
        return scoring.planted_substring_pairs(t.doc_id, t.idx, t.text, MIN_LEN)

    @cached_property
    def texts(self) -> dict:
        return dict(zip(self.truth.doc_id.tolist(), self.truth.text.tolist()))

    @property
    def checkpoint_dir(self) -> Path:
        return self.work / "checkpoint"


@dataclass
class Score:
    recall: float
    precision: float
    ok: bool


def run_dedup(ctx: Context):
    result = find_duplicates(ctx.docs)
    clusters = result.clusters.toPandas()
    # find_duplicates persists these when no checkpoint store is set
    result.signatures.unpersist()
    result.edges.unpersist()
    return clusters


def score_dedup(ctx: Context, clusters) -> Score:
    reported = scoring.cluster_pairs(clusters.doc_id, clusters.cluster_id)
    recall, precision = scoring.recall_precision(reported, ctx.truth_pairs)
    ok = recall >= DEDUP_RECALL_FLOOR and precision >= DEDUP_PRECISION_FLOOR
    return Score(recall, precision, ok)


def run_substring(ctx: Context):
    return substring_dup_pairs(ctx.docs, MIN_LEN).toPandas()


def score_substring(ctx: Context, pairs) -> Score:
    reported = set(zip(pairs.src.tolist(), pairs.dst.tolist()))
    planted = ctx.planted_substring_pairs
    recall = len(reported & planted) / len(planted)
    precision = scoring.sampled_substring_precision(
        sorted(reported), ctx.texts, MIN_LEN, ctx.seed
    )
    ok = recall >= SUBSTRING_RECALL_FLOOR and precision >= SUBSTRING_PRECISION_FLOOR
    return Score(recall, precision, ok)


@dataclass(frozen=True)
class Workload:
    name: str
    run: Callable
    score: Callable
    # full-size ops before timing starts. The first op in a fresh JVM pays
    # JIT and Python-worker start-up (about 3x a steady op), and op times
    # keep falling for several more ops while the JIT compiles the
    # planner and data paths; these counts put the timed ops on the flat
    # part of that curve
    warm_ops: int


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "dedup",
            run_dedup,
            score_dedup,
            warm_ops=3,
        ),
        Workload(
            "substring",
            run_substring,
            score_substring,
            warm_ops=4,
        ),
    )
}


class StageClock:
    """Labels the jobs of each timed call with `setJobGroup` and records
    its wall time as `<label>.s`."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self.metrics: dict[str, float] = {}

    @contextmanager
    def stage(self, label: str):
        self._sc.setJobGroup(label, label)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.metrics[f"{label}.s"] = time.perf_counter() - t0
            self._sc.setJobGroup("untraced", "untraced")


def staged_dedup(ctx: Context, clock: StageClock) -> None:
    """The find_duplicates chain, one public call per stage, each
    materialised before the next so its time is its own."""
    cfg = DedupConfig()
    m, stage, cached = clock.metrics, clock.stage, []

    def keep(df):
        cached.append(df.persist())
        return df

    with stage("representatives"):
        reps = keep(representative_docs(ctx.docs))
        m["representatives.rows"] = reps.count()
    with stage("signatures"):
        sig = keep(compute_signatures(reps, cfg))
        m["signatures.rows"] = sig.count()
    with stage("lsh"):
        lsh = keep(candidate_pairs(sig, cfg))
        m["lsh.pairs"] = lsh.count()
    with stage("simhash"):
        sim = keep(simhash_candidates(sig, cfg))
        m["simhash.pairs"] = sim.count()
    with stage("candidates"):
        cands = keep(lsh.unionByName(sim.select("src", "dst")).distinct())
        m["candidates.pairs"] = cands.count()
    with stage("verify"):
        edges = keep(verify_pairs(cands, sig, cfg))
        m["verify.edges"] = edges.count()
    m["verify.yield"] = m["verify.edges"] / max(m["candidates.pairs"], 1)
    with stage("exact"):
        exact = keep(exact_dup_edges(ctx.docs))
        m["exact.edges"] = exact.count()
    rounds: list = []
    with stage("cc"):
        clusters = connected_components(
            edges.unionByName(exact), cfg, round_metrics=rounds
        ).toPandas()
    m["cc.rounds"] = len(rounds)
    m["cc.clusters"] = int(clusters.cluster_id.nunique())
    for df in cached:
        df.unpersist()


def staged_substring(ctx: Context, clock: StageClock) -> None:
    m = clock.metrics
    with clock.stage("suffix.windows"):
        m["suffix.windows.rows"] = anchored_windows(ctx.docs, MIN_LEN).count()
    with clock.stage("suffix.pairs"):
        m["suffix.pairs"] = len(run_substring(ctx))
    # substring_dup_pairs recomputes the windows; the rest is pairing + extension
    m["suffix.extend_self_s"] = m["suffix.pairs.s"] - m["suffix.windows.s"]


def _dir_mb(path: Path) -> float:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total / (1024 * 1024)


def staged_checkpoint(ctx: Context, clock: StageClock) -> None:
    """A find_duplicates run with a checkpoint store, then a threshold-only
    rerun that reuses the stored signatures."""
    shutil.rmtree(ctx.checkpoint_dir, ignore_errors=True)
    store = str(ctx.checkpoint_dir)
    with clock.stage("checkpoint.cold"):
        find_duplicates(ctx.docs, DedupConfig(checkpoint_dir=store)).clusters.toPandas()
    with clock.stage("checkpoint.rerun"):
        find_duplicates(
            ctx.docs,
            DedupConfig(checkpoint_dir=store, jaccard_threshold=RERUN_THRESHOLD),
        ).clusters.toPandas()
    m = clock.metrics
    m["checkpoint.cold_s"] = m.pop("checkpoint.cold.s")
    m["checkpoint.rerun_s"] = m.pop("checkpoint.rerun.s")
    m["checkpoint.mb"] = _dir_mb(ctx.checkpoint_dir)
    shutil.rmtree(ctx.checkpoint_dir, ignore_errors=True)


# job-group labels of the traced pass, in the order it runs them
TRACE_LABELS = (
    "representatives", "signatures", "lsh", "simhash", "candidates",
    "verify", "exact", "cc", "suffix.windows", "suffix.pairs",
    "checkpoint.cold", "checkpoint.rerun", "op",
)

# the layers whose own time sums to a workload's op, for the gap report
OWN_STAGES = {
    "dedup": (
        "representatives.s", "signatures.s", "lsh.s", "simhash.s",
        "candidates.s", "verify.s", "exact.s", "cc.s",
    ),
    "substring": ("suffix.windows.s", "suffix.extend_self_s"),
}
