"""Closed-loop benchmark of simages_spark on a seeded synthetic web corpus.

    python3 perfbench/run.py --workload dedup --seed 1 --seconds 20 --trace 0

Run from the repository root. One client issues one op at a time on
local[<cores>]. The last line of stdout is one JSON object with
`correct`, `attempted`, `failed` and `metrics`: the end-to-end metrics
with `--trace 0`, the per-layer metrics with `--trace 1`. Earlier stdout
lines describe the host and every op. Exits 2 without a result when the
package is not importable from the repository root.
"""

from __future__ import annotations

import time

PROCESS_START = time.monotonic()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402
from dataclasses import dataclass, field  # noqa: E402
from pathlib import Path  # noqa: E402

ROOT = Path(__file__).resolve().parent.parent
WORKLOAD_NAMES = ("dedup", "substring")
N_DOCS = 10_000
# The heap is pinned (-Xms == -Xmx in session.py) and the corpus is ~10 MB.
# A small heap is touched end to end during warm-up, so the JVM's VmHWM is
# steady; with 4g it moved by up to 16% between runs, depending on how much
# of the heap G1 had touched by the end. So jvm_hwm_mb never falls below the
# heap size; it moves with the JVM's memory outside the heap (code cache,
# metaspace, thread stacks, netty and Arrow buffers).
DRIVER_MEM = "1g"
# at least this many timed ops, so each run's median has two samples
MIN_TIMED_OPS = 2
# Event-log fields reported per labelled stage. GC time and spill are
# zero for nearly every single stage at this size (spill for all), so
# GC time is reported for the whole traced op only; the full fold,
# spill included, is printed on the `eventlog` line.
STAGE_FIELDS = ("jobs", "tasks", "executor_s", "shuffle_mb")
OP_FIELDS = STAGE_FIELDS + ("gc_s",)


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--docs", type=int, default=N_DOCS,
                   help="corpus size; the benchmark uses the default")
    return p.parse_args(argv)


def log(obj) -> None:
    print(json.dumps(obj), flush=True)


def prepare_environment(work: Path, cores: int) -> None:
    """Size the session through the package's env overrides and keep
    every file the run writes inside `work`."""
    tmp = work / "tmp"
    for d in (work / "spark-local", tmp):
        shutil.rmtree(d, ignore_errors=True)
        d.mkdir(parents=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = None  # re-read TMPDIR
    # JVM temp files (native-library extraction) and no /tmp/hsperfdata
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        filter(None, [os.environ.get("JAVA_TOOL_OPTIONS"),
                      f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData"])
    )
    # Python workers import the package too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        filter(None, [str(ROOT), os.environ.get("PYTHONPATH")])
    )


def stop_jvm(spark) -> None:
    """Stop the session, then the JVM behind the py4j gateway, and wait
    for it; the JVM's Python workers exit with it."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway server exits on stdin EOF
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def _probe_s() -> float:
    """Seconds for a fixed single-threaded Python loop: a reading of this
    host's speed at the moment, printed beside each run's ops."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(2_000_000):
        acc += i * i % 7
    return time.perf_counter() - t0


def _cpu_ticks() -> list[int]:
    """Host-wide CPU tick counters: user nice system idle iowait irq softirq steal."""
    with open("/proc/stat", encoding="ascii") as fh:
        return [int(x) for x in fh.readline().split()[1:9]]


@dataclass
class Tally:
    """Ops attempted and failed (raised or below a floor), with the wall
    time and score of each op that returned."""

    walls: list = field(default_factory=list)
    scores: list = field(default_factory=list)
    attempted: int = 0
    failed: int = 0


def run_ops(wl, ctx, tally: Tally, count: int | None = None,
            seconds: float | None = None) -> None:
    """Run ops closed-loop: `count` of them, or until `seconds` have passed
    and at least MIN_TIMED_OPS ran."""
    done, t_start = 0, time.perf_counter()
    while (done < count) if count is not None else (
        done < MIN_TIMED_OPS or time.perf_counter() - t_start < seconds
    ):
        done += 1
        tally.attempted += 1
        t0 = time.perf_counter()
        try:
            out = wl.run(ctx)
        except Exception:  # an op that raises counts as failed; keep going
            traceback.print_exc()
            tally.failed += 1
            continue
        wall = time.perf_counter() - t0
        score = wl.score(ctx, out)
        tally.walls.append(wall)
        tally.scores.append(score)
        tally.failed += not score.ok
        log({"op": wl.name, "wall_s": wall, "recall": score.recall,
             "precision": score.precision, "ok": score.ok})


def traced_pass(wl, ctx, path, work: Path, cores: int, tally: Tally,
                op_s: float) -> tuple[dict, object]:
    """Per-layer values from a fresh session on the same JVM with the event
    log on; every timed public call carries its own job group. Returns
    (values, session)."""
    from perfbench import inputs
    from perfbench.eventlog import fold_dir
    from perfbench.workloads import (
        OWN_STAGES, TRACE_LABELS, StageClock,
        staged_checkpoint, staged_dedup, staged_substring,
    )
    from simages_spark.session import get_spark

    log_dir = work / "eventlog"
    shutil.rmtree(log_dir, ignore_errors=True)
    log_dir.mkdir(parents=True)
    spark = get_spark("perfbench-trace", cores=cores, extra_conf={
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": log_dir.as_uri(),
        "spark.eventLog.compress": "false",
    })
    ctx.docs = inputs.load_docs(spark, path, cores)
    clock = StageClock(spark)
    staged_dedup(ctx, clock)
    staged_substring(ctx, clock)
    staged_checkpoint(ctx, clock)
    # the fused op last, once the new context's Python workers run
    with clock.stage("op"):
        out = wl.run(ctx)
    tally.attempted += 1
    tally.failed += not wl.score(ctx, out).ok
    spark.stop()  # finalises the event log

    values = dict(clock.metrics)
    traced_op_s = values.pop("op.s")
    folded = fold_dir(log_dir)
    folded.pop("untraced", None)
    log({"eventlog": folded})
    for label in TRACE_LABELS:
        totals = folded.get(label, dict.fromkeys(OP_FIELDS, 0))
        for f in OP_FIELDS if label == "op" else STAGE_FIELDS:
            values[f"{label}.{f}"] = totals[f]
    values.update(
        op_s=op_s,
        traced_op_s=traced_op_s,
        stage_sum_s=sum(values[k] for k in OWN_STAGES[wl.name]),
        trace_overhead_frac=traced_op_s / op_s - 1.0,
        executor_busy_frac=values["op.executor_s"] / (traced_op_s * cores),
    )
    return values, spark


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, str(ROOT))
    try:
        import simages_spark
    except ImportError as exc:
        print(f"perfbench: cannot import simages_spark from {ROOT}: {exc}",
              file=sys.stderr)
        return 2
    # measure this checkout's package, never a copy found elsewhere
    if Path(simages_spark.__file__).resolve().parent.parent != ROOT:
        print(f"perfbench: simages_spark imported from {simages_spark.__file__},"
              f" not from {ROOT}", file=sys.stderr)
        return 2

    import pyspark
    from perfbench import inputs, procmem
    from perfbench.workloads import WORKLOADS, Context
    from simages_spark.session import get_spark

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    wl = WORKLOADS[args.workload]
    work = ROOT / ".bench_work"
    cores = len(os.sched_getaffinity(0))
    prepare_environment(work, cores)

    spark = get_spark("perfbench", cores=cores)
    try:
        t0 = time.monotonic()
        path = inputs.ensure_corpus(spark, work, args.docs, args.seed, cores)
        gen_s = time.monotonic() - t0
        ctx = Context(inputs.load_docs(spark, path, cores),
                      inputs.read_truth(path), work, args.seed)
        jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
        log({"host": {
            "cores": cores,
            "mem_gib": round(os.sysconf("SC_PAGE_SIZE")
                             * os.sysconf("SC_PHYS_PAGES") / 2**30, 1),
            "pyspark": pyspark.__version__,
            "java": spark._jvm.java.lang.System.getProperty("java.version"),
            "driver_mem": DRIVER_MEM,
            "docs": args.docs, "seed": args.seed, "workload": wl.name,
            "corpus_generated_s": gen_s,
        }})

        tally = Tally()
        run_ops(wl, ctx, tally, count=wl.warm_ops)
        setup_s = time.monotonic() - PROCESS_START - gen_s
        # warm-up ops count as attempted, but their walls are not timed ops
        tally.walls.clear()
        tally.scores.clear()
        probe_before = _probe_s()
        cpu_before = _cpu_ticks()
        with procmem.WorkerHwmPoller(jvm_pid) as poller:
            run_ops(wl, ctx, tally, seconds=args.seconds)
        cpu_after = _cpu_ticks()
        # CPU time the hypervisor gave to other guests during the timed
        # ops, and the host-speed probe before and after them: runs on
        # this shared host slow down as a whole when the host is busy
        log({"timed_ops": {
            "count": len(tally.walls),
            "host_steal_frac": (cpu_after[7] - cpu_before[7])
            / max(sum(cpu_after) - sum(cpu_before), 1),
            "host_probe_s": [probe_before, _probe_s()],
        }})

        def median(xs):
            return statistics.median(xs) if xs else 0.0

        op_s = median(tally.walls)
        if args.trace:
            ctx.docs.unpersist()
            spark.stop()
            values, spark = traced_pass(wl, ctx, path, work, cores, tally, op_s)
            wanted = spec["per_layer"]
        else:
            values = {
                "setup_s": setup_s,
                "docs_per_s": args.docs / op_s if op_s else 0.0,
                "jvm_hwm_mb": procmem.vm_hwm_mb(jvm_pid),
                "py_worker_hwm_mb": poller.peak_mb,
                "recall": median([s.recall for s in tally.scores]),
                "precision": median([s.precision for s in tally.scores]),
                "ops_ok_frac": (tally.attempted - tally.failed) / tally.attempted,
            }
            wanted = spec["end_to_end"]
    finally:
        stop_jvm(spark)
        for d in ("spark-local", "tmp", "checkpoint", "eventlog"):
            shutil.rmtree(work / d, ignore_errors=True)

    log({
        "correct": tally.failed == 0,
        "attempted": tally.attempted,
        "failed": tally.failed,
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                    for m in wanted},
    })
    return 0


if __name__ == "__main__":
    sys.exit(main())
