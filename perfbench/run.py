"""Sync-lifecycle and corpus-dedup benchmark.

    python3 perfbench/run.py --workload sync_batches --seed 1 --seconds 1 --trace 0

Run from the repository root.  One process, one client, a closed loop on
``local[$(nproc)]``: each operation (a supplier sync, or a dedup pass over
a corpus) starts only when the previous one has ended, and operations
start until ``--seconds`` of timed wall have passed.  The first timed
operation is the first of a fresh session, as when a user starts the tool;
``setup_s`` is the time until it can start (imports, session start and
the warm-in job; input generation excluded).  Every operation's output is
checked untimed; the first is also hash-matched against the registry's
DuckDB oracles.

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the per-layer
metrics of a separate traced run (phase spans, Spark job groups, status
tracker counts; spans are written to ``<work>/spans.json``).  A traced run
also runs one operation of the other kind after the timed loop, so every
per-layer metric is measured on every workload.  The last stdout line is
the result object; the line before it holds diagnostics.
"""

from __future__ import annotations

import time

T0 = time.monotonic()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SYNC_BATCHES = ("sync", dict(base_rows=20_000, list_rows=500, fmt="xlsx"))
SYNC_LARGE = ("sync", dict(base_rows=20_000, list_rows=20_000, fmt="csv"))
DEDUP = ("dedup", dict(docs=5_000, vectors=2_000))
# workload → (operation, input sizes)
WORKLOADS = {"sync_batches": SYNC_BATCHES, "corpus_dedup": DEDUP}
# the operation a traced run adds, so that the layers the workload does
# not use are measured too
COMPLEMENT = {"sync_batches": DEDUP, "corpus_dedup": SYNC_LARGE}
# get_spark's default heap is 40% of RAM; 2 GiB holds these inputs
DRIVER_MEMORY = "2g"
CANARY_ROWS = 400_000_000
WARMIN_ROWS = 10_000_000


def _environment(work: str) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.update(
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        SPARK_GRAFT_WAREHOUSE=os.path.join(work, "warehouse"),
        SPARK_DRIVER_MEMORY=DRIVER_MEMORY,
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        PYSPARK_SUBMIT_ARGS=(
            f'--driver-java-options "-Djava.io.tmpdir={tmp} -XX:-UsePerfData" '
            "--conf spark.ui.showConsoleProgress=false pyspark-shell"
        ),
    )


def _workload(op: str, work: str, seed: int, sizes: dict):
    from perfbench.dedup import DedupWorkload
    from perfbench.sync import SyncWorkload

    os.makedirs(work)
    return (SyncWorkload if op == "sync" else DedupWorkload)(work, seed, **sizes)


def _cpu_s(pid: int) -> float:
    """User + system CPU time of process ``pid`` so far, all threads."""
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


def _median(values):
    return statistics.median(values) if values else 0.0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    work = os.path.join(ROOT, ".perfbench_work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    _environment(work)
    sys.path[0] = ROOT  # import perfbench as a package, not its modules by bare name

    from pyspark import SparkContext
    from pyspark.sql import functions as F

    from mistocksync_spark.session import get_spark
    from perfbench.tracing import Tracer

    imports_s = time.monotonic() - T0

    # -- inputs (untimed) -------------------------------------------------
    t = time.monotonic()
    op, sizes = WORKLOADS[args.workload]
    wl = _workload(op, os.path.join(work, "op"), args.seed, sizes)
    extra = None
    if args.trace:
        op, sizes = COMPLEMENT[args.workload]
        extra = _workload(op, os.path.join(work, "complement"), args.seed, sizes)
    gen_s = time.monotonic() - t

    # -- session and warm-in ------------------------------------------------
    def canary(rows: int) -> float:
        """bench.py's host-tide canary: bit_xor(xxhash64(id)) over ``rows``."""
        t = time.monotonic()
        spark.range(rows).select(F.expr("bit_xor(xxhash64(id))")).write.format("noop").mode("overwrite").save()
        return time.monotonic() - t

    t = time.monotonic()
    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    start_s = time.monotonic() - t
    jvm = SparkContext._gateway.proc

    warmin_s = canary(WARMIN_ROWS)  # the session's first job pays its start-up costs
    setup_s = imports_s + start_s + warmin_s
    calibration = [canary(CANARY_ROWS)]

    tracer = Tracer(spark.sparkContext, run_id=f"{args.workload}-{args.seed}", enabled=bool(args.trace))
    problems = []
    counts = {"sync": [], "dedup": []}
    attempted = failed = 0
    check_s = 0.0

    def attempt(w, i: int, with_oracle: bool) -> float | None:
        """One operation plus its untimed check; returns its wall, or None
        if it raised."""
        nonlocal attempted, failed, check_s
        attempted += 1
        t = time.monotonic()
        try:
            res = w.run(spark, tracer, i)
        except Exception:  # an operation that raises is a failed op
            traceback.print_exc()
            failed += 1
            problems.append(f"{w.op} {i} raised")
            return None
        wall = time.monotonic() - t
        fails, c = w.verify(i, res, with_oracle)
        check_s += time.monotonic() - t - wall
        if fails:
            failed += 1
            problems.extend(f"{w.op} {i}: {p}" for p in fails)
        counts[w.op].append(c)
        return wall

    # -- timed closed loop ------------------------------------------------
    walls, cpus, rows = [], [], 0
    while sum(walls) < args.seconds and not problems:
        i = len(walls)
        cpu = _cpu_s(os.getpid()) + _cpu_s(jvm.pid)
        wall = attempt(wl, i, with_oracle=not walls)
        if wall is None:
            break
        cpus.append(_cpu_s(os.getpid()) + _cpu_s(jvm.pid) - cpu)
        walls.append(wall)
        rows += wl.rows(i)
    calibration.append(canary(CANARY_ROWS))
    if extra is not None and not problems:
        attempt(extra, 0, with_oracle=False)

    if args.trace:
        tracer.collect_counts()
        tracer.write(os.path.join(work, "spans.json"))
    spark.stop()
    jvm.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        jvm.wait(timeout=60)
    except subprocess.TimeoutExpired:
        jvm.kill()
        jvm.wait()

    for p in problems:
        print(p, file=sys.stderr)
    op_s = _median(walls)
    diagnostics = {
        "workload": args.workload,
        "seed": args.seed,
        "op_walls_s": walls,
        "op_cpu_s": cpus,
        "gen_s": gen_s,
        "imports_s": imports_s,
        "session_start_s": start_s,
        "warmin_s": warmin_s,
        "calibration_s": calibration,
        "check_s": check_s,
        "trace": args.trace,
    }
    if args.trace:
        metrics = _layer_metrics(tracer, counts, cpus, start_s, warmin_s, calibration, op_s, attempted, failed)
    else:
        metrics = _end_to_end_metrics(setup_s, walls, rows)
    diagnostics["run_s"] = time.monotonic() - T0
    print(json.dumps({"diagnostics": diagnostics}))
    print(json.dumps({"correct": not problems, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0


def _end_to_end_metrics(setup_s: float, walls: list[float], rows: int) -> dict:
    out = {
        "setup_s": (setup_s, "s"),
        "op_s": (_median(walls), "s"),
        "op_rows_per_s": (rows / sum(walls) if walls else 0.0, "rows/s"),
    }
    return {k: {"value": v, "unit": u} for k, (v, u) in out.items()}


def _layer_metrics(tracer, counts, cpus, start_s, warmin_s, calibration, op_s, attempted, failed) -> dict:
    """Per-layer metrics of a traced run: the median over the run's
    operations of each kind of each phase's wall, Spark counts and row
    counts.  ``cpus`` and ``op_s`` are the timed operations'."""
    from perfbench.sync import BUCKETS

    def ops(op: str):
        return [s for s in tracer.spans if s.name == op]

    def phase(op: str, field: str, *names: str):
        by_op = [{c.name: c for c in tracer.children(s)} for s in ops(op)]
        return _median([sum(getattr(ph[n], field) for n in names) for ph in by_op if all(n in ph for n in names)])

    def rows(op: str, key: str):
        return _median([c[key] for c in counts[op]])

    def uncovered(op: str):
        return _median([tracer.self_time(s) / s.wall for s in ops(op)])

    calibration_s = statistics.mean(calibration)
    out = {
        "session.start_s": (start_s, "s"),
        "session.warmin_s": (warmin_s, "s"),
        "ingest.wall_s": (phase("sync", "wall", "ingest"), "s"),
        "ingest.rows_in": (rows("sync", "rows_in"), "rows"),
        "ingest.rows_out": (rows("sync", "rows_out"), "rows"),
        "compare.construct_s": (phase("sync", "wall", "compare.construct"), "s"),
        "compare.action_s": (phase("sync", "wall", "compare.action"), "s"),
        "compare.jobs": (phase("sync", "jobs", "compare.construct", "compare.action"), "count"),
        "compare.stages": (phase("sync", "stages", "compare.construct", "compare.action"), "count"),
        "compare.tasks": (phase("sync", "tasks", "compare.construct", "compare.action"), "count"),
        **{f"compare.rows.{b}": (rows("sync", b), "rows") for b in BUCKETS},
        "fuzzy.construct_s": (phase("sync", "wall", "fuzzy.construct"), "s"),
        "fuzzy.action_s": (phase("sync", "wall", "fuzzy.action"), "s"),
        "fuzzy.jobs": (phase("sync", "jobs", "fuzzy.construct", "fuzzy.action"), "count"),
        "fuzzy.candidates": (rows("sync", "new_items_for_base"), "rows"),
        "fuzzy.matched": (rows("sync", "fuzzy_matched"), "rows"),
        "merge.wall_s": (phase("sync", "wall", "merge"), "s"),
        "merge.jobs": (phase("sync", "jobs", "merge"), "count"),
        "merge.rows_updated": (rows("sync", "rows_updated"), "rows"),
        "insert.wall_s": (phase("sync", "wall", "insert"), "s"),
        "insert.rows": (rows("sync", "new_items_for_base"), "rows"),
        "report.build_s": (phase("sync", "wall", "report.build"), "s"),
        "report.write_s": (phase("sync", "wall", "report.write"), "s"),
        "report.rows": (rows("sync", "report_rows"), "rows"),
        "report.jobs": (phase("sync", "jobs", "report.build", "report.write"), "count"),
        "dedup.exact_s": (phase("dedup", "wall", "dedup.exact"), "s"),
        "dedup.lsh_s": (phase("dedup", "wall", "dedup.lsh"), "s"),
        "dedup.lsh_pairs": (rows("dedup", "lsh_pairs"), "count"),
        "dedup.cc_s": (phase("dedup", "wall", "dedup.cc"), "s"),
        "dedup.cc_jobs": (phase("dedup", "jobs", "dedup.cc"), "count"),
        "dedup.survivors_s": (phase("dedup", "wall", "dedup.survivors"), "s"),
        "dedup.survivors": (rows("dedup", "survivors"), "rows"),
        "vectors.near_dup_s": (phase("dedup", "wall", "vectors.near_dup"), "s"),
        "vectors.jobs": (phase("dedup", "jobs", "vectors.near_dup"), "count"),
        "vectors.pairs": (rows("dedup", "vector_pairs"), "count"),
        "op.cpu_s": (_median(cpus), "s"),
        "sync.uncovered_share": (uncovered("sync"), "ratio"),
        "dedup.uncovered_share": (uncovered("dedup"), "ratio"),
        "run.jobs": (sum(s.jobs for s in tracer.spans), "count"),
        "run.tasks": (sum(s.tasks for s in tracer.spans), "count"),
        "run.failed_tasks": (sum(s.failed_tasks for s in tracer.spans), "count"),
        "run.failed_ops": (failed / attempted, "ratio"),
        "trace.overhead_s": (tracer.overhead_s, "s"),
        "calibration_s": (calibration_s, "s"),
        "op_per_calibration": (op_s / calibration_s, "ratio"),
    }
    return {k: {"value": v, "unit": u} for k, (v, u) in out.items()}


if __name__ == "__main__":
    sys.exit(main())
