#!/usr/bin/env python3
"""Benchmark of the subsetting and analytics engine, one workload per run.

    python3 perfbench/run.py --workload subset_cli --seed 1 --seconds 12 --trace 0

Run from the root of a checkout.  Each run is a fresh process: it
generates its inputs from ``--seed``, starts the engine's own Spark
session (``session.get_spark``) on a pinned number of task slots and
JVM heap, runs an untimed warm-up (the workload's first op, cold), then
timed ops in whole passes until ``--seconds`` of op time have been
measured.  Every op's output is
checked with DuckDB; an op that raises or fails its check counts in
``failed`` and is left out of the latency figures.  The last line of
standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.

``--trace 0`` reports the end-to-end metrics.  ``--trace 1`` reports the
per-layer metrics instead: timed ops run in pairs, one traced and one
untraced, and the seed's parity sets which of the two runs first, so that
over many seeds warm-up drift favours neither kind in
``trace.overhead_frac``.  Traced ops
run with span wrappers around the program's public functions and the
Spark event log attributes jobs, stages and tasks to spans; a span
metric is the median, over the traced ops that made the call, of the
op's total for it.

Everything the run writes stays under ``.perfbench_work/`` in the
checkout and is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
if str(ROOT) not in sys.path:
    sys.path.insert(0, str(ROOT))

from perfbench import procstat  # noqa: E402
from perfbench.datagen import write_dataset  # noqa: E402
from perfbench.trace import Tracer, read_event_log, spark_defaults  # noqa: E402
from perfbench.workloads import MIX, WORKLOADS  # noqa: E402

#: Spark task slots and JVM heap, pinned so both sides of a comparison
#: run the same engine.  Three slots on a four-core host leave the Python
#: and JVM threads that plan and schedule the jobs a free core (the write
#: phase ran ~20% faster at local[3] than at local[4]); the engine's 16g
#: default heap exceeds a 15 GiB host.
TASK_SLOTS = 3
JVM_HEAP = "2g"

END_TO_END = {
    "setup_s": "s",
    "op_p50_s": "s",
    "ops_per_s": "1/s",
    "cpu_s_per_op": "s",
    "peak_pss_mb": "MB",
}

_QUANTITY = {  # unit, better
    "s": ("s", "lower"),
    "self_s": ("s", "lower"),
    "jobs": ("count", "lower"),
    "stages": ("count", "lower"),
    "tasks": ("count", "lower"),
    "task_s": ("s", "lower"),
    "slot_busy": ("frac", "higher"),
    "written_mb": ("MB", "lower"),
    "shuffle_mb": ("MB", "lower"),
}

SPAN_METRICS = {
    "writer.write_subset": ("s", "jobs", "stages", "tasks", "task_s", "slot_busy", "written_mb"),
    "writer.sequence_resync_report": ("s", "jobs"),
    "writer.plan_preview": ("s",),
    "closure.create_subset": ("s", "jobs"),
    "closure.close_parents": ("s",),
    "closure.pull_children": ("s",),
    "closure.integrity_violations": ("s", "jobs"),
    "catalog.Catalog": ("s",),
    "sampling.sample_exact_n": ("s",),
    "cli.main": ("s", "self_s"),
    "curate.curate": ("s", "self_s", "jobs", "stages", "tasks", "task_s", "slot_busy", "shuffle_mb"),
    "curate.rule_filter": ("s",),
    "curate.dedup_survivors": ("s",),
    "dedup.minhash_lsh_pairs": ("s",),
    "dedup.connected_components": ("s", "jobs"),
    "partitioning.split_assignment": ("s",),
    "partitioning.shard_assignment": ("s",),
    **{f"q.{q}": ("s", "jobs") for q in MIX},
}

OTHER_LAYER = {  # name: (unit, better)
    "curate.dedup_removed_frac": ("frac", "higher"),
    "curate.final_frac": ("frac", "higher"),
    "spark.jobs_per_op": ("count", "lower"),
    "spark.stages_per_op": ("count", "lower"),
    "spark.tasks_per_op": ("count", "lower"),
    "spark.task_s_per_op": ("s", "lower"),
    "spark.gc_s_per_op": ("s", "lower"),
    "spark.shuffle_mb_per_op": ("MB", "lower"),
    "spark.slot_busy": ("frac", "higher"),
    "host.steal_s": ("s", "lower"),
    "host.loadavg": ("load", "lower"),
    "trace.overhead_frac": ("frac", "lower"),
    "trace.span_cover_frac": ("frac", "higher"),
}


def per_layer_spec() -> dict[str, tuple[str, str]]:
    """Every per-layer metric name with its unit and better direction."""
    spec = {f"{span}.{q}": _QUANTITY[q] for span, qs in SPAN_METRICS.items() for q in qs}
    spec.update(OTHER_LAYER)
    return spec


def _median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def _program_present() -> bool:
    return (ROOT / "rdbms_subsetter_spark" / "__init__.py").is_file() and (
        ROOT / "__spark_entry__.py"
    ).is_file()


def _pin_environment(work: Path, trace: bool) -> None:
    """Everything the engine, the JVM and the Python workers write goes
    under ``work``; the workers import the program from the checkout."""
    for d in ("tmp", "local", "warehouse", "events", "conf", "out"):
        (work / d).mkdir(parents=True, exist_ok=True)
    (work / "conf" / "spark-defaults.conf").write_text(spark_defaults(work, trace))
    path = os.environ.get("PYTHONPATH")
    os.environ.update(
        PYTHONPATH=str(ROOT) + (os.pathsep + path if path else ""),
        SPARK_GRAFT_CPUS=str(TASK_SLOTS),
        SPARK_GRAFT_DRIVER_MEM=JVM_HEAP,
        SPARK_GRAFT_WAREHOUSE=str(work / "warehouse"),
        SPARK_LOCAL_DIRS=str(work / "local"),
        SPARK_CONF_DIR=str(work / "conf"),
        TMPDIR=str(work / "tmp"),
    )
    tempfile.tempdir = None  # re-read TMPDIR


def _stop_spark(spark) -> None:
    """Stop the session, end the JVM, and wait for its Python workers."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None
    deadline = time.monotonic() + 60
    while len(procstat.tree_stats()) > 1 and time.monotonic() < deadline:
        time.sleep(0.1)


def _call(fn, *args):
    """``(value, problems)``: a raised exception becomes a problem."""
    try:
        return fn(*args), []
    except Exception as exc:  # an op failure is data, not a crash
        traceback.print_exc(file=sys.stderr)
        return None, [f"{type(exc).__name__}: {str(exc).splitlines()[0] if str(exc) else ''}"]


def _timed_passes(wl, tracer: Tracer, seconds: float, trace: bool, seed: int) -> list[dict]:
    """Whole passes until ``seconds`` of op time are measured and, when
    tracing, the ops form whole traced-untraced pairs."""
    records: list[dict] = []
    timed, p = 0.0, 1
    while timed < seconds or (trace and len(records) % 2):
        for op in wl.pass_ops(p):
            i = len(records)
            tracer.enabled = trace and (i + seed) % 2 == 0
            if trace:
                tracer.begin_op(i)
            cpu0 = procstat.tree_cpu_s()
            t0 = time.perf_counter()
            out, problems = _call(op.run)
            dt = time.perf_counter() - t0
            cpu = procstat.tree_cpu_s() - cpu0
            if trace:
                tracer.end_op()
            if not problems:
                found, errors = _call(op.gate, out)
                problems = errors or found
            op.cleanup()
            records.append({"label": op.label, "pass": p, "dt": dt, "cpu": cpu,
                            "problems": problems, "traced": tracer.enabled, "output": out})
            timed += dt
        p += 1
    return records


def _layer_metrics(wl, tracer: Tracer, records: list[dict], events_dir: Path,
                   steal_s: float) -> dict[str, float]:
    work = read_event_log(events_dir)
    per_op = tracer.per_op_layers(work)
    traced = [i for i, r in enumerate(records) if r["traced"]]
    untraced = [i for i, r in enumerate(records) if not r["traced"]]

    out: dict[str, float] = {}
    for span, quantities in SPAN_METRICS.items():
        calls = [per_op[i] for i in traced if f"{span}.s" in per_op.get(i, {})]
        for q in quantities:
            if q == "slot_busy":
                vals = [m.get(f"{span}.task_s", 0.0) / (m[f"{span}.s"] * TASK_SLOTS) for m in calls]
            else:
                vals = [m.get(f"{span}.{q}", 0.0) for m in calls]
            out[f"{span}.{q}"] = _median(vals)

    totals = {k: 0.0 for k in ("jobs", "stages", "tasks", "task_s", "gc_s", "shuffle_mb")}
    for group, w in work.items():
        if group.startswith("pb|") and group.split("|")[1].isdigit():
            for k in totals:
                totals[k] += w[k]
    n = len(records)
    for k, v in totals.items():
        out[f"spark.{k}_per_op"] = v / n
    out["spark.slot_busy"] = totals["task_s"] / (sum(r["dt"] for r in records) * TASK_SLOTS)

    out.update({"curate.dedup_removed_frac": 0.0, "curate.final_frac": 0.0})
    out.update(wl.layer_extras([records[i]["output"] for i in traced]))
    out["host.steal_s"] = steal_s
    out["host.loadavg"] = procstat.host_loadavg()
    t_med = _median([records[i]["dt"] for i in traced])
    u_med = _median([records[i]["dt"] for i in untraced])
    out["trace.overhead_frac"] = t_med / u_med - 1.0 if u_med else 0.0
    # time inside top-level named spans; inside a span, what its children
    # leave uncovered is its self_s
    covered = sum(s.end - s.start for s in tracer.spans if s.parent is None)
    out["trace.span_cover_frac"] = covered / sum(records[i]["dt"] for i in traced)
    return out


def run(workload: str, seed: int, seconds: float, trace: bool, work: Path, tiny: bool) -> dict:
    wl = WORKLOADS[workload]()
    _pin_environment(work, trace)
    sf, n_docs = (0.001, 300) if tiny else (wl.sf, wl.n_docs)
    src = str(write_dataset(work / "src", seed, sf, n_docs, wl.tables))

    # peak PSS covers set-up and the timed ops, not the gates after them
    # or the JVM's shutdown
    pss = procstat.PssSampler().start()
    t_start = time.perf_counter()
    from rdbms_subsetter_spark.session import get_spark

    spark = get_spark(f"perfbench-{workload}")
    try:
        tracer = Tracer(spark.sparkContext)
        if trace:
            tracer.install()
        wl.setup(spark, src, work / "out", seed, tracer)
        warm = [(op, *_call(op.run)) for op in wl.warmup_ops()]
        setup_s = time.perf_counter() - t_start
        problems = [p for _, _, ps in warm for p in ps]
        for op, out, ps in warm:
            if not ps:
                found, errors = _call(op.gate, out)
                problems += errors or found
            op.cleanup()
        problems += wl.after_warmup()

        steal0 = procstat.host_steal_s()
        records = _timed_passes(wl, tracer, seconds, trace, seed)
        steal_s = procstat.host_steal_s() - steal0
        pss.stop()
        final, final_problems = _call(wl.final_check)
        problems += final_problems
        for r in records:
            r["problems"] += (final or {}).get(r["label"], [])
    finally:
        pss.stop()
        _stop_spark(spark)

    for p in problems + [p for r in records for p in r["problems"]]:
        print(f"perfbench: {workload}: {p}", file=sys.stderr)
    ok = [r for r in records if not r["problems"]]
    result = {
        "correct": not problems and len(ok) == len(records),
        "attempted": len(records),
        "failed": len(records) - len(ok),
    }
    if trace:
        values = _layer_metrics(wl, tracer, records, work / "events", steal_s)
        units = {k: u for k, (u, _) in per_layer_spec().items()}
    else:
        values = {
            "setup_s": setup_s,
            "op_p50_s": _median([r["dt"] for r in ok]),
            "ops_per_s": len(ok) / sum(r["dt"] for r in records),
            "cpu_s_per_op": sum(r["cpu"] for r in records) / len(records),
            "peak_pss_mb": pss.peak_mb,
        }
        units = END_TO_END
    result["metrics"] = {k: {"value": values[k], "unit": u} for k, u in units.items()}
    return result


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true",
                    help="sf0.001 inputs, for the self-test (selftest.py)")
    args = ap.parse_args(argv)
    if not _program_present():
        print(f"perfbench: the program (rdbms_subsetter_spark, __spark_entry__.py) "
              f"is not in {ROOT}", file=sys.stderr)
        return 2
    work = ROOT / ".perfbench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    try:
        result = run(args.workload, args.seed, args.seconds, bool(args.trace), work, args.tiny)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
