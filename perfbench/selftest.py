#!/usr/bin/env python3
"""Self-test of the benchmark on sf0.001 inputs.

    python3 perfbench/selftest.py

1. Every workload, with ``--trace 0`` and ``--trace 1``, completes at
   least one op correctly and prints exactly the metric names of
   ``BENCHMARK.json`` with their units.
2. Every correctness gate accepts a real output of the program and
   rejects a deliberately corrupted copy of it.

Exits 0 when every check holds.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds
import pyarrow.parquet as pq

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from perfbench import gates, run  # noqa: E402
from perfbench.datagen import NEAR_DUP_SUFFIX, write_dataset  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402

FAILURES: list[str] = []
FRACTION = 0.2  # of the sf0.001 tables, so every table gets sampled rows


def check(cond: bool, what: str) -> None:
    print(("ok   " if cond else "FAIL ") + what, flush=True)
    if not cond:
        FAILURES.append(what)


def run_workloads() -> None:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    want = {
        0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
        1: {m["name"]: m["unit"] for m in spec["per_layer"]},
    }
    for name in sorted(WORKLOADS):
        for trace in (0, 1):
            cmd = [sys.executable, str(ROOT / "perfbench" / "run.py"), "--workload", name,
                   "--seed", "1", "--seconds", "1", "--trace", str(trace), "--tiny"]
            proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
            tag = f"{name} --trace {trace}"
            check(proc.returncode == 0, f"{tag}: exit code 0")
            if proc.returncode != 0:
                print(proc.stderr[-3000:], file=sys.stderr)
                continue
            result = json.loads(proc.stdout.strip().splitlines()[-1])
            check(result["correct"] and result["failed"] == 0 and result["attempted"] >= 1,
                  f"{tag}: {result['attempted']} ops attempted, {result['failed']} failed")
            got = {k: v["unit"] for k, v in result["metrics"].items()}
            check(got == want[trace], f"{tag}: metric names and units match BENCHMARK.json")
            check(all(isinstance(v["value"], (int, float)) for v in result["metrics"].values()),
                  f"{tag}: every metric value is a number")


def _rewrite(table_dir: Path, keep) -> None:
    """Replace a written table directory with the rows ``keep`` selects."""
    table = ds.dataset(table_dir, format="parquet").to_table()
    shutil.rmtree(table_dir)
    table_dir.mkdir()
    pq.write_table(table.filter(keep(table)), table_dir / "part-0.parquet")


def _copy(src: Path, dst: Path) -> Path:
    shutil.copytree(src, dst)
    return dst


def _names(problems: list[str], what: str) -> bool:
    """The gate reports the problem ``what`` (and so not only another one)."""
    return any(what in p for p in problems)


def _restore_removed_copy(src_docs: str, curated: Path, suffix: str) -> bool:
    """Add back to the training split of ``curated`` one source document
    that dedup removed: one whose text is a written document's text plus
    ``suffix`` (``""`` for an exact copy).  False if there is none."""
    src = pq.read_table(Path(src_docs) / "documents.parquet").to_pylist()
    train_file = next((curated / "split=train").glob("*.parquet"))
    train = pq.read_table(train_file)
    written = ds.dataset(curated, format="parquet", partitioning="hive").to_table().to_pylist()
    by_text = {d["text"]: d for d in written}
    ids = {d["doc_id"] for d in written}
    for doc in src:
        orig = by_text.get(doc["text"][: len(doc["text"]) - len(suffix)])
        if doc["doc_id"] in ids or orig is None or not doc["text"].endswith(suffix):
            continue
        row = {**{k: orig[k] for k in train.column_names}, **doc}
        pq.write_table(pa.Table.from_pylist([row], schema=train.schema),
                       curated / "split=train" / "part-restored.parquet")
        return True
    return False


def corrupted_outputs(work: Path) -> None:
    run._pin_environment(work, trace=False)
    from rdbms_subsetter_spark import cli, curate
    from rdbms_subsetter_spark.constraints import tpch_registry
    from rdbms_subsetter_spark.session import get_spark

    import __spark_entry__ as entry

    spark = get_spark("perfbench-selftest")
    try:
        registry = tpch_registry()
        sub = WORKLOADS["subset_cli"]
        src = str(write_dataset(work / "src_subset", 1, 0.001, 0, sub.tables))
        dest = work / "subset"
        with open(os.devnull, "w") as sink, contextlib.redirect_stdout(sink):
            rc = cli.main([src, str(dest), str(FRACTION), "--seed", "3", "-y",
                           "--exclude-tables", *sub.excluded])

        def subset_problems(d: Path, rc: int = 0) -> list[str]:
            return gates.check_subset(src, str(d), registry, rc, FRACTION)

        check(subset_problems(dest, rc) == [], "subset gate accepts the CLI's output")
        check(subset_problems(dest, 1) != [], "subset gate rejects a non-zero exit code")
        bad = _copy(dest, work / "subset_orphan")
        used = pq.read_table(bad / "customer.parquet", columns=["c_nationkey"]).column(0)[0]
        _rewrite(bad / "nation.parquet", lambda t: pc.not_equal(t["n_nationkey"], used))
        check(_names(subset_problems(bad), "orphan rows"),
              "subset gate rejects a copy with one parent row deleted")
        bad = _copy(dest, work / "subset_alien")
        table = ds.dataset(bad / "supplier.parquet", format="parquet").to_table()
        row = table.slice(0, 1).set_column(0, "s_suppkey", [[10**9]])
        pq.write_table(row, bad / "supplier.parquet" / "part-extra.parquet")
        check(_names(subset_problems(bad), "keys not in the source"),
              "subset gate rejects a copy with a key that is not in the source")
        bad = _copy(dest, work / "subset_unpulled")
        nation = pq.read_table(bad / "customer.parquet").column("c_nationkey")[0]
        src_customer = pq.read_table(Path(src) / "customer.parquet")
        first = pc.min(src_customer.filter(pc.equal(src_customer["c_nationkey"], nation))["c_custkey"])
        _rewrite(bad / "customer.parquet", lambda t: pc.not_equal(t["c_custkey"], first))
        check(_names(subset_problems(bad), "children of written parents not written"),
              "subset gate rejects a copy with a pulled child row deleted")
        bad = _copy(dest, work / "subset_small")
        target = int(src_customer.num_rows * FRACTION)
        _rewrite(bad / "customer.parquet",
                 lambda t: pc.less(pc.rank(t["c_custkey"], sort_keys="ascending"), target))
        check(_names(subset_problems(bad), "below its target"),
              "subset gate rejects a copy with a table below its sample target")

        src_docs = str(write_dataset(work / "src_docs", 1, 0.01, 2000, ("documents",)))
        report = curate.curate(spark, src_docs, str(work / "curated"), dedup_method="minhash")
        check(gates.check_curate(src_docs, report, None) == [], "curate gate accepts curate's output")
        check(gates.check_curate(src_docs, report, report["n_final"] + 1) != [],
              "curate gate rejects an n_final that differs from the first op")
        bad_dir = _copy(Path(report["dest"]), work / "curated_split")
        train = next((bad_dir / "split=train").glob("*.parquet"))
        other = next(d for d in bad_dir.iterdir() if d.name != "split=train" and d.is_dir())
        pq.write_table(pq.read_table(train).slice(0, 1), other / "part-dup.parquet")
        check(_names(gates.check_curate(src_docs, {**report, "dest": str(bad_dir)}, None),
                     "more than one split"),
              "curate gate rejects a copy with one document in two splits")
        for kind, suffix, expect in (("exact", "", "repeat a text"),
                                     ("near", NEAR_DUP_SUFFIX, "near-duplicates")):
            bad_dir = _copy(Path(report["dest"]), work / f"curated_{kind}")
            check(_restore_removed_copy(src_docs, bad_dir, suffix)
                  and _names(gates.check_curate(src_docs, {**report, "dest": str(bad_dir)}, None),
                             expect),
                  f"curate gate rejects a copy holding a removed {kind} duplicate")

        src_all = str(write_dataset(work / "src_all", 1, 0.001, 300))
        con = gates.duck_for(src_all)
        for q in ("subset_summary", "agg_pricing_summary"):
            df = entry.queries()[q](spark, src_all)
            rows = df.collect()
            oracle = gates.oracle_rows(con, entry.oracle_sql()[q])
            check(gates.same_result(gates.result_rows(df.columns, rows), oracle),
                  f"{q}: Spark result matches its oracle")
            check(not gates.same_result(gates.result_rows(df.columns, rows[1:]), oracle),
                  f"{q}: query gate rejects the result with one row dropped")
        con.close()
        tie = (["n_name", "revenue"], [("NATION_5", 7383481.98)])
        check(gates.same_result(tie, (tie[0], [("NATION_5", 7383481.99)])),
              "query gate accepts a half-cent sum rounded the other way")
        check(not gates.same_result(tie, (tie[0], [("NATION_5", 7383482.0)])),
              "query gate rejects a sum two cents off")
        check(not gates.same_result((tie[0], [("NATION_5", 0.5234)]), (tie[0], [("NATION_5", 0.5334)])),
              "query gate rejects a float a hundredth off that no rounding explains")
    finally:
        run._stop_spark(spark)


def main() -> int:
    run_workloads()
    work = ROOT / ".perfbench_work" / f"selftest-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    try:
        corrupted_outputs(work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(f"{len(FAILURES)} failed" if FAILURES else "all checks passed")
    return 1 if FAILURES else 0


if __name__ == "__main__":
    sys.exit(main())
