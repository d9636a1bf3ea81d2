"""The benchmark's two workloads, each driven through public entry points
of the program.

A workload runs in passes of ops: two CLI runs for ``subset_cli``, and
for ``analytics_mix`` one op that runs every mix query and one curation
once, in seeded order.  Every per-op seed derives from the workload seed.
"""

from __future__ import annotations

import contextlib
import os
import shutil
from pathlib import Path

import numpy as np

from perfbench import gates


def op_seed(seed: int, n: int) -> int:
    return int(np.random.SeedSequence([seed, n]).generate_state(1)[0] % 2**31)


class Op:
    """One timed call: ``run()`` does the program's work and returns its
    output, ``gate(output)`` lists what is wrong with it (untimed) and
    ``cleanup()`` removes what it wrote (untimed)."""

    def __init__(self, label: str, run, gate, cleanup=lambda: None):
        self.label, self.run, self.gate, self.cleanup = label, run, gate, cleanup


class Workload:
    """Defaults for the hooks a workload may override."""

    def setup(self, spark, src: str, out: Path, seed: int, tracer) -> None:
        raise NotImplementedError

    def after_warmup(self) -> list[str]:
        """Untimed checks once the warm-up ops ran; returns problems."""
        return []

    def final_check(self) -> dict[str, list[str]]:
        """Untimed checks after the timed passes: ``label -> problems``."""
        return {}

    def layer_extras(self, outputs: list) -> dict[str, float]:
        """Per-layer ratios computed from the traced ops' outputs."""
        return {}


class SubsetCli(Workload):
    """``rdbms_subsetter_spark SRC DEST 0.05 --seed S -y`` on the customer /
    supplier side of the TPC-H graph: a 5% sample closed over its FK
    parents, with child rows pulled per parent, written as parquet and
    integrity-checked and resynced by the CLI itself.

    The orders / lineitem / events side of the graph is excluded: the
    writer runs 40-60 Spark jobs per written table and the job count
    grows with the closure depth, so the full ten-table graph takes
    40-70 s per op on a 4-core host, more than one run can afford.
    """

    name = "subset_cli"
    tables = ("region", "nation", "customer", "supplier")
    excluded = ("orders", "lineitem", "events")
    fraction = 0.05
    sf = 0.01
    n_docs = 0

    def setup(self, spark, src: str, out: Path, seed: int, tracer) -> None:
        from rdbms_subsetter_spark.constraints import tpch_registry

        self.src, self.out, self.seed = src, out, seed
        self.registry = tpch_registry()

    def _op(self, n: int) -> Op:
        from rdbms_subsetter_spark import cli

        dest = str(self.out / f"subset{n}")
        argv = [self.src, dest, str(self.fraction), "--seed", str(op_seed(self.seed, n)), "-y",
                "--exclude-tables", *self.excluded]

        def run():
            with open(os.devnull, "w") as sink, contextlib.redirect_stdout(sink):
                return cli.main(argv)

        return Op("subset", run,
                  lambda rc: gates.check_subset(self.src, dest, self.registry, rc, self.fraction),
                  lambda: shutil.rmtree(dest, ignore_errors=True))

    def pass_ops(self, p: int) -> list[Op]:
        """Two CLI runs: the op still speeds up over its first few runs
        in a session, so one op per pass would be the noisiest sample."""
        return [self._op(2 * p), self._op(2 * p + 1)]

    def warmup_ops(self) -> list[Op]:
        return [self._op(0)]


#: the read-only battery: the FK-closure read path, TPC-H joins and
#: aggregates, windows and as-of joins, ANN, graph, text and streaming
MIX = (
    "subset_summary", "child_topk",
    "agg_pricing_summary", "join_revenue_by_nation",
    "window_rank_running", "asof_join_latest_order",
    "ann_cosine_topk", "ann_ivf_topk",
    "graph_pagerank",
    "text_stats", "tfidf_bm25",
    "streaming_hourly",
)


class AnalyticsMix(Workload):
    """One op runs every :data:`MIX` query from ``__spark_entry__.queries()``
    once, each into a noop sink and inside its own ``q.<name>`` span, and
    one ``curate.curate(..., dedup_method="minhash", split_seed=S)``: rule
    filters, exact + MinHash-LSH dedup with connected components, a seeded
    train/valid/test split, sharding and a partitioned write.  The
    thirteen calls run in seeded order.

    The op uses the closure engine read-only, where ``subset_cli`` uses it
    to write, and bypasses the subset writer.  The curation and the query
    battery share one op because each alone is a few seconds of work, too
    little for one timed op to be steady, and a run cannot afford a
    second warm process.

    The warm-up collects each query's result: a query with a DuckDB
    oracle must match it, one without must give the same hash again after
    the timed ops.  Every curation is checked with DuckDB and must keep
    the warm-up's ``n_final``."""

    name = "analytics_mix"
    tables = ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings")
    sf = 0.001
    n_docs = 1000

    def setup(self, spark, src: str, out: Path, seed: int, tracer) -> None:
        import __spark_entry__ as entry

        self.spark, self.src, self.out, self.seed, self.tracer = spark, src, out, seed, tracer
        self.queries = entry.queries()
        self.oracles = entry.oracle_sql()
        self.results: dict[str, tuple] = {}
        self.hashes: dict[str, str] = {}
        self.bad: dict[str, list[str]] = {}
        self.n_final: int | None = None

    def _collect(self, q: str) -> tuple:
        df = self.queries[q](self.spark, self.src)
        return gates.result_rows(df.columns, df.collect())

    def _noop(self, q: str) -> None:
        self.queries[q](self.spark, self.src).write.format("noop").mode("overwrite").save()

    def _curate_op(self, p: int) -> tuple:
        """``(run, gate, cleanup)`` of the curation of pass ``p``."""
        from rdbms_subsetter_spark import curate

        dest = str(self.out / f"curate{p}")

        def run():
            return curate.curate(self.spark, self.src, dest, dedup_method="minhash",
                                 split_seed=op_seed(self.seed, p))

        def gate(report):
            problems = gates.check_curate(self.src, report, self.n_final)
            if self.n_final is None:
                self.n_final = report["n_final"]
            return problems

        return run, gate, lambda: shutil.rmtree(dest, ignore_errors=True)

    def warmup_ops(self) -> list[Op]:
        def run(q):
            self.results[q] = self._collect(q)
            self.hashes[q] = gates.result_hash(*self.results[q])

        return [Op(q, lambda q=q: run(q), lambda _: []) for q in MIX] + [
            Op("curate", *self._curate_op(0))]

    def after_warmup(self) -> list[str]:
        """Compare the warm-up results with the DuckDB oracles (untimed)."""
        con = gates.duck_for(self.src)
        try:
            for q in MIX:
                if q in self.oracles and not gates.same_result(
                        self.results[q], gates.oracle_rows(con, self.oracles[q])):
                    self.bad[q] = [f"{q}: result differs from its DuckDB oracle"]
        finally:
            con.close()
        return [p for ps in self.bad.values() for p in ps]

    def pass_ops(self, p: int) -> list[Op]:
        order = [*MIX, "curate"]
        np.random.default_rng(op_seed(self.seed, p)).shuffle(order)
        run_curate, gate_curate, cleanup = self._curate_op(p)

        def run():
            report = None
            for q in order:
                if q == "curate":
                    report = run_curate()
                else:
                    self.tracer.span(f"q.{q}", self._noop, q)
            return report

        def gate(report):
            return [msg for q in MIX for msg in self.bad.get(q, [])] + gate_curate(report)

        return [Op("mix", run, gate, cleanup)]

    def final_check(self) -> dict[str, list[str]]:
        """Queries without an oracle must repeat their warm-up hash."""
        changed = [f"{q}: result changed between passes" for q in MIX
                   if q not in self.oracles
                   and gates.result_hash(*self._collect(q)) != self.hashes[q]]
        return {"mix": changed} if changed else {}

    def layer_extras(self, outputs: list) -> dict[str, float]:
        """Useful-work ratios of the curation funnel, from the traced ops' reports."""
        rows = [(r["n_dedup_removed"] / r["n_pass_length"], r["n_final"] / r["n_total"])
                for r in outputs if r]
        if not rows:
            return {}
        return {"curate.dedup_removed_frac": float(np.median([r[0] for r in rows])),
                "curate.final_frac": float(np.median([r[1] for r in rows]))}


WORKLOADS = {w.name: w for w in (SubsetCli, AnalyticsMix)}
