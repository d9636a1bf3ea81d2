"""Correctness gates: every op's output is checked with DuckDB, an engine
independent of the Spark program under test.  Each gate returns a list of
problems; an empty list means the output is correct."""

from __future__ import annotations

import hashlib
import math
from pathlib import Path

import duckdb

from perfbench.datagen import NEAR_DUP_SUFFIX


def _canon(v) -> str:
    if v is None:
        return "∅"
    if isinstance(v, float):
        return "nan" if math.isnan(v) else repr(v + 0.0)
    if isinstance(v, bool):
        return str(v)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    return str(v)


def result_hash(columns: list[str], rows) -> str:
    """Order-insensitive hash of a result: columns sorted by name, values
    canonicalised (floats by repr, timestamps by isoformat), rows sorted."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    canon = sorted("\x1f".join(_canon(r[i]) for i in order) for r in rows)
    h = hashlib.sha256("\x1e".join(columns[i] for i in order).encode())
    for line in canon:
        h.update(b"\x1d" + line.encode())
    return h.hexdigest()


def _same_float(a: float, b: float) -> bool:
    """Equal up to summation order.  Two engines that sum the same values
    in a different order may round a sum that lies half-way between two
    decimals in opposite directions: ``round(7383481.985, 2)`` comes out
    as ``...98`` in one and ``...99`` in the other.  Such a pair is two
    neighbouring multiples of ``10**-d`` and counts as equal."""
    if math.isnan(a) or math.isnan(b):
        return math.isnan(a) and math.isnan(b)
    if math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-12):
        return True
    d = round(-math.log10(abs(a - b)))
    step = 10.0**-d
    return (0 <= d <= 8 and math.isclose(abs(a - b), step, rel_tol=1e-6)
            and all(abs(x / step - round(x / step)) < 1e-3 for x in (a, b)))


def result_rows(columns: list[str], rows) -> tuple[list[str], list[tuple]]:
    """A result in canonical order: columns sorted by name, rows sorted by
    their non-float values, then by their floats."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = [tuple(r[i] for i in order) for r in rows]

    def key(row):
        floats = [v if isinstance(v, float) else 0.0 for v in row]
        return (tuple("" if isinstance(v, float) else _canon(v) for v in row),
                tuple(math.inf if math.isnan(v) else v for v in floats))

    return [columns[i] for i in order], sorted(out, key=key)


def same_result(a: tuple[list[str], list[tuple]], b: tuple[list[str], list[tuple]]) -> bool:
    """Two :func:`result_rows` results hold the same rows: non-float values
    equal once canonicalised, floats equal by :func:`_same_float`."""
    if a[0] != b[0] or len(a[1]) != len(b[1]):
        return False
    for ra, rb in zip(a[1], b[1]):
        for x, y in zip(ra, rb):
            if isinstance(x, float) and isinstance(y, float):
                if not _same_float(x, y):
                    return False
            elif _canon(x) != _canon(y):
                return False
    return True


def duck_for(src_dir: str) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per source table."""
    con = duckdb.connect()
    con.execute("SET threads TO 1")
    for f in sorted(Path(src_dir).glob("*.parquet")):
        con.execute(f"CREATE VIEW {f.stem} AS SELECT * FROM '{f}'")
    return con


def oracle_rows(con: duckdb.DuckDBPyConnection, sql: str) -> tuple[list[str], list[tuple]]:
    """The oracle query's result, as :func:`result_rows` gives it."""
    res = con.execute(sql)
    return result_rows([d[0] for d in res.description], res.fetchall())


def check_subset(src_dir: str, dest_dir: str, registry, rc: int, fraction: float,
                 children: int = 3) -> list[str]:
    """The CLI returned 0; every FK edge between written tables has no
    orphan child row; every written table holds at least its sample
    target ``int(rows * fraction)`` rows and its keys are a subset of the
    source table's keys; and for every written parent row, its first
    ``children`` child rows by primary key (the CLI's deterministic
    capped child pull) are written too."""
    problems = [] if rc == 0 else [f"cli.main returned {rc}"]
    written = sorted(p.name[: -len(".parquet")] for p in Path(dest_dir).glob("*.parquet"))
    if not written:
        return problems + ["no table written"]
    con = duckdb.connect()
    con.execute("SET threads TO 1")
    try:
        for t in written:
            con.execute(f"CREATE VIEW w_{t} AS SELECT * FROM '{dest_dir}/{t}.parquet/*.parquet'")
            con.execute(f"CREATE VIEW s_{t} AS SELECT * FROM '{src_dir}/{t}.parquet'")
            n, n_src = con.execute(
                f"SELECT (SELECT count(*) FROM w_{t}), (SELECT count(*) FROM s_{t})"
            ).fetchone()
            if n == 0:
                problems.append(f"{t}: empty")
            elif n < int(n_src * fraction):
                problems.append(f"{t}: {n} rows, below its target {int(n_src * fraction)}")
            key = ", ".join(registry.pk(t)) or "*"
            extra = con.execute(
                f"SELECT count(*) FROM (SELECT {key} FROM w_{t} EXCEPT SELECT {key} FROM s_{t})"
            ).fetchone()[0]
            if extra:
                problems.append(f"{t}: {extra} keys not in the source")
        for fk in registry.fks:
            if fk.table not in written:
                continue
            nonnull = " AND ".join(f"c.{c} IS NOT NULL" for c in fk.columns)
            if fk.ref_table not in written:
                orphans = con.execute(f"SELECT count(*) FROM w_{fk.table} c WHERE {nonnull}").fetchone()[0]
            else:
                match = " AND ".join(f"p.{rc} = c.{c}" for c, rc in zip(fk.columns, fk.ref_columns))
                orphans = con.execute(
                    f"SELECT count(*) FROM w_{fk.table} c WHERE {nonnull} AND NOT EXISTS "
                    f"(SELECT 1 FROM w_{fk.ref_table} p WHERE {match})"
                ).fetchone()[0]
            if orphans:
                problems.append(
                    f"{fk.table}.{','.join(fk.columns)} -> {fk.ref_table}: {orphans} orphan rows"
                )
            if fk.ref_table in written:
                missing = _unpulled_children(con, registry, fk, children)
                if missing:
                    problems.append(
                        f"{fk.table}.{','.join(fk.columns)} -> {fk.ref_table}: "
                        f"{missing} of the first {children} children of written parents not written"
                    )
    finally:
        con.close()
    return problems


def _unpulled_children(con, registry, fk, children: int) -> int:
    """Source child rows among the first ``children`` by primary key of a
    written parent row that are missing from the written child table."""
    pk = registry.pk(fk.table)
    to_parent = " AND ".join(f"p.{r} = c.{c}" for c, r in zip(fk.columns, fk.ref_columns))
    to_written = " AND ".join(f"w.{k} = c.{k}" for k in pk)
    return con.execute(
        f"SELECT count(*) FROM (SELECT *, row_number() OVER (PARTITION BY "
        f"{', '.join(fk.columns)} ORDER BY {', '.join(pk)}) AS rn FROM s_{fk.table} c "
        f"WHERE EXISTS (SELECT 1 FROM w_{fk.ref_table} p WHERE {to_parent})) c "
        f"WHERE c.rn <= {children} AND NOT EXISTS (SELECT 1 FROM w_{fk.table} w WHERE {to_written})"
    ).fetchone()[0]


def check_curate(src_dir: str, report: dict, expect_n_final: int | None) -> list[str]:
    """The funnel report agrees with the written split directories; no
    doc_id is in two splits; every written document is an unchanged
    English source document; no two written documents share a text
    (exact dedup) and none is another's generated near-duplicate
    (MinHash dedup, see :func:`perfbench.datagen._documents`); and
    ``n_final`` equals the run's first op."""
    problems = []
    n_final = report["n_final"]
    if sum(report["per_split"].values()) != n_final:
        problems.append(f"per_split {report['per_split']} does not sum to n_final {n_final}")
    if expect_n_final is not None and n_final != expect_n_final:
        problems.append(f"n_final {n_final} != {expect_n_final} of the first op")
    if n_final == 0:
        return problems + ["no document written"]
    con = duckdb.connect()
    con.execute("SET threads TO 1")
    try:
        con.execute(
            f"CREATE VIEW w AS SELECT * FROM read_parquet('{report['dest']}/*/*.parquet', "
            "hive_partitioning = true)"
        )
        con.execute(f"CREATE VIEW s AS SELECT * FROM '{src_dir}/documents.parquet'")
        per_split = dict(con.execute("SELECT split, count(*) FROM w GROUP BY split").fetchall())
        if per_split != report["per_split"]:
            problems.append(f"written splits {per_split} != report {report['per_split']}")
        multi = con.execute(
            "SELECT count(*) FROM (SELECT doc_id FROM w GROUP BY doc_id "
            "HAVING count(DISTINCT split) > 1)"
        ).fetchone()[0]
        if multi:
            problems.append(f"{multi} doc_ids in more than one split")
        n, n_text = con.execute("SELECT count(*), count(DISTINCT text) FROM w").fetchone()
        if n != n_text:
            problems.append(f"{n - n_text} written documents repeat a text")
        near = con.execute(
            "SELECT count(*) FROM w a JOIN w b ON b.text = a.text || ?", [NEAR_DUP_SUFFIX]
        ).fetchone()[0]
        if near:
            problems.append(f"{near} written documents are near-duplicates of another written one")
        alien = con.execute(
            "SELECT count(*) FROM w WHERE NOT EXISTS (SELECT 1 FROM s WHERE s.doc_id = w.doc_id "
            "AND s.text = w.text AND s.lang = 'en' AND w.lang = 'en')"
        ).fetchone()[0]
        if alien:
            problems.append(f"{alien} written documents are not unchanged English source documents")
    finally:
        con.close()
    return problems
