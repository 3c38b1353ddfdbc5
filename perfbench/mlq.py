"""``ml_queries``: the ML half of the query registry.

Inputs: the synthetic tables the mix reads (``datagen``) at ``SF``,
generated from the seed, and each query's DuckDB oracle digest over the
same files (``tools/check_correctness.py``'s ``table_digest``), computed
before the session starts.

Timed section, one client, closed loop: whole cycles over ``QUERIES``
until ``--seconds`` have passed (at least one cycle). The order is fixed:
in a fresh JVM the first queries pay for class loading and JIT
compilation, and a seeded order moved that cost between queries from run
to run, which moved the median. One operation is one query as a caller sees it: the registry
builder call plus ``collect()`` of its result. The first result of each
query is hashed against its oracle digest after the clock stops; a
mismatch or an error is a failed operation.

The mix holds one query per ML operator module (similarity, dedup, graph,
ranking, fuzzy). These queries spend their time in builder-side driver
jobs, Catalyst on large expression trees and candidate-pair volume, more
than in executor work on their inputs.
"""

from __future__ import annotations

import importlib
import sys
import time
from dataclasses import dataclass

from spans import (MODULE_LAYERS, Result, Tracer, jvm_alive, layer_report,
                   package_modules)

SF = 0.01
TINY_SF = 0.001
QUERIES = [
    "ivf_assign_fixed",         # similarity: IVF cell assignment (dot kernel)
    "dedup_minhash_lsh",        # dedup: MinHash LSH candidate pairs
    "pagerank_part_supplier",   # graph: fixed-point PageRank iterations
    "quality_rank_ensemble",    # ranking: global positions over three keys
    "fuzzy_join_part_names",    # fuzzy: trigram Jaccard join
]


@dataclass
class Inputs:
    dir: str
    digests: dict[str, tuple[int, str]]


def generate(out_dir: str, seed: int, tiny: bool) -> Inputs:
    import datagen
    import duckdb

    from check_correctness import table_digest

    from py_etl_spark.queries import oracle_sql

    tables = datagen.generate(out_dir, seed, TINY_SF if tiny else SF)
    oracles = oracle_sql()
    con = duckdb.connect()
    try:
        for t in tables:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{out_dir}/{t}.parquet')")
        digests = {}
        for name in QUERIES:
            res = con.execute(oracles[name])
            cols = [d[0] for d in res.description]
            rows = res.fetchall()
            digests[name] = (len(rows), table_digest(rows, cols))
    finally:
        con.close()
    return Inputs(out_dir, digests)


def run(spark, inp: Inputs, seconds: float, tracer: Tracer, cores: int) -> Result:
    from check_correctness import table_digest

    from py_etl_spark import queries as Q

    mods = package_modules()
    for layer in MODULE_LAYERS:
        module = importlib.import_module(f"py_etl_spark.operators.{layer}")
        tracer.wrap_module(module, layer, mods)
    registry = Q.queries()
    op_s, op_spans, checked_names, failed, attempted = [], [], set(), 0, 0
    mismatched: list[str] = []
    per_query: dict[str, list[float]] = {}
    cycles, t_loop = 0, time.perf_counter()
    while not cycles or time.perf_counter() - t_loop < seconds:
        cycles += 1
        for name in QUERIES:
            attempted += 1
            t0 = time.perf_counter()
            try:
                with tracer.span(f"query.{name}") as sp:
                    with tracer.span("queries.build"):
                        df = registry[name](spark, inp.dir)
                    rows = df.collect()
            except Exception as exc:  # noqa: BLE001 - recorded, run goes on
                failed += 1
                mismatched.append(f"{name}: {exc!r}"[:300])
                continue
            op_s.append(time.perf_counter() - t0)
            op_spans.append(sp)
            per_query.setdefault(name, []).append(op_s[-1])
            if name not in checked_names:
                checked_names.add(name)
                got = (len(rows), table_digest([tuple(r) for r in rows], df.columns))
                if got != inp.digests[name]:
                    failed += 1
                    mismatched.append(name)
        if failed and not jvm_alive():
            break
    work_s = time.perf_counter() - t_loop
    notes = {"queries": len(QUERIES), "cycles": cycles, "query_s": per_query}
    if mismatched:
        notes["failures"] = mismatched
    if tracer.enabled:
        notes["per_query"] = _per_query(tracer, op_spans)
    layers = layer_report(tracer, op_spans, spark.sparkContext, cores) if tracer.enabled else {}
    checked = checked_names == set(QUERIES)
    return Result(op_s, len(op_s), work_s, attempted, failed, checked, notes, layers)


def _per_query(tracer: Tracer, ops) -> dict:
    """Build time and builder driver jobs of each query's first run."""
    out: dict = {}
    for op in ops:
        name = op.name.split(".", 1)[1]
        if name in out:
            continue
        build = next(sp for sp in tracer.within(op) if sp.name == "queries.build")
        out[name] = {
            "op_s": op.end - op.start,
            "build_s": build.end - build.start,
            "build_jobs": build.attrs["job_hi"] - build.attrs["job_lo"],
        }
    return out

