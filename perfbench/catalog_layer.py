"""The catalog layer, measured in the traced report_page run: two of the
eager catalog queries over a generated documents table, each from
construction through ``collect()``, checked against ``catalog.oracle_sql()``
in DuckDB.

Both queries build their plans with driver-side jobs (connected-component
loops, a memoized ``localCheckpoint`` prefix), which is the construction
work these metrics watch. The seed sets the order of the two queries.
"""

from __future__ import annotations

import decimal
import os

import duckdb
import numpy as np

import gen
from spans import SpanStats, duration

QUERIES = ("dedup_clusters", "exactsubstr_removal_audit")


def _norm(v):
    return round(float(v), 6) if isinstance(v, (float, decimal.Decimal)) else v


def _rows(cols: list[str], rows, order: list[str]) -> list[tuple]:
    idx = [cols.index(c) for c in order]
    return sorted((tuple(_norm(r[i]) for i in idx) for r in rows), key=repr)


def run(spark, tracer, seed: int, work: str) -> dict:
    """Generate the documents, run the queries in seeded order and check
    them. Returns the problems found and how many queries were run."""
    from irstats2_spark import catalog, queries_pipeline

    sf_dir = os.path.join(work, "catalog")
    gen.generate_documents(seed, sf_dir)
    queries, oracle = catalog.queries(), catalog.oracle_sql()
    # the memoized cross-query prefixes, read (never changed) to count builds
    prefixes = getattr(queries_pipeline, "_PREFIX_CACHE", {})
    before = set(prefixes)
    order = [QUERIES[i] for i in np.random.default_rng(seed + 4).permutation(len(QUERIES))]
    con = duckdb.connect()
    con.execute("CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{sf_dir}/documents.parquet')")
    problems = []
    for name in order:
        with tracer.span("catalog.query", query=name):
            with tracer.span("catalog.construction", query=name):
                df = queries[name](spark, sf_dir)
            with tracer.span("catalog.collect", query=name):
                got = df.collect()
        want = con.execute(oracle[name])
        want_cols = [d[0] for d in want.description]
        if sorted(df.columns) != sorted(want_cols):
            problems.append(f"catalog {name}: columns {df.columns} != oracle {want_cols}")
            continue
        a = _rows(df.columns, got, want_cols)
        b = _rows(want_cols, want.fetchall(), want_cols)
        if a != b:
            problems.append(f"catalog {name}: {len(a)} rows != oracle {len(b)} rows "
                            f"or values differ")
    con.close()
    return {"attempted": len(order), "problems": problems,
            "prefix_builds": len(set(prefixes) - before)}


def layers(stats: SpanStats, result: dict) -> dict:
    out: dict[str, float] = {}
    for phase in ("construction", "collect"):
        for sp in stats.named(f"catalog.{phase}"):
            q = sp["attrs"]["query"]
            out[f"catalog.{q}.{phase}_s"] = duration(sp)
            if phase == "construction":
                out[f"catalog.{q}.construction_jobs"] = stats.jobs(sp)
    total = 0
    for sp in stats.named("catalog.query"):
        jobs = stats.jobs(sp)
        out[f"catalog.{sp['attrs']['query']}.jobs"] = jobs
        total += jobs
    out["catalog.jobs_total"] = total
    out["catalog.query_set_s"] = sum(duration(sp) for sp in stats.named("catalog.query"))
    out["catalog.prefix_builds"] = result["prefix_builds"]
    return out

