"""The batch half of the ``curation`` workload: a pass over curation
kernel queries of the registry.

Every query of ``layers.MIX_QUERIES`` runs once per pass, in an order
permuted by the seed, each forced through the ``noop`` sink. The first
pass of a run is the checking pass: every query is collected instead
and compared with its DuckDB oracle (``oracle_sql()`` or
``extra_oracle_sql()`` of the entry module) on the same parquet files.
A query that raises counts as failed.
"""

from __future__ import annotations

import math
import os
import random
import sys
import time
import traceback

from harness import Result, median
from layers import MIX_QUERIES

# queries checked through the oracle of their portable twin
TWINS = {"q_dedup_minhash_fast": "q_dedup_minhash_lsh"}


def _norm(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else f"{v:.9g}"
    return str(v)


def _rows(columns, rows):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return sorted(tuple(_norm(r[i]) for i in order) for r in rows)


def twin_check(res: Result, name: str, df, conn, sql: str) -> None:
    """Pair-set check for a query whose hash family has no SQL mirror:
    its pairs must contain every exact copy the oracle of its portable
    twin finds, and agree with the twin's pair set at a high rate (the
    package's own equivalence rule for the two hash families)."""
    got = {(r.id_a, r.id_b) for r in df.collect()}
    rows = conn.execute(f"SELECT id_a, id_b, jacc FROM ({sql})").fetchall()
    want = {(a, b) for a, b, _ in rows}
    exact = {(a, b) for a, b, j in rows if j >= 1.0}
    overlap = len(got & want) / max(len(got | want), 1)
    res.check(f"twin.{name}", bool(exact) and exact <= got and overlap >= 0.9,
              {"pairs": len(got), "twin_pairs": len(want), "overlap": round(overlap, 3)})


def oracle_check(res: Result, name: str, df, conn, sql: str) -> None:
    got = df.collect()
    cur = conn.execute(sql)
    cols = [d[0] for d in cur.description]
    want = cur.fetchall()
    ok = sorted(df.columns) == sorted(cols) and _rows(df.columns, got) == _rows(cols, want)
    res.check(f"oracle.{name}", ok and len(got) > 0,
              None if ok and got else {"rows": len(got), "oracle_rows": len(want)})


class Mix:
    def __init__(self, ctx, res: Result, sf_dir: str):
        import duckdb

        import __spark_entry__ as entry
        from dynamics_365_to_bigquery_spark_etl_pipeline_spark.catalog import TABLES

        self.ctx, self.res, self.sf_dir = ctx, res, sf_dir
        self.registry = {**entry.queries(), **entry.extra_queries()}
        self.oracles = {**entry.oracle_sql(), **entry.extra_oracle_sql()}
        self.order = list(MIX_QUERIES)
        random.Random(ctx.seed).shuffle(self.order)
        self.conn = duckdb.connect()
        for t in TABLES:
            path = os.path.join(sf_dir, f"{t}.parquet")
            self.conn.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")

    def run_pass(self, check: bool = False) -> dict[str, float]:
        """One pass; returns each query's wall."""
        ctx, res, tracer = self.ctx, self.res, self.ctx.tracer
        walls = {}
        for q in self.order:
            res.attempted += 1
            t = time.perf_counter()
            try:
                with tracer.span(f"plans.{q}", engine=True):
                    df = self.registry[q](ctx.spark, self.sf_dir)
                    if check and q in TWINS:
                        twin_check(res, q, df, self.conn, self.oracles[TWINS[q]])
                    elif check:
                        oracle_check(res, q, df, self.conn, self.oracles[q])
                    else:
                        df.write.format("noop").mode("overwrite").save()
            except Exception:  # noqa: BLE001 - counted, reported
                res.failed += 1
                print(f"query {q} failed:\n{traceback.format_exc()}",
                      file=sys.stderr, flush=True)
            walls[q] = time.perf_counter() - t
        return walls


def layer_metrics(ctx, tracer) -> dict[str, float]:
    out: dict[str, float] = {}
    for q in MIX_QUERIES:
        idx = tracer.indices(f"plans.{q}")
        out[f"plans.{q}_s"] = median([tracer.spans[i].duration for i in idx])
        counts = [tracer.total_counts(i) for i in idx]
        out[f"plans.{q}.tasks"] = median([c.get("tasks", 0) for c in counts])
        out[f"plans.{q}.cpu_util"] = median([
            c.get("cpu_s", 0) / (tracer.spans[i].duration * ctx.cpus)
            for c, i in zip(counts, idx)
        ])
    return out
