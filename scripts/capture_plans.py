#!/usr/bin/env python
"""Capture .explain('formatted') for headline (or all) queries into
<out_dir>/<query>_<suffix>.txt — before/after evidence for a refactor
or an optimization round.

Usage: python scripts/capture_plans.py <out_dir> <suffix> [query ...]
  out_dir directory to write into (created if missing), e.g.
          plans/r15 or any directory outside the checkout
  suffix  e.g. before / after
  query   names to capture; default = the bench HEADLINE list
          (minus the two streaming choreography rows, which have no
          single DataFrame plan), plus any extras named explicitly.

Expression ids (``#123``) and exchange plan ids (``[plan_id=45]``) are
stripped from what is written: both are session counters, so without
the strip two dumps of the same plan differ. Dumps of an unchanged plan
are therefore byte-identical and can be compared with ``diff``. The
first line of each dump is the query's output schema.
"""

from __future__ import annotations

import io
import os
import re
import sys
from contextlib import redirect_stdout

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO_ROOT)

import bench  # noqa: E402
import __spark_entry__ as entry  # noqa: E402
from dynamics_365_to_bigquery_spark_etl_pipeline_spark.session import get_spark  # noqa: E402

_SESSION_IDS = re.compile(r"#\d+L?|\[plan_id=\d+\]")


def strip_ids(plan: str) -> str:
    """``plan`` without its session-counter ids (see module docstring)."""
    return _SESSION_IDS.sub("", plan)


def main() -> None:
    out_dir, suffix = sys.argv[1], sys.argv[2]
    names = sys.argv[3:] or list(bench.HEADLINE)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    os.makedirs(out_dir, exist_ok=True)

    spark = get_spark("d365-plan-capture")
    spark.sparkContext.setLogLevel("ERROR")
    queries = {**entry.queries(), **entry.extra_queries()}
    for name in names:
        fn = queries.get(name)
        if fn is None:
            print(f"SKIP {name}: not in registry", file=sys.stderr)
            continue
        df = fn(spark, sf_dir)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(f"# schema: {df.schema.simpleString()}\n")
            fh.write(strip_ids(buf.getvalue()))
        print(f"wrote {path}")
    spark.stop()


if __name__ == "__main__":
    main()
