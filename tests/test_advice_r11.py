"""Round-11 advice items, each test-pinned (the other three live with
their modules: bench round-numbering in test_bench_normalize, the
foreign-host sweep in test_store_lock, ledger idempotence in
test_ledger, lock status in test_store_admin):

5. ``pii_scrub_sql`` must emit valid DuckDB SQL even when a pattern or
   replacement token contains a single quote — the current
   PII_PATTERNS are quote-free, but the builder interpolates into
   single-quoted literals and a future quote would have silently
   produced broken oracle SQL.
"""

from __future__ import annotations

import duckdb

from dynamics_365_to_bigquery_spark_etl_pipeline_spark.operators import text


def test_pii_scrub_sql_current_patterns_quote_free_and_valid():
    out = text.pii_scrub_sql("s")
    con = duckdb.connect()
    row = con.execute(
        f"SELECT {out['redacted']} AS r, {out['email']} AS e "
        "FROM (SELECT 'mail a@b.co and +12025550100' AS s)"
    ).fetchone()
    assert row == ("mail <EMAIL> and <PHONE>", 1)


def test_pii_scrub_sql_survives_quoted_pattern(monkeypatch):
    """A pattern and token CONTAINING single quotes round-trip into SQL
    that DuckDB parses and evaluates (r11 advice: the interpolation
    doubled no quotes, so this exact shape used to emit a literal torn
    mid-string)."""
    monkeypatch.setattr(
        text,
        "PII_PATTERNS",
        (("apos", r"o'[a-z]+", "<O'NAME>"),),
    )
    out = text.pii_scrub_sql("s")
    con = duckdb.connect()
    row = con.execute(
        f"SELECT {out['redacted']} AS r, {out['apos']} AS n "
        "FROM (SELECT 'met o''brien and o''mara today' AS s)"
    ).fetchone()
    assert row == ("met <O'NAME> and <O'NAME> today", 2)


def test_sql_quote_doubles_embedded_quotes():
    assert text._sql_quote("a'b''c") == "'a''b''''c'"
    assert text._sql_quote("plain") == "'plain'"


def test_spark_sql_quote_values_rows_equal_inputs(spark):
    """Spark's parser reads ``\\`` as an escape inside string literals,
    so the Spark-side quoter doubles it before the quotes: a VALUES
    relation (the shape of the BM25 query frame and the BPE OOV probe)
    must return every input string unchanged."""
    words = ["o'brien\\", "c:\\new\\'dir'", "\\\\''", "plain"]
    got = spark.sql(
        "SELECT w FROM VALUES "
        + ", ".join(f"({text._spark_sql_quote(w)})" for w in words)
        + " AS t(w)"
    ).collect()
    assert sorted(r.w for r in got) == sorted(words)
