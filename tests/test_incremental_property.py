"""Property-based test (SURVEY.md §5 item 5): replaying a random CDC
stream through the incremental path in arbitrary batch splits yields
exactly the single-shot full-load snapshot.

Constraint inherited from the reference's semantics: a delete sentinel
is terminal for its key within the replayed window (the full-load NOT IN
removes every version of a deleted key — ``helper_functions.py:146-152``
— so a post-delete re-insert diverges between paths BY DESIGN; the
incremental path forgets the sentinel once its batch is resolved).
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from dynamics_365_to_bigquery_spark_etl_pipeline_spark.operators import cdc

LIVE = "{11111111-1111-1111-1111-111111111111}"
KEYS = ["k0", "k1", "k2", "k3", "k4"]


@st.composite
def cdc_streams(draw):
    """A stream of (key, ts_offset, op) with terminal deletes, plus a
    list of batch-split points."""
    n = draw(st.integers(min_value=1, max_value=40))
    events = []
    deleted: set[str] = set()
    for i in range(n):
        key = draw(st.sampled_from(KEYS))
        if key in deleted:
            continue
        is_delete = draw(st.booleans()) and draw(st.booleans())  # ~25%
        if is_delete:
            deleted.add(key)
        events.append((key, i, "delete" if is_delete else "upsert"))
    n_splits = draw(st.integers(min_value=0, max_value=3))
    splits = sorted(
        draw(
            st.lists(
                st.integers(min_value=0, max_value=len(events)),
                min_size=n_splits,
                max_size=n_splits,
            )
        )
    )
    return events, splits


def _frame(spark, events):
    rows = []
    for key, i, op in events:
        ts = f"2024-01-01 00:{i // 60:02d}:{i % 60:02d}"
        if op == "delete":
            rows.append((key, None, None, cdc.ZERO_GUID, cdc.ZERO_GUID, i))
        else:
            rows.append((key, ts, ts, LIVE, LIVE, i))
    return spark.createDataFrame(
        rows,
        "systemid string, systemcreatedat string, systemmodifiedat string, "
        "systemcreatedby string, systemmodifiedby string, seq long",
    )


@given(cdc_streams())
@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_incremental_equals_full_load(spark, data):
    events, splits = data
    if not events:
        return
    full = cdc.resolve_snapshot(_frame(spark, events), tie_breakers=("seq",))

    bounds = [0, *splits, len(events)]
    snapshot = None
    for lo, hi in zip(bounds, bounds[1:]):
        batch = events[lo:hi]
        if not batch:
            continue
        frame = _frame(spark, batch)
        if snapshot is None:
            snapshot = cdc.resolve_snapshot(frame, tie_breakers=("seq",))
        else:
            snapshot = cdc.merge_cdc(snapshot, frame, tie_breakers=("seq",))
    if snapshot is None:
        return
    assert {tuple(r) for r in snapshot.collect()} == {tuple(r) for r in full.collect()}


@given(
    st.lists(
        st.tuples(st.integers(0, 30), st.integers(0, 30)).filter(
            lambda p: p[0] != p[1]
        ),
        min_size=1,
        max_size=25,
    )
)
@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_connected_components_matches_union_find(spark, edges):
    """Property: BOTH Spark implementations — the alternating
    large-star/small-star contraction (production default, r9) and the
    min-label propagation twin — equal a plain union-find on arbitrary
    random pair graphs (not just the shallow clusters the fixtures
    produce)."""
    from dynamics_365_to_bigquery_spark_etl_pipeline_spark.operators.dedup import (
        connected_components,
    )

    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {(n, find(n)) for n in parent}

    pairs = spark.createDataFrame(edges, "id_a long, id_b long").distinct()
    got = {(r.id, r.group_id) for r in connected_components(pairs).collect()}
    assert got == want


@given(
    st.lists(
        st.integers(min_value=0, max_value=60),  # doc lengths in tokens
        min_size=1,
        max_size=8,
    )
)
@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_chunk_windows_cover_every_token_exactly(spark, lengths):
    """Chunking invariant at arbitrary doc lengths: concatenating each
    chunk's NON-OVERLAPPED prefix (stride tokens, all of the last
    chunk) reconstructs the document's token stream exactly — no token
    lost, none duplicated, offsets consistent with lengths."""
    from dynamics_365_to_bigquery_spark_etl_pipeline_spark.plans.text_queries import (
        CHUNK_S,
        CHUNK_W,
        q_text_chunk_windows,
    )

    docs = [
        (i, " ".join(f"t{i}x{j}" for j in range(n)))
        for i, n in enumerate(lengths)
    ]
    import os
    import tempfile

    import pyarrow as pa
    import pyarrow.parquet as pq

    with tempfile.TemporaryDirectory() as td:
        # single-file parquet, like the fixture layout load_table expects
        pq.write_table(
            pa.table(
                {
                    "doc_id": pa.array([d[0] for d in docs], pa.int64()),
                    "text": pa.array([d[1] for d in docs], pa.string()),
                }
            ),
            os.path.join(td, "documents.parquet"),
        )
        rows = q_text_chunk_windows(spark, td).collect()

    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    for i, n in enumerate(lengths):
        chunks = sorted(by_doc[i], key=lambda r: r.chunk_id)
        n_toks = len(docs[i][1].split(" "))  # '' splits to 1 empty token
        # offsets advance by the stride; every chunk is full-width
        # except possibly the last; lengths tile the doc exactly
        covered = 0
        for j, r in enumerate(chunks):
            assert r.tok_start == j * CHUNK_S
            last = j == len(chunks) - 1
            assert r.n_toks == (n_toks - r.tok_start if last else min(CHUNK_W, n_toks - r.tok_start))
            if last:
                covered = r.tok_start + r.n_toks
        assert covered == n_toks
        # consecutive chunks overlap by W - S tokens
        if len(chunks) > 1:
            assert chunks[0].n_toks == CHUNK_W
