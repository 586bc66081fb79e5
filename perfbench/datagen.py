"""Seeded input generators for the benchmark.

Everything here is a pure function of ``seed`` and the requested size,
so the same seed gives byte-identical parquet tables and CSV files.
Nothing is read from outside the directories the caller names.

``star_tables`` writes the ten tables the query registry expects (the
TPC-H-ish star schema plus ``events``, ``documents`` and
``embeddings``), with the column names, types and value domains of the
engine's test fixtures, one single-row-group parquet file each.

``LandingZone`` writes a Dynamics 365 (bc2adls-shaped) landing zone:
one folder of CSV files per entity, with suffixed mixed-case and
``$Company`` column names, system id/created/modified columns, soft
deletes as ``ZERO_GUID`` sentinel rows, and file mtimes that increase
with every night. It also keeps the ground truth of every entity so
the caller can check what a pipeline published.
"""

from __future__ import annotations

import csv
import datetime as dt
import os
import re

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ZERO_GUID = "{00000000-0000-0000-0000-000000000000}"

# rows per table at the benchmark's scale (the 0.01 scale point of the
# fixture schema: lineitem ~4 rows per order)
SIZES = {
    "customer": 1500,
    "supplier": 100,
    "part": 2000,
    "orders": 15000,
    "events": 10000,
    "documents": 500,
    "embeddings": 500,
}

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["small", "large", "red", "blue", "hot", "old", "green", "cold"]
PART_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "nut"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
WORDS = (
    "a the key agg row scan slow fast table value part hash merge batch "
    "spark line sort window order data column join small big query "
    "customer stream group filter"
).split()
EMBED_DIM = 64
EMBED_LABELS = 10


def _write(out_dir: str, name: str, table: pa.Table) -> None:
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start: dt.datetime, span_days: int, n: int) -> np.ndarray:
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span_days, n).astype("timedelta64[D]")


def document_texts(rng: np.random.Generator, n: int) -> list[str]:
    """Word-salad documents over a small vocabulary; about one in eight
    is a near copy (one or two words changed) of an earlier document, so
    dedup and fuzzy kernels have real candidates."""
    texts: list[str] = []
    for i in range(n):
        if i > 8 and rng.random() < 0.125:
            words = texts[int(rng.integers(0, i))].split()
            for _ in range(int(rng.integers(1, 3))):
                words[int(rng.integers(0, len(words)))] = WORDS[
                    int(rng.integers(0, len(WORDS)))
                ]
        else:
            words = [
                WORDS[j] for j in rng.integers(0, len(WORDS), int(rng.integers(8, 80)))
            ]
        text = " ".join(words)
        while text in texts:  # texts are distinct, as in the fixtures
            text += " " + WORDS[int(rng.integers(0, len(WORDS)))]
        texts.append(text)
    return texts


def documents_table(rng: np.random.Generator, n: int) -> pa.Table:
    texts = document_texts(rng, n)
    return pa.table(
        {
            "doc_id": pa.array(range(n), pa.int64()),
            "text": texts,
            "lang": [LANGS[j] for j in rng.integers(0, 5, n)],
            "source": [f"src{j}" for j in rng.integers(0, 20, n)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def star_tables(out_dir: str, seed: int, scale: float = 1.0) -> dict[str, int]:
    """Write the ten registry tables under ``out_dir``, ``scale`` times
    ``SIZES`` rows; returns row counts per table."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n = {t: max(10, int(k * scale)) for t, k in SIZES.items()}
    tables: dict[str, pa.Table] = {}
    tables["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": REGIONS,
        }
    )
    tables["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    nc = n["customer"]
    tables["customer"] = pa.table(
        {
            "c_custkey": pa.array(range(nc), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(nc)],
            "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, nc),
            "c_mktsegment": [SEGMENTS[j] for j in rng.integers(0, 5, nc)],
        }
    )
    ns = n["supplier"]
    tables["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(range(ns), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
            "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, ns),
        }
    )
    npart = n["part"]
    tables["part"] = pa.table(
        {
            "p_partkey": pa.array(range(npart), pa.int64()),
            "p_name": [
                f"{PART_ADJ[a]} {PART_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, npart), rng.integers(0, 8, npart))
            ],
            "p_brand": [f"Brand#{j}" for j in rng.integers(1, 26, npart)],
            "p_type": [PART_TYPES[j] for j in rng.integers(0, 6, npart)],
            "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
            "p_retailprice": np.round(900.0 + (np.arange(npart) % 1000) / 10.0, 2),
        }
    )
    no = n["orders"]
    odate = _days(rng, dt.datetime(1995, 1, 1), 2404, no)
    tables["orders"] = pa.table(
        {
            "o_orderkey": pa.array(range(no), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
            "o_orderstatus": [("F", "O", "P")[j] for j in rng.integers(0, 3, no)],
            "o_totalprice": _money(rng, 1000.0, 500000.0, no),
            "o_orderdate": pa.array(odate, pa.timestamp("us")),
            "o_orderpriority": [PRIORITIES[j] for j in rng.integers(0, 5, no)],
        }
    )
    lines = rng.integers(1, 8, no)
    lkey = np.repeat(np.arange(no), lines)
    lnum = np.concatenate([np.arange(1, k + 1) for k in lines])
    nl = len(lkey)
    qty = rng.integers(1, 51, nl).astype(float)
    tables["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(lkey, pa.int64()),
            "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
            "l_linenumber": pa.array(lnum, pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * _money(rng, 900.0, 2000.0, nl), 2),
            "l_discount": rng.integers(0, 11, nl) / 100.0,
            "l_tax": rng.integers(0, 9, nl) / 100.0,
            "l_returnflag": [("A", "N", "R")[j] for j in rng.integers(0, 3, nl)],
            "l_linestatus": [("F", "O")[j] for j in rng.integers(0, 2, nl)],
            "l_shipdate": pa.array(
                odate[lkey] + rng.integers(1, 122, nl).astype("timedelta64[D]"),
                pa.timestamp("us"),
            ),
        }
    )
    ne = n["events"]
    secs = np.sort(rng.uniform(0, 30 * 86400, ne))
    tables["events"] = pa.table(
        {
            "event_id": pa.array(range(ne), pa.int64()),
            "ts": pa.array(
                np.datetime64("2024-01-01", "us")
                + (secs * 1e6).astype("int64").astype("timedelta64[us]"),
                pa.timestamp("us"),
            ),
            "user_id": pa.array(rng.integers(0, 150, ne), pa.int64()),
            "event_type": [EVENT_TYPES[j] for j in rng.integers(0, 5, ne)],
            "value": _money(rng, 0.01, 490.0, ne),
            "props": [f'{{"k": {j}}}' for j in rng.integers(0, 100, ne)],
        }
    )
    tables["documents"] = documents_table(rng, n["documents"])
    nv = n["embeddings"]
    labels = rng.integers(0, EMBED_LABELS, nv)
    centers = rng.normal(0, 1, (EMBED_LABELS, EMBED_DIM))
    vecs = centers[labels] + rng.normal(0, 0.6, (nv, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    tables["embeddings"] = pa.table(
        {
            "vec_id": pa.array(range(nv), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )
    for name, table in tables.items():
        _write(out_dir, name, table)
    return {name: t.num_rows for name, t in tables.items()}


# ---------------------------------------------------------------------------
# Dynamics 365 landing zone


def guid(entity_no: int, key: int) -> str:
    return f"{{{key:08x}-{entity_no:04x}-4000-8000-{key * 2654435761 % 2**48:012x}}}"


SYSTEM_COLS = [
    "SystemId-2000000000",
    "SystemCreatedAt-2000000001",
    "SystemCreatedBy-2000000002",
    "SystemModifiedAt-2000000003",
    "SystemModifiedBy-2000000004",
]
LIVE_GUID = "{11111111-1111-1111-1111-111111111111}"
DRIFT_COL = "Comment-90"
# the first night whose deltas carry DRIFT_COL
DRIFT_NIGHT = 2
NIGHT_SECONDS = 86400
# landing-zone mtimes start here and advance one day per night
MTIME_BASE = 1_700_000_000


def _entity_specs(src: dict[str, pa.Table]) -> dict[str, tuple[list[str], pa.Table]]:
    """entity -> (Dynamics payload column names, source rows). Payload
    names carry bc2adls numeric suffixes and mixed case."""

    def cols(t, names):
        return t.select(list(names))

    return {
        "SalesLine": (
            ["DocumentNo-3", "LineNo-4", "No-5", "Quantity-15", "Amount-29",
             "LineDiscount-27", "ReturnReason-6", "ShipmentDate-10"],
            cols(src["lineitem"], ["l_orderkey", "l_linenumber", "l_partkey",
                                   "l_quantity", "l_extendedprice", "l_discount",
                                   "l_returnflag", "l_shipdate"]),
        ),
        "SalesHeader": (
            ["No-3", "SellToCustomerNo-2", "Status-120", "AmountIncludingVAT-61",
             "OrderDate-19", "Priority-5"],
            cols(src["orders"], ["o_orderkey", "o_custkey", "o_orderstatus",
                                 "o_totalprice", "o_orderdate", "o_orderpriority"]),
        ),
        "ChangeLogEntry": (
            ["EntryNo-1", "DateAndTime-2", "UserId-4", "TypeOfChange-8",
             "NewValue-11", "Props-12"],
            cols(src["events"], ["event_id", "ts", "user_id", "event_type",
                                 "value", "props"]),
        ),
        "Item": (
            ["No-1", "Description-3", "BaseUnitOfMeasure-8", "UnitPrice-18"],
            cols(src["part"], ["p_partkey", "p_name", "p_brand", "p_retailprice"]),
        ),
        "Customer": (
            ["No-1", "Name-2", "CountryRegionCode-35", "Balance-58"],
            cols(src["customer"], ["c_custkey", "c_name", "c_nationkey", "c_acctbal"]),
        ),
        "Vendor": (
            ["No-1", "Name-2", "CountryRegionCode-35", "Balance-58"],
            cols(src["supplier"], ["s_suppkey", "s_name", "s_nationkey", "s_acctbal"]),
        ),
    }


_STAMP = re.compile(r"^\d{4}-\d\d-\d\dT\d\d:\d\d:\d\d$")


def _fmt(v) -> str:
    if isinstance(v, float):
        return f"{v:.2f}"
    if isinstance(v, dt.datetime):
        return v.strftime("%Y-%m-%dT%H:%M:%S")
    return str(v)


def _as_published(v) -> str | None:
    """A landed field as the pipeline publishes it: timestamps in the
    ``yyyy-MM-dd HH:mm:ss`` form of ``coerce.TEMPORAL_FMT``."""
    if v is None:
        return None
    text = _fmt(v)
    return text.replace("T", " ") if _STAMP.match(text) else text


class LandingZone:
    """Seeded Dynamics landing zone with per-night CSV deltas.

    ``full_load_files()`` writes each entity's initial export; each
    ``night()`` call lands one delta CSV per entity holding ~1% upserts
    of live keys, a few new keys and a few soft-delete sentinel rows.
    From night ``DRIFT_NIGHT`` on every delta carries one extra column.
    Deleted keys are never reused, so an incremental merge and a full
    load over every landed file agree."""

    UPSERT_SHARE = 0.01
    NEW_SHARE = 0.002
    DELETE_SHARE = 0.001

    def __init__(self, root: str, star_dir: str, seed: int):
        self.root = root
        self.seed = seed
        self.nights = 0
        src = {
            t: pq.read_table(os.path.join(star_dir, f"{t}.parquet"))
            for t in ("lineitem", "orders", "events", "part", "customer", "supplier")
        }
        self.specs = _entity_specs(src)
        self.rows: dict[str, list[list]] = {
            e: [list(r.values()) for r in t.to_pylist()] for e, (_, t) in self.specs.items()
        }
        # ground truth: entity -> key -> the row last landed for the key
        self.live: dict[str, dict[int, list]] = {}
        self.deleted: dict[str, set[int]] = {e: set() for e in self.specs}
        self.next_key: dict[str, int] = {}
        self.landed_bytes = 0

    def entities(self) -> list[str]:
        return sorted(self.specs)

    def _header(self, entity: str, drift: bool) -> list[str]:
        names = SYSTEM_COLS + ["$Company"] + self.specs[entity][0]
        return names + [DRIFT_COL] if drift else names

    def _write(self, entity: str, name: str, rows: list[list], drift: bool, mtime: int) -> str:
        d = os.path.join(self.root, entity)
        os.makedirs(d, exist_ok=True)
        path = os.path.join(d, name)
        with open(path, "w", newline="") as fh:
            w = csv.writer(fh, lineterminator="\n")
            w.writerow(self._header(entity, drift))
            for r in rows:
                w.writerow(["" if v is None else _fmt(v) for v in r])
        os.utime(path, (mtime, mtime))
        self.landed_bytes += os.path.getsize(path)
        return path

    @staticmethod
    def _stamp(night: int, offset: int) -> str:
        t = dt.datetime(2024, 1, 1) + dt.timedelta(days=night, seconds=offset)
        return t.strftime("%Y-%m-%dT%H:%M:%S")

    def _live_row(self, entity_no: int, key: int, created: str, modified: str, payload: list) -> list:
        return [guid(entity_no, key), created, LIVE_GUID, modified, LIVE_GUID, "CRONUS"] + payload

    def full_load_files(self) -> list[str]:
        paths = []
        for e_no, entity in enumerate(self.entities()):
            rng = np.random.default_rng([self.seed, e_no])
            live = self.live[entity] = {}
            offsets = rng.integers(0, NIGHT_SECONDS, len(self.rows[entity]))
            for key, (payload, off) in enumerate(zip(self.rows[entity], offsets)):
                stamp = self._stamp(0, int(off))
                live[key] = self._live_row(e_no, key, stamp, stamp, payload)
            self.next_key[entity] = len(live)
            paths.append(self._write(entity, "export_000.csv", list(live.values()),
                                     False, MTIME_BASE))
        return paths

    def night(self) -> list[str]:
        """Land the next night's delta for every entity; returns paths."""
        self.nights += 1
        n = self.nights
        drift = n >= DRIFT_NIGHT
        paths = []
        for e_no, entity in enumerate(self.entities()):
            rng = np.random.default_rng([self.seed, e_no, n])
            live = self.live[entity]
            keys = np.array(sorted(live))
            n_del = max(1, int(len(keys) * self.DELETE_SHARE))
            n_up = max(1, int(len(keys) * self.UPSERT_SHARE))
            picked = rng.choice(keys, size=n_del + n_up, replace=False)
            donors = self.rows[entity]
            rows = []
            for key in sorted(int(k) for k in picked[n_del:]):
                payload = list(donors[int(rng.integers(0, len(donors)))])
                modified = self._stamp(n, int(rng.integers(0, NIGHT_SECONDS)))
                rows.append(self._live_row(e_no, key, live[key][1], modified, payload))
            for _ in range(max(1, int(len(keys) * self.NEW_SHARE))):
                key = self.next_key[entity]
                self.next_key[entity] += 1
                payload = list(donors[int(rng.integers(0, len(donors)))])
                stamp = self._stamp(n, int(rng.integers(0, NIGHT_SECONDS)))
                rows.append(self._live_row(e_no, key, stamp, stamp, payload))
            if drift:
                for r in rows:
                    r.append(f"note {n}")
            for r in rows:
                live[int(r[0][1:9], 16)] = r
            width = len(self.specs[entity][0]) + drift
            for key in sorted(int(k) for k in picked[:n_del]):
                del live[key]
                self.deleted[entity].add(key)
                rows.append([guid(e_no, key), None, ZERO_GUID, None, ZERO_GUID, "CRONUS"]
                            + [None] * width)
            paths.append(
                self._write(entity, f"delta_{n:03d}.csv", rows, drift,
                            MTIME_BASE + n * NIGHT_SECONDS)
            )
        return paths

    def expected(self, entity: str) -> tuple[list[str], set[tuple]]:
        """The entity's published snapshot as the generator knows it:
        normalized column names (bc2adls suffix stripped, lower case,
        ``$company`` as ``_company``) and one tuple of formatted values
        per live key, NULL for a drift column the row never carried."""
        names = [
            re.sub(r"-\d+", "", c).lower().replace("$company", "_company")
            for c in self._header(entity, self.nights >= DRIFT_NIGHT)
        ]
        rows = set()
        for r in self.live[entity].values():
            vals = [_as_published(v) for v in r]
            rows.add(tuple(vals + [None] * (len(names) - len(vals))))
        return names, rows

