"""Self-tests of the benchmark (no Spark session needed).

Run from the root of a checkout::

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import filecmp
import json
import os
import time

import datagen
import layers
from harness import halves_agree
from run import ROOT, WORKLOADS, metric_block
from spans import Tracer


def _tree(root: str) -> list[str]:
    return sorted(
        os.path.relpath(os.path.join(d, f), root)
        for d, _, files in os.walk(root)
        for f in files
    )


def _same_tree(a: str, b: str) -> bool:
    files = _tree(a)
    return files == _tree(b) and all(
        filecmp.cmp(os.path.join(a, f), os.path.join(b, f), shallow=False) for f in files
    )


def _landing(root: str, seed: int) -> datagen.LandingZone:
    datagen.star_tables(os.path.join(root, "star"), seed, scale=0.05)
    lz = datagen.LandingZone(os.path.join(root, "lz"), os.path.join(root, "star"), seed)
    lz.full_load_files()
    lz.night()
    lz.night()
    return lz


def test_star_tables_are_deterministic(tmp_path):
    for run in ("a", "b"):
        datagen.star_tables(str(tmp_path / run), seed=7, scale=0.1)
    datagen.star_tables(str(tmp_path / "c"), seed=8, scale=0.1)
    assert _same_tree(str(tmp_path / "a"), str(tmp_path / "b"))
    assert not _same_tree(str(tmp_path / "a"), str(tmp_path / "c"))


def test_landing_zone_is_deterministic_and_dynamics_shaped(tmp_path):
    a = _landing(str(tmp_path / "a"), 3)
    _landing(str(tmp_path / "b"), 3)
    _landing(str(tmp_path / "c"), 4)
    assert _same_tree(a.root, str(tmp_path / "b" / "lz"))
    assert not _same_tree(a.root, str(tmp_path / "c" / "lz"))
    for entity in a.entities():
        d = os.path.join(a.root, entity)
        files = sorted(os.listdir(d), key=lambda f: (not f.startswith("export"), f))
        mtimes = [os.path.getmtime(os.path.join(d, f)) for f in files]
        assert mtimes == sorted(mtimes) and len(set(mtimes)) == len(mtimes)
        with open(os.path.join(d, files[-1])) as fh:
            header = fh.readline()
            body = fh.read()
        assert "$Company" in header and "SystemId-2000000000" in header
        assert datagen.DRIFT_COL in header  # the last night carries drift
        assert datagen.ZERO_GUID in body  # soft-delete sentinels landed
    # deleted keys are gone from the ground truth and never reused
    for entity in a.entities():
        assert not set(a.live[entity]) & a.deleted[entity]


def test_benchmark_json_declares_every_metric_with_a_unit():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == layers.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == layers.per_layer_names()
    assert tuple(w["name"] for w in bench["workloads"]) == WORKLOADS
    setup = [m for m in bench["end_to_end"] if m["name"] == "setup_s"][0]
    assert setup["bound"] == max(m["bound"] for m in bench["end_to_end"])


def test_each_workload_emits_every_metric_by_name_with_its_unit():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    e2e = metric_block(dict.fromkeys(layers.END_TO_END, 1.0), bench["end_to_end"])
    assert {k: v["unit"] for k, v in e2e.items()} == layers.END_TO_END
    for workload in WORKLOADS:
        own = {**layers.PER_LAYER["engine"], **layers.PER_LAYER["trace"],
               **layers.PER_LAYER[workload]}
        values = layers.fill_untouched(workload, dict.fromkeys(own, 1.0))
        block = metric_block(values, bench["per_layer"])
        assert {k: v["unit"] for k, v in block.items()} == layers.per_layer_names()
        # layers the workload never touches read 0, its own read as given
        assert all(block[k]["value"] == (1.0 if k in own else 0.0) for k in block)
        try:
            layers.fill_untouched(workload, {})
        except KeyError:
            pass
        else:
            raise AssertionError("a missing own metric must not read as 0")


def test_span_self_times_sum_to_parent_duration():
    tr = Tracer(enabled=True)
    with tr.span("op"):
        time.sleep(0.01)
        with tr.span("a"):
            time.sleep(0.02)
            with tr.span("a.inner"):
                time.sleep(0.01)
        with tr.span("b"):
            time.sleep(0.01)
    root = tr.indices("op")[0]
    subtree = [root] + tr.descendants(root)
    assert len(subtree) == 4
    total = sum(tr.self_time(i) for i in subtree)
    assert abs(total - tr.spans[root].duration) < 1e-9
    assert tr.self_time(root) >= 0.009


def test_overlapping_children_are_not_double_counted():
    tr = Tracer(enabled=True)
    parent = tr.add("op", 0.0, 10.0)
    tr.add("t1", 1.0, 4.0, parent=parent)
    tr.add("t2", 3.0, 6.0, parent=parent)
    assert abs(tr.self_time(0) - 5.0) < 1e-9


def test_disabled_tracer_records_nothing():
    tr = Tracer(enabled=False)
    with tr.span("op"):
        pass
    assert tr.spans == []


def test_halves_agree():
    assert halves_agree([[1.0, 3.0], [1.05, 3.0]], 0.1) is True
    assert halves_agree([[1.0, 1.0], [1.0], [2.0, 2.0], [2.0]], 0.1) is False
    assert halves_agree([[1.0, 1.0]], 0.1) is None
