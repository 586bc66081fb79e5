"""Every ``SPARK_GRAFT_*`` environment variable the package reads is
listed in the README's Settings table, and the table lists nothing
else, so a new knob cannot land without showing up in review."""

from __future__ import annotations

import pathlib
import re

ROOT = pathlib.Path(__file__).resolve().parents[1]
PACKAGE = ROOT / "dynamics_365_to_bigquery_spark_etl_pipeline_spark"
NAME = re.compile(r"SPARK_GRAFT_[A-Z_]+")


def _readme_settings() -> set[str]:
    text = (ROOT / "README.md").read_text()
    section = text.split("\n## Settings\n", 1)[1].split("\n## ", 1)[0]
    return {
        m.group(1)
        for m in re.finditer(r"^\| `(SPARK_GRAFT_[A-Z_]+)` \|", section, re.M)
    }


def test_package_settings_equal_readme_table():
    used = {
        name
        for path in PACKAGE.rglob("*.py")
        for name in NAME.findall(path.read_text())
    }
    assert used == _readme_settings()
