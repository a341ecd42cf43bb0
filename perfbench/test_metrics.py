"""Self-test of the benchmark's metric table; needs no Spark.

    python3 -m pytest perfbench/test_metrics.py      # or
    python3 perfbench/test_metrics.py

Every name ``run.py`` can emit is declared in ``perfbench/metrics.py``
(``run.py`` refuses any other), so checking that table checks the output:
each name matches ``[A-Za-z0-9_.-]+``, has a unit, appears in
``BENCHMARK.json`` under the right section with the same unit, and is
documented in ``perfbench/README.md``.
"""

from __future__ import annotations

import json
import re
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE.parent))

from perfbench.metrics import (  # noqa: E402
    END_TO_END,
    NAME_PATTERN,
    PER_LAYER,
    UNIT_PATTERN,
)
from perfbench.trace import parse_sql_metric  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402

BENCH = json.loads((HERE.parent / "BENCHMARK.json").read_text())


def test_names_and_units_are_well_formed():
    for table in (END_TO_END, PER_LAYER):
        for name, (unit, layer, meaning) in table.items():
            assert re.fullmatch(NAME_PATTERN, name), name
            assert re.fullmatch(r"[A-Za-z0-9_.-]+", name), name
            assert re.fullmatch(UNIT_PATTERN, unit), (name, unit)
            assert layer and meaning, name
    assert not set(END_TO_END) & set(PER_LAYER)


def test_every_metric_is_in_benchmark_json():
    for section, table in (("end_to_end", END_TO_END), ("per_layer", PER_LAYER)):
        declared = {m["name"]: m["unit"] for m in BENCH[section]}
        assert declared == {k: v[0] for k, v in table.items()}, section


def test_benchmark_json_contract():
    assert set(BENCH) == {
        "command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"
    }
    assert {w["name"] for w in BENCH["workloads"]} == set(WORKLOADS)
    for w in BENCH["workloads"]:
        assert set(w) == {"name", "why"} and len(w["why"]) <= 200
    for m in BENCH["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"}
        assert m["better"] in ("lower", "higher") and 0 < m["bound"] <= 0.25
    for m in BENCH["per_layer"]:
        assert set(m) == {"name", "unit", "better"}
    setup = next(m for m in BENCH["end_to_end"] if m["name"] == "setup_s")
    assert (setup["unit"], setup["better"]) == ("s", "lower")
    assert setup["bound"] == max(m["bound"] for m in BENCH["end_to_end"])
    assert 1 <= BENCH["run_seconds"] <= 60
    assert BENCH["paths"] == ["perfbench"]


def test_every_metric_is_documented():
    readme = (HERE / "README.md").read_text()
    for name in list(END_TO_END) + list(PER_LAYER):
        assert f"`{name}`" in readme, name


def test_parse_sql_metric():
    assert parse_sql_metric("1,234") == 1234.0
    assert parse_sql_metric("335 ms") == 0.335
    assert parse_sql_metric("0.0 B") == 0.0
    assert parse_sql_metric(
        "total (min, med, max (stageId: taskId))\n"
        "1474.2 KiB (162.2 KiB, 186.7 KiB, 204.4 KiB (stage 6.0: task 10))"
    ) == 1474.2 * 1024
    assert parse_sql_metric(
        "total (min, med, max (stageId: taskId))\n"
        "2.5 m (1 ms, 2 ms, 3 ms (stage 1.0: task 2))"
    ) == 150.0


if __name__ == "__main__":
    for name, fn in list(globals().items()):
        if name.startswith("test_"):
            fn()
    print("ok")
