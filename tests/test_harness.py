"""Spark-free checks of the timing harness (tools/harness.py) and of the
query lists the timing tools hand it. Nothing here starts a session."""

from __future__ import annotations

import json
import os

import pytest

import bench
from pw_etl_scrumptious_squad_spark import catalog as catmod
from tools import bench_cores, bench_gate, bench_scale
from tools.harness import update_json_section


def test_update_json_section_creates_missing_file(tmp_path):
    path = tmp_path / "BENCH_scale.json"
    update_json_section(str(path), "cores_scaling", {"runs": {"4": {}}})
    assert json.loads(path.read_text()) == {"cores_scaling": {"runs": {"4": {}}}}


def test_update_json_section_keeps_other_sections(tmp_path):
    path = tmp_path / "BENCH_scale.json"
    others = {
        "streaming": {"stream_cms": {"rows": 10, "wall_sec": 1.5}},
        "sf1_organic": {"annotations": {"y83_zorder_skipping": "hand-written"}},
        "cores_scaling": {"runs": {"32": {"queries": {"q01_pricing_summary": 2.0}}}},
    }
    path.write_text(json.dumps({"queries": {"old": {"t1": 1.0}}, **others}))
    update_json_section(str(path), "queries", {"new": {"t1": 2.0}})
    got = json.loads(path.read_text())
    assert got["queries"] == {"new": {"t1": 2.0}}
    assert {k: got[k] for k in others} == others
    assert list(got) == ["queries", *others]
    assert os.listdir(tmp_path) == ["BENCH_scale.json"]


@pytest.mark.parametrize(
    "names",
    [
        bench.HEADLINE,
        bench_gate.GATE_QUERIES,
        bench_cores.QUERIES,
        bench_scale.CATALOG_QUERIES,
    ],
    ids=["bench.HEADLINE", "GATE_QUERIES", "bench_cores", "CATALOG_QUERIES"],
)
def test_timed_queries_are_catalog_entries(names):
    cat = catmod.catalog()
    assert [n for n in names if n not in cat] == []


def test_scaling_curve_alphas_and_flag():
    got = bench_scale.scaling_curve({"t1": 1.0, "t10": 10.0, "t100": 400.0})
    assert got == {
        "t1": 1.0,
        "t10": 10.0,
        "t100": 400.0,
        "alpha_1_10": 1.0,
        "alpha_10_100": 1.602,
        "flag": True,
    }
    # a curve capped at x10 is never flagged: x1 deflates alpha_1_10
    capped = bench_scale.scaling_curve({"t1": 1.0, "t10": 100.0, "note": "capped"})
    assert capped == {
        "t1": 1.0,
        "t10": 100.0,
        "note": "capped",
        "alpha_1_10": 2.0,
        "flag": False,
    }


def test_scaling_curve_reproduces_recorded_curves():
    """The folded alpha computation gives back every curve the full and
    --merge modes recorded before they shared it."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "BENCH_scale.json")) as f:
        curves = json.load(f)["queries"]
    assert {n: bench_scale.scaling_curve(r) for n, r in curves.items()} == curves
