"""The benchmark's own test: a tiny size of each workload, run the way
the benchmark is run (a fresh process per run, from the checkout root).

    python3 -m pytest ragbench/test_ragbench.py -q

Takes a few minutes: every run starts its own Spark JVM.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import run  # noqa: E402

TINY = {
    "INGEST_DOCS": 150,
    "WARM_DOCS": 40,
    "BASE_DOCS": 80,
    "BATCH_DOCS": 40,
}
EXACT = ("jobs", "stages", "tasks")


def _run(workload: str, trace: int, seed: int = 7, patch: str = "",
         rc: int = 0) -> dict:
    """One benchmark run at the tiny size, with ``patch`` (Python run
    in the child first); returns its result line."""
    sizes = "; ".join(f"workloads.{k} = {v}" for k, v in TINY.items())
    code = (
        "import sys; sys.path.insert(0, 'ragbench'); import run, workloads; "
        f"{sizes}; {patch or 'pass'}; sys.exit(run.main(['--workload', "
        f"'{workload}', '--seed', '{seed}', '--seconds', '1', '--trace', "
        f"'{trace}']))"
    )
    p = subprocess.run([sys.executable, "-c", code], cwd=ROOT,
                       capture_output=True, text=True, timeout=600)
    assert p.returncode == rc, p.stderr[-3000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


def _assert_shape(res: dict, units: dict) -> None:
    assert res["correct"] is True
    assert res["failed"] == 0 and res["attempted"] >= 1
    assert set(res["metrics"]) == set(units)
    for name, unit in units.items():
        m = res["metrics"][name]
        assert m["unit"] == unit
        assert isinstance(m["value"], (int, float))


def test_generator_is_seeded():
    def make(seed):
        text = gen.TextSource(__import__("numpy").random.default_rng(seed))
        return gen.crawl(text, 200)

    a, b, c = make(3), make(3), make(4)
    assert a.records == b.records and a.records != c.records
    assert a.expected_bronze == sum(gen.in_bronze(r["content"]) for r in a.records)
    assert a.expected_bronze < len(a.records)
    assert a.expected_silver < a.expected_bronze
    assert len(set(a.expected_silver_urls)) == a.expected_silver
    assert any(r["content"] and not r["content"].isascii() for r in a.records)


@pytest.mark.parametrize("workload", ["ingest_full", "maintain_recrawl"])
def test_workload_reports_and_repeats(workload):
    res = _run(workload, trace=0)
    _assert_shape(res, run.END_TO_END)
    assert all(m["value"] > 0 for m in res["metrics"].values())

    first, second = _run(workload, trace=1), _run(workload, trace=1)
    units = run.per_layer_units()
    _assert_shape(first, units)
    _assert_shape(second, units)
    counts = {k for k in units if k.rsplit(".", 1)[1] in EXACT}
    for k in counts:
        assert first["metrics"][k]["value"] == second["metrics"][k]["value"], k
    # the workload drives real Spark work through the traced layers
    assert first["metrics"]["session.get_spark.jobs"]["value"] >= 1
    busy = [k for k in counts if first["metrics"][k]["value"] > 0]
    assert len(busy) > 10


def test_output_mismatch_fails_the_run():
    # expect one bronze row more than the program can produce
    patch = (
        "import gen; crawl = gen.crawl; "
        "gen.crawl = lambda *a, **k: (lambda c: (setattr(c, 'expected_bronze', "
        "c.expected_bronze + 1), c)[1])(crawl(*a, **k))"
    )
    res = _run("ingest_full", trace=0, patch=patch, rc=1)
    assert res["correct"] is False and res["failed"] >= 1
