"""The benchmark's own checks: exact work counts repeat for a seed, and
the seed really drives the inputs.

    python3 -m pytest perfbench/tests -q        # from the repository root

The repeat test runs each benchmark workload twice, traced, so it takes a
few minutes; the input test needs no Spark session.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import types

import pytest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

SEED, SECONDS = 7, 20


def _ctx(seed, work):
    return types.SimpleNamespace(spark=None, seed=seed, work=str(work), tracer=None,
                                 counters=None)


def test_other_seed_changes_inputs(tmp_path):
    from corpus_part import CorpusPart
    from graph_part import GraphPart
    from oltp_crud import OltpCrud

    def inputs(seed):
        d = tmp_path / f"s{seed}-{len(os.listdir(tmp_path))}"
        d.mkdir()
        gp = GraphPart(_ctx(seed, d))
        gp._tables(str(d))
        return (OltpCrud(_ctx(seed, d))._base_items(), gp.pairs,
                CorpusPart(_ctx(seed, d))._corpus())

    a, a2, b = inputs(1), inputs(1), inputs(2)
    assert a == a2
    for x, y in zip(a, b):
        assert x != y


def test_oltp_cycle_runs_every_kind_evenly():
    from oltp_crud import CYCLE, READ_KINDS, WRITE_KINDS

    # a run is whole cycles; reads and writes rotate through their kinds,
    # audit slots alternate diff and gc
    assert CYCLE.count("R") % len(READ_KINDS) == 0
    assert CYCLE.count("W") % len(WRITE_KINDS) == 0
    assert CYCLE.count("A") % 2 == 0
    assert set(CYCLE) == {"R", "W", "A"}


def _exact(result: dict) -> dict:
    """The counters that must repeat exactly: jobs, tasks and calls per
    span and layer, whole-run jobs and tasks, and the store byte counts."""
    layer = {k: v[0] for k, v in result["layer"].items()
             if k.endswith(("_jobs", "_tasks", ".jobs", ".tasks", ".calls", "_bytes"))
             and k not in ("spark.shuffle_write_bytes", "spark.storage_bytes")
             and not k.endswith("_shuffle_bytes")}
    report = {k: v[0] for k, v in result["report"].items()
              if k in ("write_amp", "space_amp", "commit_bytes", "store_bytes")}
    return {**layer, **report}


def _run(workload, tmp_path, tag):
    out = tmp_path / f"{workload}-{tag}.json"
    subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
         "--seed", str(SEED), "--seconds", str(SECONDS), "--trace", "1",
         "--report", str(out)],
        cwd=ROOT, check=True, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
        timeout=600)
    with open(out) as f:
        return json.load(f)


@pytest.mark.parametrize("workload", ["oltp_crud", "batch_analytics"])
def test_same_seed_same_counts(workload, tmp_path):
    first, second = _run(workload, tmp_path, "a"), _run(workload, tmp_path, "b")
    assert first["correct"] and second["correct"]
    a, b = _exact(first), _exact(second)
    assert a["spark.jobs"] > 0
    assert a == b, {k: (a[k], b.get(k)) for k in a if a[k] != b.get(k)}
