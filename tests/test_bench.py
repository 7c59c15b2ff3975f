"""bench.py's tier table and CPU pin (no Spark job)."""

import json
import os
import subprocess
import sys

import bench
from __spark_entry__ import queries

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_headline_and_overrides_name_entry_queries():
    names = set(queries())
    assert len(bench.HEADLINE) == len(set(bench.HEADLINE)) == 23
    assert set(bench.HEADLINE) <= names
    for tier in bench.TIERS.values():
        # an override of a query outside the headline would never run
        assert set(tier.overrides) <= set(bench.HEADLINE) <= names


def _pin_in_child(n: int) -> dict:
    """Run ``bench.pin(n)`` in a fresh interpreter so this process keeps its
    own affinity; report the set before, the count returned and the set
    after."""
    code = (
        "import json, os, bench\n"
        "before = sorted(os.sched_getaffinity(0))\n"
        f"n = bench.pin({n})\n"
        "print(json.dumps({'before': before, 'n': n, 'after': sorted(os.sched_getaffinity(0))}))\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=REPO, check=True, capture_output=True, text=True
    ).stdout
    return json.loads(out.splitlines()[-1])


def test_pin_keeps_the_first_n_cpus_of_the_current_set():
    for n in (1, 2, 10_000):
        got = _pin_in_child(n)
        assert got["after"] == got["before"][:n]
        assert got["after"] and got["n"] == len(got["after"])
