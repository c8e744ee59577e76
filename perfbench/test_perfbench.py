"""Self-tests of the benchmark (not part of the engine's test suite).

    python3 -m pytest perfbench/test_perfbench.py -q

Tiny runs of each workload go through ``run.py`` in a child process, as
the benchmark runs in production; the fault tests patch the engine's
output inside that child before the benchmark checks it.
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

from cdc_feed import BacklogFeed, HotFeed, envelope, envelope_json  # noqa: E402

WORKLOAD_FIGURES = {
    "cdc": ["setup_s", "events_per_s", "freshness_p50_s", "freshness_p90_s",
            "replica_read_p50_s", "replica_read_p90_s", "catchup_p50_s", "catchup_p90_s",
            "failed_frac", "peak_rss_mb"],
    "headline": ["setup_s", "query_total_s", "query_relational_s", "query_dedup_s",
                 "query_text_s", "failed_frac", "peak_rss_mb"],
}


def spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def bench(workload: str, trace: int, patch: str = "") -> tuple[dict, str]:
    """Run one tiny benchmark run; returns (last-line result, full stdout)."""
    code = (
        f"import sys; sys.path[:0] = [{ROOT!r}, {HERE!r}]\n"
        f"{patch}\n"
        "import run\n"
        f"sys.exit(run.main(['--workload', {workload!r}, '--seed', '7', '--seconds', '4',"
        f" '--trace', '{trace}', '--size', 'tiny']))\n"
    )
    p = subprocess.run([sys.executable, "-c", code], cwd=ROOT, capture_output=True, text=True,
                       timeout=600)
    assert p.returncode == 0, p.stderr[-3000:]
    return json.loads(p.stdout.strip().splitlines()[-1]), p.stdout


@pytest.mark.parametrize("workload", ["cdc", "headline"])
@pytest.mark.parametrize("trace", [0, 1])
def test_tiny_run_emits_every_metric(workload, trace):
    result, out = bench(workload, trace)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0 and result["attempted"] >= 1
    declared = spec()["per_layer" if trace else "end_to_end"]
    assert {m["name"]: m["unit"] for m in declared} == {
        k: v["unit"] for k, v in result["metrics"].items()
    }
    for m in declared:
        assert isinstance(result["metrics"][m["name"]]["value"], float)
    # the readable report names every figure the workload measures, with a unit
    report = {line.split()[0]: line.split()[2] for line in out.splitlines()
              if line and not line.startswith((" ", "#", "check", "{"))}
    for name in WORKLOAD_FIGURES[workload]:
        assert name in report, name
    # a traced run checks that its layers account for the end-to-end figure
    if trace:
        assert "check trace.accounting_within_10pct" in out


CORRUPT_REPLICA = """
import wl_cdc
_read = wl_cdc.read_replica
def _corrupted(spark, state, before=None):
    df = _read(spark, state, before)
    return df.union(spark.createDataFrame([(10**15 + 1, 0)], df.schema))
wl_cdc.read_replica = _corrupted
"""

WRONG_RESULT = """
import dataclasses
from simple_cdc_service_spark.registry import REGISTRY
_spec = REGISTRY["q6_forecast_revenue"]
REGISTRY["q6_forecast_revenue"] = dataclasses.replace(
    _spec, fn=lambda spark, sf: _spec.fn(spark, sf).limit(0))
"""


@pytest.mark.parametrize("workload,patch", [("cdc", CORRUPT_REPLICA), ("headline", WRONG_RESULT)])
def test_wrong_output_counts_as_failed(workload, patch):
    result, out = bench(workload, 0, patch)
    assert result["correct"] is False
    assert result["failed"] / result["attempted"] > 0
    failed_frac = next(line for line in out.splitlines() if line.startswith("failed_frac"))
    assert float(failed_frac.split()[1]) > 0


def test_feeds_are_seeded_and_cover_the_mix():
    a, b = BacklogFeed(1000, 3), BacklogFeed(1000, 3)
    ra, rb = a.records(20_000, 0), b.records(20_000, 0)
    assert ra == rb
    assert a.tombstones and a.corrupt and a.pk_changes and all(a.ops.values())
    h = HotFeed(1000, 3)
    h.records(2000, 0)
    assert all(h.ops.values()) and h.next_key > 1000


def test_envelope_has_the_reference_shape():
    row = {"order_id": 3, "invoice_number": 22}
    for op, before, after in (("c", None, row), ("u", row, row), ("d", row, None)):
        text = envelope_json(op, before, after, 1010, 1_700_000_000_000)
        assert json.loads(text) == envelope(op, before, after, 1010, 1_700_000_000_000)
        assert text == json.dumps(envelope(op, before, after, 1010, 1_700_000_000_000))


def test_replay_applies_pk_change_as_move():
    f = BacklogFeed(10, 0, pk_change_frac=1.0, tombstone_frac=0.0, corrupt_frac=0.0)
    recs = [json.loads(r) for r in f.records(200, 0)]
    moves = [json.loads(r["value"])["payload"] for r in recs
             if json.loads(r["value"])["payload"]["op"] == "u"]
    moved = [m for m in moves if m["before"]["order_id"] != m["after"]["order_id"]]
    assert moved
    keys, _ = f.replay.expected()
    assert len(set(keys.tolist())) == len(keys)
