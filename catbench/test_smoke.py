"""Smoke test of the catalog benchmark at ``--scale smoke``.

    python3 -m pytest catbench/test_smoke.py -q

Checks that each run prints every metric BENCHMARK.json names, with its
unit, and that a result missing one row trips the oracles.  The Spark
runs take about a minute each.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import oracle  # noqa: E402
import run  # noqa: E402
import sky  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)

# Drops the lowest id from every cone result before the benchmark sees it.
DROP_ONE_ROW = """
import sys
sys.path.insert(0, {root!r})
sys.path.insert(0, {here!r})
from lsd2_spark import catalog
from pyspark.sql import functions as F

search = catalog.Catalog.cone_search

def cone_search_minus_one(self, *args, **kwargs):
    df = search(self, *args, **kwargs)
    lowest = df.agg(F.min("sid").alias("sid"))
    return df.join(lowest, "sid", "left_anti")

catalog.Catalog.cone_search = cone_search_minus_one
import run
sys.exit(run.main(sys.argv[1:]))
"""


def bench(workload: str, trace: int, tmp_path, code: str | None = None) -> dict:
    args = ["--workload", workload, "--seed", "7", "--seconds", "1",
            "--trace", str(trace), "--scale", "smoke"]
    cmd = [sys.executable, "-c", code, *args] if code else [
        sys.executable, os.path.join(HERE, "run.py"), *args]
    out = subprocess.run(cmd, cwd=tmp_path, capture_output=True, text=True, timeout=600)
    assert out.returncode == 0, out.stderr[-3000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


def assert_metrics(result: dict, spec: list[dict]) -> None:
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    want = {m["name"]: m["unit"] for m in spec}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    assert got == want
    for v in result["metrics"].values():
        assert isinstance(v["value"], (int, float))


@pytest.mark.parametrize(
    "workload,trace", [("cone_append", 0), ("ingest_xmatch", 1)]
)
def test_every_metric_printed(workload, trace, tmp_path):
    result = bench(workload, trace, tmp_path)
    assert result["correct"] and result["failed"] == 0
    assert_metrics(result, SPEC["per_layer"] if trace else SPEC["end_to_end"])
    if not trace:
        assert all(v["value"] > 0 for v in result["metrics"].values())


def test_dropped_row_fails_cones(tmp_path):
    code = DROP_ONE_ROW.format(root=ROOT, here=HERE)
    result = bench("cone_append", 1, tmp_path, code=code)
    assert not result["correct"] and result["failed"] > 0
    assert_metrics(result, SPEC["per_layer"])


def test_dropped_pair_changes_xmatch_answer():
    rng = np.random.default_rng(3)
    left = sky.sources(rng, 3_000, 0)
    right = sky.counterparts(rng, left, 800, 0.8, 0.7 / 3600, 10_000)
    cols = [t.column(c).to_numpy() for t in (left, right) for c in ("sid", "ra", "dec")]
    lid, rid = oracle.nearest_pairs(*cols, 0.001)
    assert len(lid) > 500
    full = (len(lid), oracle.pair_checksum(lid, rid))
    assert (len(lid) - 1, oracle.pair_checksum(lid[1:], rid[1:])) != full


def test_nearest_pairs_matches_all_pairs_scan():
    rng = np.random.default_rng(4)
    left = sky.sources(rng, 1_500, 0)
    right = sky.counterparts(rng, left, 600, 0.7, 0.002, 10_000)
    (l_sid, l_ra, l_dec), (r_sid, r_ra, r_dec) = (
        [t.column(c).to_numpy() for c in ("sid", "ra", "dec")] for t in (left, right)
    )
    d = oracle.haversine_deg(l_ra[:, None], l_dec[:, None], r_ra[None, :], r_dec[None, :])
    d = np.where(d < 0.005, d, np.inf)
    want = {
        (int(l_sid[i]), int(r_sid[np.lexsort((r_sid, d[i]))[0]]))
        for i in range(len(l_sid)) if np.isfinite(d[i]).any()
    }
    lid, rid = oracle.nearest_pairs(l_sid, l_ra, l_dec, r_sid, r_ra, r_dec, 0.005)
    assert set(zip(lid.tolist(), rid.tolist())) == want


def test_cone_oracle_matches_direct_scan():
    rng = np.random.default_rng(5)
    t = sky.sources(rng, 5_000, 0)
    sid, ra, dec = (t.column(c).to_numpy() for c in ("sid", "ra", "dec"))
    o = oracle.ConeOracle(sid, ra, dec)
    for ra0, dec0, r in [(90.0, 41.8, 1.0), (10.0, -80.0, 5.0), (359.9, 0.0, 0.5)]:
        hit = oracle.haversine_deg(ra, dec, ra0, dec0) < r
        assert o.cone(ra0, dec0, r) == (int(hit.sum()), int(sid[hit].sum()))


def test_failed_write_still_gives_a_result_line():
    """The only append of a run raised: its latency is unmeasured (null),
    and the metrics still serialise as strict JSON."""
    ops = [
        {"kind": "append", "ok": False, "seconds": float("nan")},
        {"kind": "cone", "ok": True, "seconds": 0.5},
    ]
    metrics = run.with_units(run.end_to_end("cone_append", ops, 20.0, (2, 1)))
    assert metrics["write_p50_s"]["value"] is None
    assert metrics["read_p50_ms"]["value"] == 500.0
    json.dumps(metrics, allow_nan=False)
