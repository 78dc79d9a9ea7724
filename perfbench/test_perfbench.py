"""Smoke tests for the benchmark harness, at a tiny input size.

    python3 -m pytest perfbench -q

The end-to-end tests run the real harness (one local Spark JVM per test,
about half a minute each) with shrunken inputs and a private work
directory, then check the printed result against BENCHMARK.json.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import zipfile

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from tracing import Span, covered, self_times  # noqa: E402


def test_covered_merges_overlaps_and_clips():
    assert covered([], 0.0, 10.0) == 0.0
    # [1,3] and [2,5] overlap -> [1,5]; [8,12] is clipped to [8,10]
    assert covered([(2.0, 5.0), (8.0, 12.0), (1.0, 3.0)], 0.0, 10.0) == 6.0
    assert covered([(11.0, 12.0)], 0.0, 10.0) == 0.0


def test_self_time_is_duration_minus_child_coverage():
    spans = [Span("checkpoint", 0.0, 10.0),
             Span("combine", 1.0, 3.0, parent=0),
             Span("combine", 2.0, 5.0, parent=0),
             Span("tiles", 9.0, 10.0, parent=0),
             Span("osm_sink", 10.0, 12.0)]
    assert self_times(spans) == [5.0, 2.0, 3.0, 1.0, 2.0]


def _benchmark_units(kind: str) -> dict[str, str]:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {m["name"]: m["unit"] for m in spec[kind]}


_TINY = """
import sys
sys.path.insert(0, {here!r})
import run, workloads
workloads.RLIS_STREETS, workloads.RLIS_TRAILS = 1_200, 200
workloads.DOC_MULT = 2
run.WORK = {work!r}
sys.exit(run.main(sys.argv[1:]))
"""


def _run_tiny(tmp_path, workload: str, trace: int):
    """The real harness in a fresh interpreter (a Python process can host
    only one Spark JVM: module-level UDFs keep the first one's handles),
    with shrunken inputs and a private work directory."""
    code = _TINY.format(here=HERE, work=str(tmp_path))
    proc = subprocess.run(
        [sys.executable, "-c", code, "--workload", workload, "--seed", "3",
         "--seconds", "0.1", "--trace", str(trace)],
        capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-3000:]
    out = proc.stdout.strip().splitlines()
    return out, json.loads(out[-1])


def test_untraced_run_prints_every_end_to_end_metric(tmp_path):
    _, res = _run_tiny(tmp_path, "doc_tiles", 0)
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    units = _benchmark_units("end_to_end")
    assert {k: v["unit"] for k, v in res["metrics"].items()} == units
    assert all(v["value"] > 0 for v in res["metrics"].values())


def test_workers_get_the_package_sources_of_this_checkout(tmp_path):
    """Python workers import the shipped zip ahead of PYTHONPATH, so it
    must hold exactly the package sources next to the benchmark."""
    root = os.path.dirname(HERE)
    zip_path = os.path.join(root, ".cache", "rlis2osm_spark_pyfiles.zip")
    if os.path.exists(zip_path):
        os.utime(zip_path, (0, 0))  # as if left by an older checkout
    _run_tiny(tmp_path, "doc_tiles", 0)
    pkg = os.path.join(root, "rlis2osm_spark")
    sources = {}
    for dirpath, _dirs, files in os.walk(pkg):
        for fn in files:
            if fn.endswith(".py"):
                full = os.path.join(dirpath, fn)
                with open(full, "rb") as fh:
                    sources[os.path.relpath(full, root)] = fh.read()
    with zipfile.ZipFile(zip_path) as zf:
        shipped = {n: zf.read(n) for n in zf.namelist()}
    assert shipped == sources
    newest = max(os.path.getmtime(os.path.join(root, n)) for n in sources)
    assert os.path.getmtime(zip_path) >= newest


def test_traced_run_prints_every_layer_metric_and_its_spans(tmp_path):
    out, res = _run_tiny(tmp_path, "rlis_convert", 1)
    assert res["correct"] and res["attempted"] == 3
    units = _benchmark_units("per_layer")
    assert {k: v["unit"] for k, v in res["metrics"].items()} == units
    m = {k: v["value"] for k, v in res["metrics"].items()}
    for step in ("combine", "dissolve", "checkpoint", "tiles", "osm_sink"):
        assert m[f"{step}.s"] > 0, step
    assert m["dissolve.jobs"] >= 2  # the auto planning job + the write
    assert 0 < m["dissolve.merge_ratio"] <= 1

    trace_file = out[-2].split(" ", 1)[1]
    with open(os.path.join(os.path.dirname(HERE), trace_file)) as fh:
        spans = json.load(fh)["spans"]
    ckpt = [i for i, s in enumerate(spans) if s["name"] == "checkpoint"]
    assert len(ckpt) == 3  # combined, dissolved, tiled snapshots
    assert m["checkpoint.s"] == pytest.approx(
        sum(spans[i]["self_s"] for i in ckpt))
    for i in ckpt:
        kids = [(s["start"], s["end"]) for s in spans if s["parent"] == i]
        assert kids, "checkpoint span without layer children"
        sp = spans[i]
        assert sp["self_s"] == pytest.approx(
            sp["end"] - sp["start"] - covered(kids, sp["start"], sp["end"]))
