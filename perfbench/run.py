#!/usr/bin/env python3
"""rlis2osm_spark benchmark: one workload, one seed, one line of results.

    python3 perfbench/run.py --workload rlis_convert --seed 1 \
        --seconds 10 --trace 0

Run from the root of a checkout. The run generates (or reuses) the seeded
inputs, sets the Spark session up on ``local[4]``, runs the workload for
``--seconds``, checks every iteration's output and prints the metrics as
the last line of standard output. ``--trace 1`` runs an untraced, a
traced and another untraced iteration instead and prints the per-layer
metrics; the spans and stage counters go to ``perfbench/.work/traces/``.
See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")

WARM_ITERATIONS = 2  # unmeasured iterations on the small warm-up input
MIN_ITERATIONS = 2  # measured iterations per run, whatever --seconds says
CORES = 4
DRIVER_MEM = "4g"

END_TO_END = {"wall_s": "s", "rows_per_s": "1/s", "cpu_s": "s",
              "peak_rss_mb": "MB", "ok_frac": "ratio", "setup_s": "s"}
STEPS = ("combine", "dissolve", "checkpoint", "tiles", "knn", "osm_sink",
         "osm_merge")
STEP_METRICS = {"s": "s", "exec_s": "s", "wait_s": "s",
                "shuffle_bytes": "bytes", "spill_bytes": "bytes",
                "failed_tasks": "count", "rows_out": "count"}
EXTRA_LAYER = {"session.build.s": "s", "session.ship.s": "s",
               "session.warm.s": "s", "dissolve.merge_ratio": "ratio",
               "dissolve.jobs": "count", "knn.cands_per_doc": "count",
               "trace.overhead_frac": "ratio"}


def per_layer_units() -> dict[str, str]:
    units = {f"{s}.{m}": u for s in STEPS for m, u in STEP_METRICS.items()}
    units.update(EXTRA_LAYER)
    return units


def _session_conf() -> dict:
    tmp = os.path.join(WORK, "tmp")
    return {
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    }


def _build_session():
    from rlis2osm_spark.session import build_session

    spark = build_session(app_name="rlis2osm_spark-pipeline",
                          master=f"local[{CORES}]",
                          extra_conf=_session_conf())
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _ship(spark) -> None:
    from rlis2osm_spark import driver_support

    # the workers import the shipped zip ahead of PYTHONPATH, and the
    # package reuses an existing zip: remove it so that it is rebuilt from
    # the sources of this checkout
    zip_path = os.path.join(ROOT, ".cache", "rlis2osm_spark_pyfiles.zip")
    if os.path.exists(zip_path):
        os.remove(zip_path)
    driver_support.ensure_package_on_workers(spark)


def _shutdown(spark) -> None:
    """Stop the session, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - last resort: do not leave it
            proc.kill()
            proc.wait()


class Run:
    def __init__(self, args):
        from hostinfo import host_record
        from workloads import WORKLOADS

        self.args = args
        self.record: dict = {"workload": args.workload, "seed": args.seed,
                             "host_before": host_record()}
        self.wl = WORKLOADS[args.workload](os.path.join(WORK, "inputs"),
                                           args.seed)
        self.spark = None
        self.iter_no = 0

    def out_dir(self) -> str:
        self.iter_no += 1
        path = os.path.join(WORK, "runs", f"{os.getpid()}-{self.iter_no}")
        os.makedirs(path)
        return path

    def setup(self) -> None:
        """Generate the inputs; build the session (JVM launch included)
        and ship the package; warm up with WARM_ITERATIONS unmeasured
        iterations on the small warm-up input; then derive what the checks
        expect (counted as generation)."""
        from tracing import Tracer

        t0 = time.perf_counter()
        self.wl.generate()
        gen_s = time.perf_counter() - t0
        t = [time.perf_counter()]
        self.spark = _build_session()
        t.append(time.perf_counter())
        _ship(self.spark)
        t.append(time.perf_counter())
        for _ in range(WARM_ITERATIONS):
            out = self.out_dir()
            self.wl.iteration(self.spark, Tracer(False), out, warm=True)
            shutil.rmtree(out, ignore_errors=True)
        t.append(time.perf_counter())
        t0 = time.perf_counter()
        self.wl.prepare(self.spark)
        gen_s += time.perf_counter() - t0
        self.setup_parts = {"build": t[1] - t[0], "ship": t[2] - t[1],
                            "warm": t[3] - t[2]}
        self.record.update(gen_s=gen_s, setup=self.setup_parts)
        print(f"gen_s {gen_s:.3f}")
        print("setup " + " ".join(f"{k}_s {v:.3f}"
                                  for k, v in self.setup_parts.items()))

    def iteration(self, tracer) -> dict:
        """One measured run of the workload, checked afterwards."""
        from hostinfo import RssSampler, steal_seconds, tree_cpu_seconds

        out = self.out_dir()
        c0, s0 = tree_cpu_seconds(), steal_seconds()
        rec = {"ok": False}
        try:
            with RssSampler() as rss:
                t0 = time.perf_counter()
                res = self.wl.iteration(self.spark, tracer, out)
                rec["wall_s"] = time.perf_counter() - t0
            rec["cpu_s"] = tree_cpu_seconds() - c0
            rec["steal_s"] = steal_seconds() - s0
            rec["peak_rss"] = rss.peak
            errs = self.wl.errors(self.spark, res)
            rec["ok"] = not errs
            rec["errors"] = errs
            rec["result"] = res
        except Exception:  # noqa: BLE001 - a failed run is counted, not fatal
            rec["errors"] = [traceback.format_exc()]
        shutil.rmtree(out, ignore_errors=True)
        for e in rec["errors"]:
            print(f"iteration {self.iter_no} FAILED: {e}", file=sys.stderr)
        return rec

    def measure(self) -> list[dict]:
        from tracing import Tracer

        recs = []
        deadline = time.perf_counter() + self.args.seconds
        while len(recs) < MIN_ITERATIONS or time.perf_counter() < deadline:
            recs.append(self.iteration(Tracer(False)))
            print(f"iteration {len(recs)} wall_s "
                  f"{recs[-1].get('wall_s', float('nan')):.3f} steal_s "
                  f"{recs[-1].get('steal_s', float('nan')):.2f}")
        return recs

    def end_to_end(self, recs: list[dict]) -> dict:
        good = [r for r in recs if r["ok"]] or recs
        med = statistics.median
        wall = med(r.get("wall_s", float("nan")) for r in good)
        return {
            "wall_s": wall,
            "rows_per_s": self.wl.rows / wall,
            "cpu_s": med(r.get("cpu_s", float("nan")) for r in good),
            "peak_rss_mb": max(r.get("peak_rss", 0) for r in good) / 2**20,
            "ok_frac": sum(r["ok"] for r in recs) / len(recs),
            "setup_s": sum(self.setup_parts.values()),
        }

    def traced(self) -> tuple[list[dict], dict]:
        """Untraced, traced, untraced: the traced iteration's overhead is
        taken against the mean of its neighbours, so a warming or slowing
        trend cancels."""
        from tracing import Tracer

        before = self.iteration(Tracer(False))
        tr = Tracer(True, self.spark, trace_id=f"{os.getpid()}-traced")
        rec = self.iteration(tr)
        groups = tr.job_groups()
        after = self.iteration(Tracer(False))
        # the Spark jobs a checkpoint stage runs belong to the layer whose
        # plan it writes: make them child spans of the checkpoint span
        for i, sp in enumerate(list(tr.spans)):
            if sp.name != "checkpoint":
                continue
            for a, b in groups.get(sp.group, {}).get("intervals", []):
                if a < sp.end and b > sp.start:
                    tr.add(sp.group, max(a, sp.start), min(b, sp.end), i)
        metrics = layer_metrics(tr, groups, rec.get("result", {}), self)
        plain = [r["wall_s"] for r in (before, after) if "wall_s" in r]
        if len(plain) == 2 and "wall_s" in rec:
            metrics["trace.overhead_frac"] = (
                rec["wall_s"] / statistics.mean(plain) - 1.0)
        self.record.update(spans=tr.dump(), job_groups=groups,
                           plain_wall_s=plain,
                           traced_wall_s=rec.get("wall_s"))
        return [before, rec, after], metrics

    def close(self) -> None:
        if self.spark is not None:
            _shutdown(self.spark)
            self.spark = None


def layer_metrics(tr, groups: dict, res: dict, run: Run) -> dict:
    from tracing import covered, self_times

    selfs = self_times(tr.spans)
    m: dict[str, float] = {k: 0.0 for k in per_layer_units()}
    for step in STEPS:
        if step == "checkpoint":
            m["checkpoint.s"] = sum(
                st for s, st in zip(tr.spans, selfs) if s.name == step)
        else:
            iv = [(s.start, s.end) for s in tr.spans if s.name == step]
            m[f"{step}.s"] = covered(iv, float("-inf"), float("inf"))
        for c, v in groups.get(step, {}).items():
            if f"{step}.{c}" in m:
                m[f"{step}.{c}"] = v
    snaps = res.get("snapshot_rows", {})
    m["combine.rows_out"] = snaps.get("combined", 0)
    m["dissolve.rows_out"] = snaps.get("dissolved", 0)
    m["checkpoint.rows_out"] = sum(snaps.values())
    m["tiles.rows_out"] = snaps.get("tiled", res.get("docs", 0))
    m["knn.rows_out"] = res.get("knn_rows", 0)
    m["osm_sink.rows_out"] = res.get("writer_ways", 0)
    m["osm_merge.rows_out"] = res.get("osm_ways", 0) + res.get("osm_nodes", 0)
    m["dissolve.jobs"] = groups.get("dissolve", {}).get("jobs", 0)
    if res:
        m.update(run.wl.layer_extras(run.spark, res))
    for part, secs in run.setup_parts.items():
        m[f"session.{part}.s"] = secs
    return m


def main(argv=None) -> int:
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a terminated run still stops its JVM (the finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    sys.path.insert(0, ROOT)
    import rlis2osm_spark  # noqa: F401 - fails fast outside a checkout

    # workers and the JVM inherit these: the package from this checkout,
    # scratch files inside the benchmark's work directory
    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    # Spark scratch; the variable wins over spark.local.dir when a caller
    # has it set
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM

    from hostinfo import host_record

    run = Run(args)
    try:
        run.setup()
        if args.trace:
            recs, metrics = run.traced()
            units = per_layer_units()
        else:
            recs = run.measure()
            metrics = run.end_to_end(recs)
            units = END_TO_END
    finally:
        run.close()
    run.record["host_after"] = host_record()
    run.record["iterations"] = [
        {k: v for k, v in r.items() if k != "result"} for r in recs]
    print("host " + json.dumps({k: run.record[k]
                                for k in ("host_before", "host_after")}))
    if args.trace:
        path = os.path.join(WORK, "traces",
                            f"{args.workload}-seed{args.seed}-{os.getpid()}"
                            ".json")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump(run.record, fh, indent=1, default=str)
        print(f"trace {os.path.relpath(path, ROOT)}")
    failed = sum(not r["ok"] for r in recs)
    print(json.dumps({
        "correct": failed == 0, "attempted": len(recs), "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u}
                    for k, u in units.items()}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
