"""The benchmark's workloads: seeded inputs, one iteration of each job, and
the output checks every iteration must pass.

Inputs come from ``rlis2osm_spark.datagen.generate(seed=...)`` and are
cached per (package sources, seed, size) under the benchmark's work
directory, together with the reference outputs the checks compare
against; the program only ever sees the generated files. Each workload
runs the package's public layer functions in the order the production
job runs them, with a span (see ``tracing.py``) around every call into a
layer.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import numpy as np
import pandas as pd

# Sizes are chosen so that one run (cold JVM, set-up, warm-up, the measured
# iterations and the checks) fits the benchmark's per-run budget on a
# 4-core host; see README.md.
RLIS_STREETS, RLIS_TRAILS = 24_000, 4_800
# The warm-up runs the job on an input this many times smaller. Much of
# what warms (codegen, class loading, the driver's planning code, Python
# worker start) scales with the number of plans and jobs, not with input
# size, so small warm-up iterations warm more per second spent.
WARM_DIV = 8
DOC_MULT = 8  # replicas of each source document in doc_tiles
KNN_RES = 8  # 1.6k ft cells: the 3x3 ring covers each doc's own segment

_H40 = 1 << 40


def _fold(col):
    """Order-independent 40-bit hash contribution of one row."""
    from pyspark.sql import functions as F

    return F.pmod(F.xxhash64(col), F.lit(_H40))


def package_token() -> str:
    """Digest of the package's Python sources. Cached inputs and
    reference outputs live under it, so they always come from the code
    under test, never from another checkout's run of the same seed."""
    import rlis2osm_spark

    pkg = os.path.dirname(os.path.abspath(rlis2osm_spark.__file__))
    h = hashlib.blake2b(digest_size=8)
    for dirpath, dirnames, filenames in os.walk(pkg):
        dirnames.sort()
        for fn in sorted(f for f in filenames if f.endswith(".py")):
            full = os.path.join(dirpath, fn)
            h.update(os.path.relpath(full, pkg).encode() + b"\0")
            with open(full, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def _cached(path: str, build) -> dict:
    """Run ``build(tmp_dir) -> dict`` once per path; the dict is stored in
    ``meta.json``, written last, so a half-built directory is rebuilt."""
    meta = os.path.join(path, "meta.json")
    if os.path.exists(meta):
        with open(meta) as fh:
            return json.load(fh)
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    info = build(tmp)
    with open(os.path.join(tmp, "meta.json"), "w") as fh:
        json.dump(info, fh)
    shutil.rmtree(path, ignore_errors=True)
    os.replace(tmp, path)
    return info


def _segments(streets: pd.DataFrame) -> pd.DataFrame:
    """Street segments (seg_id, x1, y1, x2, y2) from two-point WKB lines."""
    raw = np.frombuffer(b"".join(streets["geometry"]), dtype=np.uint8)
    pts = raw.reshape(len(streets), 41)[:, 9:].copy().view("<f8")
    return pd.DataFrame({"seg_id": streets["fid"].astype("int64"),
                         "x1": pts[:, 0], "y1": pts[:, 1],
                         "x2": pts[:, 2], "y2": pts[:, 3]})


def generate_rlis(root: str, seed: int, n_streets: int,
                  n_trails: int) -> tuple[str, dict]:
    """datagen output plus the street segments the kNN step matches."""
    from rlis2osm_spark import datagen

    path = os.path.join(root, f"rlis-s{seed}-n{n_streets}-t{n_trails}")

    def build(tmp):
        datagen.generate(tmp, n_streets=n_streets, n_trails=n_trails,
                         seed=seed)
        streets = pd.read_parquet(f"{tmp}/streets.parquet")
        _segments(streets).to_parquet(f"{tmp}/segments.parquet", index=False)
        n_trail_rows = len(pd.read_parquet(f"{tmp}/trails.parquet",
                                           columns=["fid"]))
        return {"streets": len(streets), "trails": n_trail_rows,
                "docs": len(streets) + n_trail_rows}

    return path, _cached(path, build)


# ---------------------------------------------------------------------------
# RLIS -> OSM chain (rlis_convert)
# ---------------------------------------------------------------------------

def rlis_iteration(spark, tr, data: str, out: str) -> dict:
    """combine -> dissolve -> tags -> snapshots -> tiles -> OSM sink, the
    job ``scripts/run_pipeline.py --osm`` runs, on fresh snapshots."""
    from rlis2osm_spark.operators.combine import combine, repair_and_filter_tags
    from rlis2osm_spark.operators.dissolve import dissolve_ways
    from rlis2osm_spark.operators.osm_sink import merge_fragments, write_osm_xml
    from rlis2osm_spark.pipeline import tile_assignment, tile_rollup
    from rlis2osm_spark.plans.checkpoint import Checkpointer

    ck = Checkpointer(spark, out, "rlis")
    st, trl, bk = (spark.read.parquet(f"{data}/{t}.parquet")
                   for t in ("streets", "trails", "bike_routes"))
    with tr.span("checkpoint", group="combine"):
        combined = ck.stage(
            "combined", tr.wrap("combine", lambda: combine(st, trl, bk)),
            inputs=["streets", "trails", "bike_routes"])
    with tr.span("checkpoint", group="dissolve"):
        dissolved = ck.stage(
            "dissolved", tr.wrap("dissolve", lambda: dissolve_ways(combined)),
            inputs=["combined"])
    tagged = repair_and_filter_tags(dissolved)

    docs = spark.read.parquet(f"{data}/documents_rlis.parquet")
    media = spark.read.parquet(f"{data}/media.parquet")
    with tr.span("checkpoint", group="tiles"):
        tiled = ck.stage(
            "tiled", tr.wrap("tiles", lambda: tile_assignment(
                docs, media).drop("spans")),
            inputs=["documents_rlis", "media"])
    with tr.span("tiles", group="tiles"):
        cells = tile_rollup(tiled).count()

    frag_dir = os.path.join(out, "osm_fragments")
    with tr.span("osm_sink", group="osm_sink"):
        stats = write_osm_xml(tagged, frag_dir).collect()
    with tr.span("osm_merge", group="osm_merge"):
        info = merge_fragments(frag_dir, os.path.join(out, "rlis.osm"),
                               expect_fragments=len(stats))
    rows = {m["stage"]: m["row_count"] for m in ck.report()}
    return dict(
        tagged=tagged, cells=cells,
        snapshot_rows=rows,
        writer_ways=int(sum(r.n_ways for r in stats)),
        null_geoms=int(sum(r.n_null_geoms for r in stats)),
        osm_ways=info["n_ways"], osm_nodes=info["n_nodes"])


def rlis_summary(spark, res: dict) -> dict:
    """Counts and the order-independent digest of the dissolved
    (tags, geometry) multiset, read back from the written snapshot."""
    from pyspark.sql import functions as F

    tagged = res["tagged"]
    tag_json = F.to_json(F.array_sort(F.map_entries("tags")))
    row = tagged.agg(
        F.count("*").alias("n"),
        F.sum("n_members").alias("members"),
        F.sum(_fold(F.concat(tag_json.cast("binary"), F.lit(b"\x00"),
                             F.col("geometry")))).alias("h"),
    ).collect()[0]
    vertex = F.expr("transform(sequence(0, int((length(geometry) - 9) / 16)"
                    " - 1), i -> substring(geometry, 10 + 16 * i, 16))")
    n_vertices = tagged.select(F.explode(vertex).alias("v")).agg(
        F.countDistinct("v")).collect()[0][0]
    return {"dissolved": row["n"], "members": int(row["members"]),
            "digest": f"{int(row['h']):x}", "distinct_vertices": n_vertices}


def rlis_errors(res: dict, summ: dict, combined_rows: int) -> list[str]:
    errs = []
    if summ["members"] != combined_rows:
        errs.append(f"sum(n_members)={summ['members']} != combined rows "
                    f"{combined_rows}")
    if not 0 < summ["dissolved"] <= combined_rows:
        errs.append(f"dissolved ways {summ['dissolved']} outside "
                    f"(0, {combined_rows}]")
    if res["null_geoms"]:
        errs.append(f"{res['null_geoms']} null geometries at the sink")
    if not res["osm_ways"] == res["writer_ways"] == summ["dissolved"]:
        errs.append(f"OSM ways merged={res['osm_ways']} written="
                    f"{res['writer_ways']} dissolved={summ['dissolved']}")
    if res["osm_nodes"] != summ["distinct_vertices"]:
        errs.append(f"OSM nodes {res['osm_nodes']} != distinct vertices "
                    f"{summ['distinct_vertices']}")
    return errs


# ---------------------------------------------------------------------------
# documents -> tiles -> kNN (doc_tiles)
# ---------------------------------------------------------------------------

def sig_fold(sig):
    """40-bit fold of a document's span signature (``span_signature``)."""
    from pyspark.sql import functions as F

    return _fold(F.array_join(sig, "\x1e"))


def doc_iteration(spark, tr, data: str, mult: int) -> dict:
    """attach_geometry -> WKB midpoint -> Morton cell -> span_signature
    (tile_assignment), the salted tile rollup, then ring kNN of every
    document to the street segments."""
    from pyspark.sql import functions as F
    from rlis2osm_spark.pipeline import tile_assignment, tile_rollup_salted
    from rlis2osm_spark.queries.scaling import expanded_documents
    from rlis2osm_spark.spatial.joins import knn_join

    docs = expanded_documents(spark, data, mult)
    media = spark.read.parquet(f"{data}/media.parquet")
    segs = spark.read.parquet(f"{data}/segments.parquet")
    slim = tile_assignment(docs, media).select(
        "doc_id", "x", "y", "cell",
        sig_fold(F.col("span_sig")).alias("sig_h"))
    try:
        with tr.span("tiles", group="tiles"):
            slim = slim.persist()
            t = slim.agg(F.count("*").alias("n"),
                         F.count("cell").alias("n_cell"),
                         F.sum("sig_h").alias("sig")).collect()[0]
            r = tile_rollup_salted(slim).agg(
                F.count("*").alias("cells"),
                F.sum("n_docs").alias("n_docs")).collect()[0]
        with tr.span("knn", group="knn"):
            nn = knn_join(slim.select("doc_id", "x", "y"), segs, k=1,
                          res=KNN_RES, probe_id="doc_id", base_id="seg_id")
            on_street = (F.col("doc_id").startswith("streets:")
                         & (F.col("dist2") < 1e-6))
            k = nn.agg(F.count("*").alias("n"),
                       F.sum(on_street.cast("long")).alias("on_street"),
                       F.sum(_fold(F.concat_ws(
                           "|", "doc_id", F.col("seg_id").cast("string")
                       ))).alias("h")).collect()[0]
    finally:
        slim.unpersist()
    return {"docs": t["n"], "docs_with_cell": t["n_cell"],
            "sig": int(t["sig"]), "cells": r["cells"],
            "rollup_docs": int(r["n_docs"]), "knn_rows": k["n"],
            "knn_on_street": k["on_street"], "digest": f"{int(k['h']):x}"}


def doc_expected(spark, data: str) -> dict:
    """Row count and span-signature fold of the unreplicated documents;
    every replica has its source's signature."""
    from pyspark.sql import functions as F
    from rlis2osm_spark.sources.documents import span_signature

    docs = spark.read.parquet(f"{data}/documents_rlis.parquet")
    row = docs.agg(F.count("*").alias("n"), F.sum(sig_fold(
        span_signature(F.col("spans")))).alias("sig")).collect()[0]
    return {"docs": row["n"], "sig": int(row["sig"])}


def knn_candidates(spark, data: str) -> int:
    """Ring candidates (deduplicated doc-segment pairs) of the source
    documents; replicas share their source's candidates."""
    from rlis2osm_spark.pipeline import tile_assignment
    from rlis2osm_spark.spatial.joins import knn_join

    docs = spark.read.parquet(f"{data}/documents_rlis.parquet")
    media = spark.read.parquet(f"{data}/media.parquet")
    segs = spark.read.parquet(f"{data}/segments.parquet")
    probe = tile_assignment(docs, media).select("doc_id", "x", "y")
    return knn_join(probe, segs, k=1 << 30, res=KNN_RES, probe_id="doc_id",
                    base_id="seg_id").count()


def doc_errors(res: dict, exp: dict, n_streets: int, mult: int) -> list[str]:
    n = exp["docs"] * mult
    errs = []
    if res["docs"] != n:
        errs.append(f"tiled docs {res['docs']} != {n}")
    if res["docs_with_cell"] != n:
        errs.append(f"{n - res['docs_with_cell']} documents without a cell")
    if res["sig"] != exp["sig"] * mult:
        errs.append("span-signature fold mismatch: "
                    f"{res['sig']} != {exp['sig'] * mult}")
    if res["rollup_docs"] != n:
        errs.append(f"rollup counts {res['rollup_docs']} docs, expected {n}")
    # a street document's midpoint lies on its own segment: its nearest
    # segment is at distance 0
    if res["knn_on_street"] != n_streets * mult:
        errs.append(f"{res['knn_on_street']} street documents matched at "
                    f"distance 0, expected {n_streets * mult}")
    if not res["knn_on_street"] <= res["knn_rows"] <= n:
        errs.append(f"kNN returned {res['knn_rows']} rows for {n} documents")
    return errs


# ---------------------------------------------------------------------------
# workload registry
# ---------------------------------------------------------------------------

class Workload:
    """One benchmark workload: ``generate`` builds its seeded inputs
    (no Spark), ``prepare`` derives what the checks expect (Spark),
    ``iteration`` runs the job once and ``errors`` checks its output."""

    name = ""

    def __init__(self, root: str, seed: int):
        self.root = os.path.join(root, f"code-{package_token()}")
        self.seed = seed
        self.rows = 0
        self.ref_digest: str | None = None

    def generate(self) -> None:
        self.data, self.info = generate_rlis(self.root, self.seed,
                                             RLIS_STREETS, RLIS_TRAILS)
        self.warm_data, _ = generate_rlis(self.root, self.seed,
                                          RLIS_STREETS // WARM_DIV,
                                          RLIS_TRAILS // WARM_DIV)

    def prepare(self, spark) -> None:
        pass

    def iteration(self, spark, tr, out: str, warm: bool = False) -> dict:
        """One run of the job; ``warm`` runs it on the warm-up input."""
        raise NotImplementedError

    def errors(self, spark, res: dict) -> list[str]:
        raise NotImplementedError

    def layer_extras(self, spark, res: dict) -> dict:
        """Per-layer ratios of the traced iteration (read after it ends)."""
        return {}

    def _digest_errors(self, digest: str) -> list[str]:
        """The digest must repeat across iterations and across runs of one
        seed on the same package sources (kept next to the cached
        inputs)."""
        ref_path = os.path.join(self.data, f"digest-{self.name}.json")
        if self.ref_digest is None and os.path.exists(ref_path):
            with open(ref_path) as fh:
                self.ref_digest = json.load(fh)["digest"]
        if self.ref_digest is None:
            self.ref_digest = digest
            with open(ref_path + ".tmp", "w") as fh:
                json.dump({"digest": digest}, fh)
            os.replace(ref_path + ".tmp", ref_path)
        if digest != self.ref_digest:
            return [f"output digest {digest} != {self.ref_digest} "
                    "from an earlier run of this seed and code"]
        return []


class RlisConvert(Workload):
    name = "rlis_convert"

    def generate(self):
        super().generate()
        self.rows = self.info["streets"] + self.info["trails"]

    def iteration(self, spark, tr, out, warm=False):
        return rlis_iteration(spark, tr,
                              self.warm_data if warm else self.data, out)

    def errors(self, spark, res):
        summ = rlis_summary(spark, res)
        res["summary"] = summ
        rows = res["snapshot_rows"]
        errs = rlis_errors(res, summ, rows["combined"])
        if rows["tiled"] != self.info["docs"]:
            errs.append(f"tiled {rows['tiled']} of {self.info['docs']} "
                        "documents")
        if res["cells"] <= 0:
            errs.append("tile rollup produced no cells")
        return errs + self._digest_errors(summ["digest"])

    def layer_extras(self, spark, res):
        return {"dissolve.merge_ratio": (res["summary"]["dissolved"]
                                         / res["snapshot_rows"]["combined"])}


class DocTiles(Workload):
    name = "doc_tiles"

    def generate(self):
        super().generate()
        self.rows = self.info["docs"] * DOC_MULT

    def prepare(self, spark):
        path = os.path.join(self.data, "doc_expected")
        self.expected = _cached(path, lambda tmp: doc_expected(
            spark, self.data))

    def iteration(self, spark, tr, out, warm=False):
        return doc_iteration(spark, tr, self.warm_data if warm else self.data,
                             DOC_MULT)

    def errors(self, spark, res):
        return (doc_errors(res, self.expected, self.info["streets"],
                           DOC_MULT)
                + self._digest_errors(res["digest"]))

    def layer_extras(self, spark, res):
        cands = knn_candidates(spark, self.data)
        return {"knn.cands_per_doc": cands / self.expected["docs"]}


WORKLOADS = {w.name: w for w in (RlisConvert, DocTiles)}
