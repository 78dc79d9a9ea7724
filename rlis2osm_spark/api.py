"""High-level API — the Spark-native equivalent of the reference's public
surface, so an rlis2osm user maps their workflow 1:1:

reference                                   | here
--------------------------------------------|----------------------------------
``rlis2osm`` CLI / ``main()``               | scripts/run_pipeline.py (spark-submit)
``expand_translate_combine(paths)``         | ``expand_translate_combine(spark, catalog)``
``WayDissolver().dissolve_ways(src, dst)``  | ``dissolve(df, fields=, exclude=)``
ogr2osm + repair_keys plugin                | ``to_osm_xml(df, out_dir)``
``StreetNameExpander(special_cases=...)``   | ``functions.expand.make_basename_udf(special_cases)``
titlecase callback plugin                   | ``functions.titlecase_port.titlecase(callback=...)``
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from rlis2osm_spark.operators.combine import combine, repair_and_filter_tags
from rlis2osm_spark.operators.dissolve import dissolve_ways as _dissolve
from rlis2osm_spark.operators.osm_sink import merge_fragments, write_osm_xml
from rlis2osm_spark.sources.catalog import Catalog


def expand_translate_combine(spark: SparkSession, catalog: Catalog) -> DataFrame:
    """EP2 (main.py:47-142): streets+bike overlay and trails branches into
    one OSM-tagged DataFrame."""
    return combine(
        catalog.load(spark, "streets"),
        catalog.load(spark, "trails"),
        catalog.load(spark, "bike_routes"),
    )


def dissolve(combined: DataFrame, fields: list[str] | None = None,
             exclude: bool = False, algorithm: str = "auto",
             max_group_rows: int = 250_000,
             approx_rows: int | None = None,
             ordered: bool = False) -> DataFrame:
    """EP3 (dissolve.py:21-49): merge connected identically-tagged ways.
    ``algorithm`` is ``"auto"`` (true connected components: tag-groups
    above ``max_group_rows`` route to the iterative CC as a skew guard,
    the rest to the fused union-find, and both feed one merge pass) or
    ``"greedy"``, which replays the reference's traversal exactly
    (byte-parity grouping on forked topologies); ``approx_rows`` (a free
    Iceberg-snapshot/parquet-footer row bound) skips the auto planning
    job when no group can exceed ``max_group_rows``; ``ordered=True``
    totally orders the output for byte-stable sink files (one extra sort
    exchange — the reference's output order is deterministic by
    construction)."""
    return _dissolve(combined, fields=fields, exclude=exclude,
                     algorithm=algorithm, max_group_rows=max_group_rows,
                     approx_rows=approx_rows, ordered=ordered)


def to_osm_xml(df: DataFrame, out_dir: str, merged: str | None = None,
               assemble_tags: bool = True):
    """EP1 stage 6 (main.py:248-257 + repair_keys.py): assemble final tags
    (rename-mangled keys are already full names; ''/null dropped) and write
    distributed WGS84 .osm fragments.  With ``merged=<path>`` also runs the
    single-artifact merge (the reference's one ``rlis.osm``) and returns
    its stats dict instead of the lazy fragment-stats DataFrame.
    ``assemble_tags=False`` skips tag assembly for frames that already
    carry the sink ``tags`` map (e.g. rlis_osm_pipeline output)."""
    sink_df = repair_and_filter_tags(df) if assemble_tags else df
    stats = write_osm_xml(sink_df, out_dir)  # eager staged write (r3)
    if merged is None:
        return stats
    rows = stats.collect()
    info = merge_fragments(out_dir, merged, expect_fragments=len(rows))
    # keep the loud-row-loss channel: surface skipped null geometries
    info["n_null_geoms"] = int(sum(r.n_null_geoms for r in rows))
    return info
