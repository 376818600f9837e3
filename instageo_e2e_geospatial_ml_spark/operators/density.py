"""Tile assignment + density (min_count) filter.

Reference semantics (instageo/data/data_pipeline.py:352-382 `get_tiles`):
assign each observation an MGRS tile id, count observations per tile, keep
only rows whose tile has >= min_count observations.

Spark design: the count-join form the reference uses (groupBy.count +
broadcast join back) and the window form are both provided; the window form
avoids a second scan, the join form avoids a full-data shuffle when the
tile dimension is tiny — at 10^12 rows the groupBy.count side aggregates
map-side to ~#tiles rows and broadcasts, so the big table is never shuffled.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.geo import mgrs_udf


def assign_tiles(obs: DataFrame, x: str = "x", y: str = "y",
                 out: str = "mgrs_tile_id") -> DataFrame:
    """Add the MGRS precision-0 tile id column (vectorized UDF)."""
    if out in obs.columns:
        return obs
    return obs.withColumn(out, mgrs_udf(F.col(x), F.col(y)))


def density_filter(
    obs: DataFrame,
    min_count: int,
    key: str = "mgrs_tile_id",
    use_window: bool = False,
    keep_counts: bool = True,
) -> DataFrame:
    """Keep rows whose `key` group has >= min_count rows.

    join form (default, mirrors reference data_pipeline.py:378-380): partial
    (map-side) aggregation → tiny per-tile counts → broadcast hash join, so
    the fact table is never shuffled. window form shuffles the full table by
    `key` — only preferable when a same-key shuffle is reused downstream.
    """
    if use_window:
        w = Window.partitionBy(key)
        out = obs.withColumn("counts", F.count(F.lit(1)).over(w))
    else:
        counts = obs.groupBy(key).agg(F.count(F.lit(1)).alias("counts"))
        out = obs.join(F.broadcast(counts), key, "left")
    out = out.filter(F.col("counts") >= F.lit(min_count))
    return out if keep_counts else out.drop("counts")
