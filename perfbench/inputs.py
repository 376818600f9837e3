"""Seeded inputs for the benchmark's workloads.

The benchmark draws observation positions, dates and labels from its own
RNG, seeded by the workload seed. Catalog rows and image pixels come from
`synth`, which is deterministic per granule / image id. Every table is
generated once per run and written to parquet by every set-up, before
any pass is timed; the pipeline only ever sees those files.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
import numpy as np
import pandas as pd

from instageo_e2e_geospatial_ml_spark import codecs, synth
from instageo_e2e_geospatial_ml_spark.mgrs import mgrs_tile_bounds
from instageo_e2e_geospatial_ml_spark.plans.pipeline import ChipPipelineConfig


@dataclass(frozen=True)
class Workload:
    n_tiles: int
    catalog_days: int
    revisit_days: int
    obs_per_tile: int
    obs_day_lo: int
    obs_day_hi: int
    image_px: int
    image_fmt: str
    cfg: dict = field(default_factory=dict)
    # one chip in `sample_every` (by a seeded hash of chip_id) has its
    # pixels collected and checked against regenerated source pixels
    sample_every: int = 50
    # every tile wants every granule, so a quarter of the tiles is exactly
    # a quarter of the decode work: the weak-scaling pair is gated on it
    equal_tiles: bool = False

    def config(self) -> ChipPipelineConfig:
        return ChipPipelineConfig(**self.cfg)


WORKLOADS = {
    # Data plane: observations dense enough over whole tiles that every
    # chip cell of every granule set is wanted, whatever the seed; the work that grows with
    # the input is slicing and chip assembly in operators.chips (PNG
    # decode is a small share). A fixed per-pass cost dominates the pass.
    "chip_dense": Workload(
        n_tiles=4,
        catalog_days=36,
        revisit_days=6,
        obs_per_tile=400,
        obs_day_lo=15,
        obs_day_hi=33,
        image_px=192,
        image_fmt="png",
        cfg=dict(
            num_steps=3, temporal_step=6, temporal_tolerance=3, chip_size=64,
            window_size=1, mask_types=("cloud", "cloud_shadow", "water"),
            masking_strategy="each",
        ),
        sample_every=25,
        equal_tiles=True,
    ),
    # Control plane: many observations, a daily catalog (every footprint
    # shared by 120 granules) and dates in a 6-day window, so granule sets
    # collapse; the work that grows with the input is the MGRS UDF, PIP
    # refine, as-of rank and validity, while extraction is light. The same
    # fixed per-pass cost dominates the pass.
    "records_heavy": Workload(
        n_tiles=8,
        catalog_days=120,
        revisit_days=1,
        obs_per_tile=600,
        obs_day_lo=100,
        obs_day_hi=106,
        image_px=64,
        image_fmt="raw",
        cfg=dict(num_steps=3, temporal_step=15, temporal_tolerance=2, chip_size=64),
        sample_every=8,
    ),
    # Toy scale for the self-test only.
    "toy": Workload(
        n_tiles=4,
        catalog_days=30,
        revisit_days=6,
        obs_per_tile=40,
        obs_day_lo=14,
        obs_day_hi=30,
        image_px=128,
        image_fmt="png",
        cfg=dict(
            num_steps=2, temporal_step=6, temporal_tolerance=3, chip_size=32,
            window_size=1, mask_types=("cloud", "cloud_shadow", "water"),
            masking_strategy="each",
        ),
        sample_every=3,
    ),
}


@dataclass
class Inputs:
    tiles: list[str]
    obs: pd.DataFrame
    catalog: pd.DataFrame
    obs_path: str
    catalog_path: str
    images_path: str
    # the first quarter of the tiles, for the weak-scaling pair
    quarter_obs_path: str | None
    quarter_images_path: str | None

    @property
    def n_obs(self) -> int:
        return len(self.obs)


def gen_observations(wl: Workload, tiles: list[str], seed: int) -> pd.DataFrame:
    """Uniform positions over each tile's bounding box, uniform dates in
    [obs_day_lo, obs_day_hi), labels 0/1. Tile i draws from its own stream,
    so any prefix of the tiles is the same sample whatever the tile count."""
    frames = []
    for i, tile in enumerate(tiles):
        rng = np.random.default_rng([seed, i])
        lon, lat = mgrs_tile_bounds(tile)
        n = wl.obs_per_tile
        days = rng.integers(wl.obs_day_lo, wl.obs_day_hi, n)
        frames.append(
            pd.DataFrame(
                {
                    "x": rng.uniform(lon.min(), lon.max(), n),
                    "y": rng.uniform(lat.min(), lat.max(), n),
                    "date": pd.to_datetime(synth.BASE_DATE) + pd.to_timedelta(days, unit="D"),
                    "label": rng.integers(0, 2, n).astype(np.int64),
                    "year": np.full(n, 2022, dtype=np.int64),
                    "tile_idx": np.full(n, i, dtype=np.int64),
                }
            )
        )
    return pd.concat(frames, ignore_index=True)


def pickable_granules(wl: Workload, catalog: pd.DataFrame) -> list[str]:
    """Granules some observation's query window can reach; images for the
    rest could never be read by the pipeline."""
    cfg = wl.config()
    days = (catalog["ts"] - pd.Timestamp(synth.BASE_DATE)).dt.days
    keep = pd.Series(False, index=catalog.index)
    for step in range(cfg.num_steps):
        back = step * cfg.temporal_step
        lo = wl.obs_day_lo - back - cfg.temporal_tolerance - 1
        hi = wl.obs_day_hi - back + cfg.temporal_tolerance
        keep |= (days >= lo) & (days <= hi)
    return sorted(catalog.loc[keep, "granule_id"])


def gen_images(granule_ids: list[str], px: int, fmt: str) -> pd.DataFrame:
    """The image table the chip pipeline reads: one row per (granule, band),
    pixels from synth.synth_pixels, Fmask as raw8. Generated on the driver:
    it is the columns of synth.gen_images_df the pipeline reads, without
    the caption and perceptual hash, which cost more than the pixels at
    these sizes and which the pipeline never reads."""
    rows = []
    for gid in granule_ids:
        for band in synth.BANDS + [synth.MASK_BAND]:
            image_id = f"{gid}:{band}"
            is_mask = band == synth.MASK_BAND
            use_fmt = "raw8" if is_mask else fmt
            px_arr = synth.synth_pixels(image_id, px, px, is_mask)
            rows.append((image_id, codecs.encode(px_arr, use_fmt), px, px, use_fmt))
    return pd.DataFrame(rows, columns=["image_id", "bytes", "w", "h", "fmt"]).astype(
        {"w": "int32", "h": "int32"}
    )


@dataclass
class Tables:
    """One workload's generated tables, before materialisation."""
    tiles: list[str]
    obs: pd.DataFrame  # with tile_idx, the index of the observation's tile
    catalog: pd.DataFrame
    images: pd.DataFrame


def gen_tables(wl: Workload, seed: int) -> Tables:
    """Generate every table of one workload on the driver."""
    tiles = synth.make_tiles(wl.n_tiles)
    catalog = synth.gen_granule_catalog_pdf(
        tiles=tiles, days=wl.catalog_days, every=wl.revisit_days
    )
    images = gen_images(pickable_granules(wl, catalog), wl.image_px, wl.image_fmt)
    return Tables(tiles, gen_observations(wl, tiles, seed), catalog, images)


def write_inputs(spark, wl: Workload, t: Tables, out_dir: str, quarter: bool = False) -> Inputs:
    """Materialise the tables to parquet with Spark. quarter=True also
    writes the first quarter of the tiles (observations and images) for
    the weak-scaling pair."""
    from pyspark.sql import functions as F

    os.makedirs(out_dir, exist_ok=True)
    paths = {k: os.path.join(out_dir, k) for k in ("obs", "catalog", "images", "obs_q", "images_q")}
    obs = t.obs.drop(columns="tile_idx")
    spark.createDataFrame(obs).coalesce(1).write.parquet(paths["obs"])
    spark.createDataFrame(t.catalog).coalesce(1).write.parquet(paths["catalog"])
    spark.createDataFrame(t.images).write.parquet(paths["images"])
    if quarter:
        n_quarter = max(1, wl.n_tiles // 4)
        q_obs = t.obs[t.obs["tile_idx"] < n_quarter].drop(columns="tile_idx")
        spark.createDataFrame(q_obs).coalesce(1).write.parquet(paths["obs_q"])
        q_tiles = [f"T{tile}" for tile in t.tiles[:n_quarter]]
        spark.read.parquet(paths["images"]).filter(
            F.split("image_id", r"\.").getItem(2).isin(q_tiles)
        ).coalesce(1).write.parquet(paths["images_q"])
    return Inputs(
        tiles=t.tiles,
        obs=obs,
        catalog=t.catalog,
        obs_path=paths["obs"],
        catalog_path=paths["catalog"],
        images_path=paths["images"],
        quarter_obs_path=paths["obs_q"] if quarter else None,
        quarter_images_path=paths["images_q"] if quarter else None,
    )
