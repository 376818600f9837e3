"""Traced mode (--trace 1): per-layer metrics.

Each layer's input is first materialised to parquet, so each public call
of a pipeline module is timed alone, inside a span that is also its Spark
job group. The event log, on for this session only, gives each group's
task time, shuffle, spill and failed tasks. The run also makes an untraced
warm pass in the same session, so the tracing overhead and the layer sum
can be set against it, and ends with the weak-scaling pair at local[1].
"""

from __future__ import annotations

import glob
import os
import statistics
import uuid

import numpy as np
from pyspark.sql import functions as F

from instageo_e2e_geospatial_ml_spark import codecs
from instageo_e2e_geospatial_ml_spark.mgrs import latlon_to_utm, mgrs_tile_utm_square
from instageo_e2e_geospatial_ml_spark.operators.asof import asof_pick, granule_sequence
from instageo_e2e_geospatial_ml_spark.operators.chips import extract_chips
from instageo_e2e_geospatial_ml_spark.operators.dates import (
    expand_temporal_steps,
    normalize_dates,
)
from instageo_e2e_geospatial_ml_spark.operators.density import assign_tiles, density_filter
from instageo_e2e_geospatial_ml_spark.operators.spatial_join import footprint_key, pip_join
from instageo_e2e_geospatial_ml_spark.operators.validity import validity_filter
from instageo_e2e_geospatial_ml_spark.plans.pipeline import build_records
from instageo_e2e_geospatial_ml_spark.sources.checkpoint import CheckpointTable

import harness
from inputs import gen_tables
from tracing import Tracer, event_log_conf, group_stats

# layers whose spans add up to one pipeline pass
PASS_LAYERS = ("density", "spatial_join", "asof", "validity", "chips")
# layers reported with their Spark job-group numbers
SPARK_LAYERS = ("density", "spatial_join", "asof", "validity", "pipeline", "chips", "checkpoint")
FLOOR_SAMPLES = 5
WEAK_RATIO, WEAK_TOL = 4.0, 0.2


def _cells(records: list[dict], wl) -> int:
    """Distinct in-range (granule set, chip cell) pairs of the records:
    the cells extract_chips works on."""
    cfg = wl.config()
    n = wl.image_px // cfg.chip_size
    seen = set()
    by_tile: dict[str, list[dict]] = {}
    for r in records:
        by_tile.setdefault(r["granules"][0].split(".")[2][1:], []).append(r)
    for tile, rs in by_tile.items():
        zone, _south, e0, n0 = mgrs_tile_utm_square(tile)
        ys = np.array([r["y"] for r in rs])
        xs = np.array([r["x"] for r in rs])
        ee, nn, _ = latlon_to_utm(ys, xs, np.full(len(rs), zone))
        cx = np.floor((ee - e0) / (1e5 / wl.image_px)).astype(np.int64) // cfg.chip_size
        cy = np.floor((nn - n0 - 1e5) / (-1e5 / wl.image_px)).astype(np.int64) // cfg.chip_size
        for r, a, b in zip(rs, cx, cy):
            if 0 <= a < n and 0 <= b < n:
                seen.add((r["stac_items_str"], int(a), int(b)))
    return len(seen)


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(p) for p in glob.glob(os.path.join(path, "**", "*.parquet"),
                                                     recursive=True))


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _layers(spark, tr: Tracer, inp, wl, work: str) -> tuple[dict, list[dict]]:
    cfg = wl.config()
    L = os.path.join(work, "layers")
    path = lambda name: os.path.join(L, name)  # noqa: E731
    obs = spark.read.parquet(inp.obs_path)
    catalog = spark.read.parquet(inp.catalog_path)
    images = spark.read.parquet(inp.images_path)
    m: dict[str, float] = {}

    with tr.span("density"):
        o = normalize_dates(obs, shift_to_month_start=cfg.shift_to_month_start)
        o = assign_tiles(o)
        o = density_filter(o, cfg.min_count, keep_counts=False)
        o.withColumn("obs_id", F.monotonically_increasing_id()).write.parquet(path("prep"))
    prep = spark.read.parquet(path("prep"))
    m["density.rows_in"] = inp.n_obs
    m["density.rows_out"] = prep.count()

    with tr.span("spatial_join"):
        pip_join(prep, catalog, expand_granules=False).write.parquet(path("fp"))
    fp = spark.read.parquet(path("fp"))
    m["spatial_join.matches"] = fp.count()
    m["spatial_join.matches_per_obs"] = m["spatial_join.matches"] / m["density.rows_out"]

    with tr.span("asof"):
        steps = expand_temporal_steps(
            prep, num_steps=cfg.num_steps, temporal_step=cfg.temporal_step
        ).select("obs_id", "step", "query_date")
        granules = footprint_key(catalog).select("_fp_id", "granule_id", "ts", "cloud_cover")
        picked = asof_pick(
            steps, fp, granules, tolerance_days=cfg.temporal_tolerance, obs_id="obs_id",
            keep_unmatched=False, align_partitioning=True, join_key="_fp_id",
            broadcast_granules=True,
        )
        granule_sequence(picked).write.parquet(path("seq"))
    seq = spark.read.parquet(path("seq"))
    n_seq = seq.count()
    m["asof.step_rows"] = m["density.rows_out"] * cfg.num_steps
    m["asof.picked_rows"] = seq.select(F.sum(F.size("granules"))).first()[0] or 0
    m["asof.hit_ratio"] = m["asof.picked_rows"] / m["asof.step_rows"]

    with tr.span("validity"):
        validity_filter(prep.join(seq, "obs_id", "inner"), num_steps=cfg.num_steps).write.parquet(
            path("valid")
        )
    m["validity.kept_ratio"] = spark.read.parquet(path("valid")).count() / max(n_seq, 1)

    spark.catalog.clearCache()  # build_records persists its prepared observations
    with tr.span("pipeline"):
        build_records(obs, catalog, cfg).write.parquet(path("records"))
    records = spark.read.parquet(path("records"))
    rec_rows = [r.asDict() for r in
                records.select("x", "y", "date", "granules", "stac_items_str").collect()]
    m["pipeline.records"] = len(rec_rows)
    m["pipeline.granule_sets"] = len({r["stac_items_str"] for r in rec_rows})

    acc = spark.sparkContext.accumulator(0)
    with tr.span("chips"):
        extract_chips(
            records.select("stac_items_str", "granules", "x", "y", "date", "label"), images,
            chip_size=cfg.chip_size, window_size=cfg.window_size, mask_types=cfg.mask_types,
            masking_strategy=cfg.masking_strategy, task_type=cfg.task_type,
            band_order=cfg.band_order, n_salt=cfg.n_salt, decode_counter=acc,
        ).write.parquet(path("chips"))
    chips = spark.read.parquet(path("chips"))
    m["chips.cells"] = _cells(rec_rows, wl)
    m["chips.chips_out"] = chips.count()
    m["chips.chip_yield"] = m["chips.chips_out"] / max(m["chips.cells"], 1)
    m["chips.images_decoded"] = acc.value
    m["chips.decoded_per_chip"] = acc.value / max(m["chips.chips_out"], 1)

    # codecs: the payloads the pass decoded, decoded again single-process
    used = sorted({g for r in rec_rows for g in r["granules"]})
    bands = list(cfg.band_order) + ["Fmask"]
    payloads = (
        images.withColumn("_g", F.split("image_id", ":").getItem(0))
        .withColumn("_b", F.split("image_id", ":").getItem(1))
        .filter(F.col("_g").isin(used) & F.col("_b").isin(bands))
        .select("bytes", "w", "h", "fmt").collect()
    )
    with tr.span("codecs"):
        for p in payloads:
            codecs.decode(bytes(p["bytes"]), p["w"], p["h"], 1, p["fmt"])
    decode_s = tr.seconds("codecs")
    m["codecs.decode_mb_s"] = sum(len(p["bytes"]) for p in payloads) / 1e6 / decode_s
    m["codecs.decode_ms_per_image"] = 1e3 * decode_s / max(len(payloads), 1)

    # checkpoint: the chips in two batches of whole tiles, each appended;
    # then the resume filter over all records and a read-back
    tiles = sorted(r[0] for r in chips.select("tile_key").distinct().collect())
    half = sorted(tiles[: len(tiles) // 2])
    batches = [chips.filter(F.col("tile_key").isin(half)),
               chips.filter(~F.col("tile_key").isin(half))]
    ck = CheckpointTable(spark, path("ckpt"), key="stac_items_str", partition_by="tile_key")
    appends = []
    for i, b in enumerate(batches):
        with tr.span(f"checkpoint.append{i}"):
            ck.append(b, metrics_cols=["valid_px", "n_label_px"])
        appends.append(tr.spans[-1].seconds)
    with tr.span("checkpoint.filter"):
        _noop(ck.filter_uncommitted(records))
    with tr.span("checkpoint.read"):
        _noop(ck.read())
    m["checkpoint.append_s"] = statistics.median(appends)
    m["checkpoint.append_growth"] = appends[-1] / appends[0]
    m["checkpoint.filter_s"] = tr.seconds("checkpoint.filter")
    m["checkpoint.read_s"] = tr.seconds("checkpoint.read")
    m["checkpoint.log_entries"] = len(ck.committed_snapshot_ids())
    payload = chips.select(F.sum(F.length("chip") + F.length("seg"))).first()[0]
    m["checkpoint.bytes_per_chip_byte"] = _dir_bytes(ck.data_path) / payload
    return m, rec_rows


def traced_run(work: str, base: str, wl, workload: str, seed: int, rss) -> dict:
    cfg = wl.config()
    log_dir = os.path.join(work, "eventlog")
    os.makedirs(log_dir, exist_ok=True)
    spark, inp, _, start_s = harness.setup(
        work, wl, gen_tables(wl, seed), "0", quarter=True, extra=event_log_conf(log_dir)
    )
    floors = [harness.floor_job(spark) for _ in range(FLOOR_SAMPLES)]
    floor = statistics.median(floors)
    cols = harness.pass_columns(seed, wl.sample_every)
    frames = harness.read_frames(spark, inp)
    cold = harness.run_pass(spark, frames, cfg, cols)

    run_id = uuid.uuid4().hex[:12]
    tr = Tracer(spark, run_id)
    spark.catalog.clearCache()  # nothing the cold pass cached serves the layers
    with tr.span("layers"):
        m, rec_rows = _layers(spark, tr, inp, wl, work)
    # the untraced and traced passes run back to back, both warm
    untraced = harness.run_pass(spark, frames, cfg, cols)
    with tr.span("pass"):
        traced = harness.run_pass(spark, frames, cfg, cols)
    m["spark.cached_tables"] = len(spark.sparkContext._jsc.getPersistentRDDs())
    spark.stop()
    stats = group_stats(log_dir)

    # weak-scaling pair: a quarter of the tiles on one core, against the
    # untraced warm pass over all tiles on four
    spark = harness.start_session(work, master="local[1]")
    q_frames = harness.read_frames(spark, inp, quarter=True)
    _noop(assign_tiles(q_frames[0]))  # new session: start the Python worker
    quarter = harness.run_pass(spark, q_frames, cfg, harness.pass_columns(seed, wl.sample_every))
    spark.stop()
    harness.shutdown_jvm()

    errors, _ = harness.chip_checks(wl, [cold, untraced, traced])
    errors += harness.records_check(inp, wl, seed, rec_rows)
    errors += harness.sets_check(inp, wl, untraced["rows"])
    if m["chips.chips_out"] != len(traced["rows"]):
        errors.append(f"extract_chips gave {m['chips.chips_out']} chips, "
                      f"the pass {len(traced['rows'])}")
    ratio = untraced["decoded"] / max(quarter["decoded"], 1)
    if wl.equal_tiles and abs(ratio - WEAK_RATIO) > WEAK_TOL:
        errors.append(f"weak scaling: decoded-image ratio {ratio:.3f}, needs "
                      f"{WEAK_RATIO} +- {WEAK_TOL}")

    m["session.start_s"] = start_s
    m["session.floor_s"] = floor
    m["density.prepare_s"] = tr.seconds("density")
    m["spatial_join.pip_s"] = tr.seconds("spatial_join")
    m["asof.pick_s"] = tr.seconds("asof")
    m["validity.filter_s"] = tr.seconds("validity")
    m["pipeline.records_s"] = tr.seconds("pipeline")
    m["chips.extract_s"] = tr.seconds("chips")
    for layer in SPARK_LAYERS:
        groups = [g for g in stats if g == layer or g.startswith(layer + ".")]
        wall = sum(tr.seconds(g) for g in groups)
        agg = {k: sum(stats[g][k] for g in groups) for k in
               ("task_s", "shuffle_mb", "spill_mb", "failed_tasks")}
        for k, v in agg.items():
            m[f"{layer}.{k}"] = v
        m[f"{layer}.core_util"] = agg["task_s"] / (wall * harness.CORES)
        m[f"{layer}.net_s"] = wall - floor * len(groups)
    m["codecs.decode_share"] = (
        m["codecs.decode_ms_per_image"] / 1e3 * m["chips.images_decoded"] / m["chips.task_s"]
    )
    layer_sum = sum(tr.seconds(name) for name in PASS_LAYERS)
    m["trace.pass_s"] = traced["wall"]
    m["trace.untraced_pass_s"] = untraced["wall"]
    m["trace.overhead_s"] = traced["wall"] - untraced["wall"]
    m["trace.layer_sum_ratio"] = layer_sum / untraced["wall"]
    m["trace.layer_sum_net_ratio"] = (
        (layer_sum - len(PASS_LAYERS) * floor) / (untraced["wall"] - floor)
    )
    # work-normalised: equal to wall(1 core, N) / wall(4 cores, 4N) when the
    # decode ratio is exactly 4, and comparable across workloads when not
    m["scaling.weak_eff"] = quarter["wall"] / untraced["wall"] * ratio / WEAK_RATIO
    m["scaling.decoded_ratio"] = ratio

    os.makedirs(base, exist_ok=True)
    tr.write(os.path.join(base, f"spans-{workload}-{seed}-{run_id}.json"))
    m["run.peak_rss_mb"] = rss.peak_mb  # the JVM has exited: the peak is final
    if set(m) != set(UNITS):
        raise RuntimeError(f"per-layer metrics and units disagree: {sorted(set(m) ^ set(UNITS))}")
    report = [f"{k:<36} {m[k]:14.4f} {UNITS[k]}" for k in sorted(m)]
    info = {"run_id": run_id, "floor_samples": [round(f, 4) for f in floors],
            "cold_pass_s": round(cold["wall"], 4), "quarter_pass_s": round(quarter["wall"], 4)}
    return {"errors": errors, "report": report, "info": info,
            "metrics": {k: harness.metric(m[k], UNITS[k]) for k in sorted(m)},
            "attempted": 1 + 4 + 11}  # set-up, passes, layer calls


_COUNTS = ("density.rows_in", "density.rows_out", "spatial_join.matches", "asof.step_rows",
           "asof.picked_rows", "pipeline.records", "pipeline.granule_sets", "chips.cells",
           "chips.chips_out", "chips.images_decoded", "checkpoint.log_entries",
           "spark.cached_tables")
_SECONDS = ("session.start_s", "session.floor_s", "density.prepare_s", "spatial_join.pip_s",
            "asof.pick_s", "validity.filter_s", "pipeline.records_s", "chips.extract_s",
            "checkpoint.append_s", "checkpoint.filter_s",
            "checkpoint.read_s", "trace.pass_s", "trace.untraced_pass_s", "trace.overhead_s")
_RATIOS = ("spatial_join.matches_per_obs", "asof.hit_ratio", "validity.kept_ratio",
           "chips.chip_yield", "chips.decoded_per_chip", "codecs.decode_share",
           "checkpoint.append_growth", "checkpoint.bytes_per_chip_byte",
           "trace.layer_sum_ratio", "trace.layer_sum_net_ratio", "scaling.weak_eff",
           "scaling.decoded_ratio")
UNITS = {
    **{k: "count" for k in _COUNTS},
    **{k: "s" for k in _SECONDS},
    **{k: "ratio" for k in _RATIOS},
    "codecs.decode_mb_s": "MB/s",
    "codecs.decode_ms_per_image": "ms",
    "run.peak_rss_mb": "MB",
    **{f"{layer}.{k}": u for layer in SPARK_LAYERS for k, u in (
        ("task_s", "s"), ("core_util", "ratio"), ("shuffle_mb", "MB"), ("spill_mb", "MB"),
        ("failed_tasks", "count"), ("net_s", "s"))},
}
