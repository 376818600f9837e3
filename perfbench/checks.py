"""Output checks that do not reuse the code under test.

* Chip pixels: a seeded sample of chips is compared with pixels
  regenerated by `synth.synth_pixels`. Chip bytes are read with numpy
  directly, not through `codecs`, and the Fmask bit positions come from
  the HLS Fmask specification, not from `operators.chips`.
* Records: a seeded sample of observations is recomputed in pandas/numpy
  against the as-of contract (minimum cloud cover within tolerance among
  the footprints containing the point, ties by earliest ts then id), then
  the validity rule (every step matched, all granules distinct).
* Granule sets: the same contract over every observation gives the
  granule sets the chip table may hold, and those it must hold.
* Digest: the sorted (chip_id, md5(chip), md5(seg)) list must be equal
  across the passes of one run, and chip_id must be unique.

Every check returns a list of error strings; empty means it passed.
"""

from __future__ import annotations

import hashlib
from datetime import timedelta

import numpy as np
import pandas as pd

from instageo_e2e_geospatial_ml_spark.synth import synth_pixels

# HLS v2.0 Fmask bit positions (HLS user guide, table 9)
FMASK_BITS = {"cloud": 1, "near_cloud_or_shadow": 2, "cloud_shadow": 3, "water": 5}
CHIP_NODATA = 0


def digest(rows) -> str:
    lines = sorted(f"{r['chip_id']}:{r['chip_md5']}:{r['seg_md5']}" for r in rows)
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()


def check_unique_ids(rows) -> list[str]:
    ids = [r["chip_id"] for r in rows]
    dup = len(ids) - len(set(ids))
    return [f"{dup} duplicate chip_id values"] if dup else []


def check_chip_pixels(samples, wl) -> list[str]:
    """samples: dicts with chip_id, stac_items_str, cx, cy, chip (bytes).

    Every non-no-data pixel must equal the source pixel of its granule and
    band; every no-data pixel must sit on a set Fmask bit of a requested
    mask type, and (strategy 'each') every such pixel must be no-data."""
    cfg = wl.config()
    cs, px = cfg.chip_size, wl.image_px
    bands = list(cfg.band_order)
    bits = [FMASK_BITS[m] for m in cfg.mask_types]
    if cfg.mask_types and cfg.masking_strategy != "each":
        raise ValueError("pixel check implements masking_strategy='each' only")
    errors = []
    cache: dict[str, np.ndarray] = {}

    def source(image_id: str, is_mask: bool) -> np.ndarray:
        if image_id not in cache:
            cache[image_id] = synth_pixels(image_id, px, px, is_mask)[0]
        return cache[image_id]

    for s in samples:
        granules = s["stac_items_str"].split("_")
        cx, cy = int(s["cx"]), int(s["cy"])
        win = (slice(cy * cs, (cy + 1) * cs), slice(cx * cs, (cx + 1) * cs))
        chip = np.frombuffer(s["chip"], dtype="<u2")
        if chip.size != len(granules) * len(bands) * cs * cs:
            errors.append(f"{s['chip_id']}: {chip.size} values, expected "
                          f"{len(granules)}x{len(bands)}x{cs}x{cs}")
            continue
        chip = chip.reshape(len(granules) * len(bands), cs, cs)
        for t, g in enumerate(granules):
            masked = np.zeros((cs, cs), dtype=bool)
            if bits:
                fmask = source(f"{g}:Fmask", True)[win].astype(np.int64)
                for b in bits:
                    masked |= ((fmask >> b) & 1).astype(bool)
            for bi, band in enumerate(bands):
                got = chip[t * len(bands) + bi]
                src = source(f"{g}:{band}", False)[win]
                if src.shape != (cs, cs):
                    errors.append(f"{s['chip_id']}: cell ({cx},{cy}) outside a {px}px image")
                    break
                nodata = got == CHIP_NODATA
                bad_value = ~nodata & (got != src)
                bad_nodata = nodata & ~masked & (src != CHIP_NODATA)
                unmasked = masked & ~nodata
                for what, m in (("pixel differs from source", bad_value),
                                ("no-data pixel on no requested Fmask bit", bad_nodata),
                                ("masked pixel kept its value", unmasked)):
                    if m.any():
                        errors.append(f"{s['chip_id']} t={t} {band}: {int(m.sum())} x {what}")
    return errors


def _inside(px: float, py: float, xs, ys) -> bool:
    """Even-odd ray cast for one point."""
    return bool(_inside_all(np.array([px]), np.array([py]), xs, ys)[0])


def _inside_all(px: np.ndarray, py: np.ndarray, xs, ys) -> np.ndarray:
    """Even-odd ray cast for many points against one polygon."""
    inside = np.zeros(len(px), dtype=bool)
    for i in range(len(xs)):
        x1, y1, x2, y2 = xs[i - 1], ys[i - 1], xs[i], ys[i]
        if y1 == y2:
            continue  # the crossing test below never holds for this edge
        crosses = (y1 > py) != (y2 > py)
        inside ^= crosses & (px < (x2 - x1) * (py - y1) / (y2 - y1) + x1)
    return inside


def _oracle_catalog(catalog: pd.DataFrame):
    cat = catalog.copy()
    cat["cc"] = cat["cloud_cover"].fillna(100.0)
    footprints = cat.drop_duplicates("tile_id")[["tile_id", "fp_xs", "fp_ys"]]
    return cat, list(footprints.itertuples(index=False))


def _sequence(cat: pd.DataFrame, tiles, date, cfg) -> str | None:
    """The granule set of an observation at `date` inside the footprints
    of `tiles`, or None when its sequence is invalid."""
    cand = cat[cat["tile_id"].isin(tiles)]
    tol = timedelta(days=cfg.temporal_tolerance)
    seq = []
    for step in range(cfg.num_steps):
        q = pd.Timestamp(date) - timedelta(days=step * cfg.temporal_step)
        c = cand[(cand["ts"] - q).abs() <= tol]
        if c.empty:
            return None
        seq.append(c.sort_values(["cc", "ts", "granule_id"]).iloc[0]["granule_id"])
    return "_".join(seq) if len(set(seq)) == len(seq) else None


def expected_records(obs_sample: pd.DataFrame, catalog: pd.DataFrame, cfg) -> dict:
    """(x, y, date) -> expected stac_items_str, or None when the
    observation's sequence is invalid."""
    cat, footprints = _oracle_catalog(catalog)
    out = {}
    for r in obs_sample.itertuples(index=False):
        tiles = [t.tile_id for t in footprints if _inside(r.x, r.y, t.fp_xs, t.fp_ys)]
        out[(float(r.x), float(r.y), pd.Timestamp(r.date))] = _sequence(cat, tiles, r.date, cfg)
    return out


def expected_sets(obs: pd.DataFrame, catalog: pd.DataFrame, cfg) -> dict[str, int]:
    """Every observation through the as-of contract: granule set ->
    number of observations with that valid set. Observations sharing a
    date and the footprints that contain them share a set, so each such
    group is resolved once."""
    cat, footprints = _oracle_catalog(catalog)
    px, py = obs["x"].to_numpy(np.float64), obs["y"].to_numpy(np.float64)
    inside = {t.tile_id: _inside_all(px, py, t.fp_xs, t.fp_ys) for t in footprints}
    keys = pd.DataFrame({
        "tiles": ["|".join(t for t in inside if inside[t][k]) for k in range(len(obs))],
        "date": obs["date"].to_numpy(),
    })
    out: dict[str, int] = {}
    for (tiles, date), n in keys.value_counts().items():
        s = _sequence(cat, tiles.split("|") if tiles else [], date, cfg)
        if s is not None:
            out[s] = out.get(s, 0) + int(n)
    return out


def check_sets(expected: dict[str, int], chip_rows, min_obs: int = 5) -> list[str]:
    """chip_rows: pass rows with stac_items_str. Every chip's granule set
    must be one the oracle gives some observation. Every set the oracle
    gives at least `min_obs` observations must have a chip: a set loses
    its chips only when all its observations fall outside the image grid,
    which at that count does not happen on the benchmark's workloads."""
    got = {r["stac_items_str"] for r in chip_rows}
    errors = [f"chips for granule set {s}, which no observation should pick"
              for s in sorted(got - set(expected))]
    missing = sorted(s for s, n in expected.items() if n >= min_obs and s not in got)
    errors += [f"no chip for granule set {s} ({expected[s]} observations pick it)"
               for s in missing]
    return errors


def check_records(expected: dict, got_rows) -> list[str]:
    """got_rows: build_records rows (x, y, date, stac_items_str) for the
    sampled observations."""
    got = {}
    for r in got_rows:
        got.setdefault((float(r["x"]), float(r["y"]), pd.Timestamp(r["date"])), []).append(
            r["stac_items_str"]
        )
    errors = []
    for key, want in expected.items():
        have = got.get(key, [])
        if want is None and have:
            errors.append(f"obs {key}: expected invalid, pipeline kept {have}")
        elif want is not None and have != [want]:
            errors.append(f"obs {key}: expected {want}, pipeline gave {have}")
    extra = set(got) - set(expected)
    if extra:
        errors.append(f"{len(extra)} records for observations not in the sample")
    return errors
