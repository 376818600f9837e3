"""Chip-pipeline benchmark.

    python3 perfbench/run.py --workload chip_dense --seed 1 --seconds 10 --trace 0

Load model: a batch job in a closed loop. One driver process runs
`run_chip_pipeline` passes one after another on a `local[4]` session, with
no client threads. Inputs are generated from --seed and written to parquet
under .perfbench/ in the current directory (the repository checkout)
before timing starts.

--trace 0 prints the end-to-end metrics; --trace 1 runs the separate traced
mode, which times each layer's public call on materialised inputs inside a
span and a Spark job group, and prints the per-layer metrics. The last line
of stdout is always one JSON object: correct, attempted, failed, metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys

# first: harness puts the repository root on sys.path
from harness import (
    chip_checks, metric, pass_columns, prepare_env, read_frames, run_pass, sets_check, setup,
    shutdown_jvm,
)
from inputs import WORKLOADS, gen_tables
from procstat import RssSampler

SETUPS = 3  # set-ups per timed run; setup_s is their median
# Warm passes per timed run; pipeline_s is their median. A fixed count, not
# tied to --seconds, so that two commits are timed over the same pass
# positions in the JVM.
WARM = 2


# -- reporting -------------------------------------------------------------

def describe(name: str, unit: str, samples: list[float]) -> str:
    """Median plus the highest percentile with at least ten samples beyond
    it, and the sample count."""
    med = statistics.median(samples)
    n = len(samples)
    line = f"{name:<34} {med:12.4f} {unit:<9} median of n={n}"
    if n >= 11:
        line += f", p{100 * (n - 10) // n}={sorted(samples)[n - 11]:.4f}"
    else:
        line += " (no tail percentile: needs >= 11 samples)"
    return line


# -- timed mode (--trace 0) -----------------------------------------------

def timed_run(work: str, wl, seed: int) -> dict:
    cfg = wl.config()
    tables = gen_tables(wl, seed)
    setups = []
    # the first set-up starts the JVM; the others restart the SparkContext
    # in it (see README: a JVM launch per set-up does not fit the budget)
    spark, inp, s, _ = setup(work, wl, tables, "0")
    setups.append(s)
    cols = pass_columns(seed, wl.sample_every)
    frames = read_frames(spark, inp)
    cold = run_pass(spark, frames, cfg, cols)
    warm = [run_pass(spark, frames, cfg, cols) for _ in range(WARM)]
    # outside timing: pixels, digests, and the as-of oracle over every
    # observation against the chip table's granule sets
    errors, dig = chip_checks(wl, [cold] + warm)
    errors += sets_check(inp, wl, cold["rows"])
    for i in range(1, SETUPS):
        spark.stop()
        spark, _, s, _ = setup(work, wl, tables, str(i))
        setups.append(s)
    spark.stop()
    shutdown_jvm()

    pipe = statistics.median(p["wall"] for p in warm)
    n_chips = len(cold["rows"])
    walls = [p["wall"] for p in warm]
    report = [
        describe("setup_s", "s", setups),
        describe("first_pass_s", "s", [cold["wall"]]),
        describe("pipeline_s", "s", walls),
        describe("chips_per_s", "chips/s", [n_chips / w for w in walls]),
        describe("decoded_images_per_s", "images/s", [cold["decoded"] / w for w in walls]),
        describe("obs_per_s", "obs/s", [inp.n_obs / w for w in walls]),
    ]
    info = {
        "inputs": {"obs": inp.n_obs, "catalog_rows": len(inp.catalog), "tiles": len(inp.tiles)},
        "chips": n_chips, "decoded_images": cold["decoded"], "digest": dig,
        "warm_walls": [round(w, 4) for w in walls], "setups": [round(s, 4) for s in setups],
    }
    metrics = {
        "setup_s": metric(statistics.median(setups), "s"),
        "first_pass_s": metric(cold["wall"], "s"),
        "pipeline_s": metric(pipe, "s"),
        "chips_per_s": metric(n_chips / pipe, "chips/s"),
        "decoded_images_per_s": metric(cold["decoded"] / pipe, "images/s"),
        "obs_per_s": metric(inp.n_obs / pipe, "obs/s"),
    }
    attempted = 1 + len(warm) + SETUPS  # passes, set-ups
    return {"errors": errors, "report": report, "info": info, "metrics": metrics,
            "attempted": attempted}


# -- main ------------------------------------------------------------------

def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    # accepted for the harness contract; a run times a fixed number of
    # passes (WARM), which take about run_seconds on the baseline machine
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    wl = WORKLOADS[args.workload]

    base = os.path.join(os.getcwd(), ".perfbench")
    work = os.path.join(base, f"work-{os.getpid()}")
    prepare_env(work)
    try:
        if args.trace:
            from traced import traced_run

            with RssSampler() as rss:
                res = traced_run(work, base, wl, args.workload, args.seed, rss)
        else:
            res = timed_run(work, wl, args.seed)
    finally:
        shutdown_jvm()
        shutil.rmtree(work, ignore_errors=True)

    print(f"workload={args.workload} seed={args.seed} trace={args.trace}")
    print(json.dumps(res["info"], sort_keys=True))
    for line in res["report"]:
        print(line)
    correct = not res["errors"]
    for e in res["errors"][:50]:
        print("CHECK FAILED:", e)
    print(f"output checks: {'PASS' if correct else 'FAIL'} ({len(res['errors'])} errors)")
    print(json.dumps({"correct": correct, "attempted": res["attempted"], "failed": 0,
                      "metrics": res["metrics"]}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
