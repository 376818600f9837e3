"""Session, pass and check helpers shared by the timed and traced modes.

Importing this module puts the repository root on sys.path and imports
the pipeline package, so the benchmark fails at once outside a checkout.
"""

from __future__ import annotations

import os
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
os.environ["TZ"] = "UTC"
time.tzset()

from instageo_e2e_geospatial_ml_spark.plans.pipeline import (  # noqa: E402
    build_records,
    run_chip_pipeline,
)

import checks  # noqa: E402
from inputs import Inputs, Tables, write_inputs  # noqa: E402

CORES = 4
MASTER = f"local[{CORES}]"
ORACLE_SAMPLE = 40  # observations recomputed by the as-of oracle
DRIVER_MEM = "2g"


# -- session ---------------------------------------------------------------

def prepare_env(work: str) -> None:
    """Environment for the JVM and Python workers started after this."""
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # Spark, its Python workers and tempfile all write under the checkout
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    # a 2 GB driver heap: the program's 8 GB default lets the JVM alone
    # grow past 5 GB on inputs this size
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM


def start_session(work: str, master: str = MASTER, extra: dict | None = None):
    from instageo_e2e_geospatial_ml_spark.session import get_spark

    tmp = os.path.join(work, "tmp")  # made by prepare_env
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": tmp,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # no hsperfdata file: HotSpot writes it to /tmp whatever the tmpdir
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    conf.update(extra or {})
    return get_spark(master=master, extra_conf=conf)


def floor_job(spark) -> float:
    """Wall time of a trivial one-stage job: the fixed cost every Spark
    job pays, whatever it computes."""
    t = time.perf_counter()
    spark.range(0, CORES, 1, CORES).write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t


def shutdown_jvm() -> None:
    """Stop the active SparkContext, if any, then the gateway JVM, and wait
    for it; the JVM exits on stdin EOF. Safe to call twice."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def setup(work: str, wl, tables: Tables, tag: str, quarter: bool = False,
          extra: dict | None = None):
    """One set-up: session start, warm-up job, and materialisation of the
    generated tables to parquet. Returns (spark, inputs, seconds,
    session_start_s)."""
    t0 = time.perf_counter()
    spark = start_session(work, extra=extra)
    t_session = time.perf_counter() - t0
    floor_job(spark)
    inp = write_inputs(spark, wl, tables, os.path.join(work, f"inputs-{tag}"), quarter=quarter)
    return spark, inp, time.perf_counter() - t0, t_session


# -- one pass --------------------------------------------------------------

def pass_columns(seed: int, sample_every: int):
    """Columns that force the whole chip table (every chip and seg byte is
    hashed) and carry the pixels of a seeded sample of chips."""
    from pyspark.sql import functions as F

    sampled = F.pmod(F.xxhash64("chip_id", F.lit(seed)), F.lit(sample_every)) == 0
    return [
        "chip_id", "stac_items_str", "cx", "cy",
        F.md5("chip").alias("chip_md5"),
        F.md5("seg").alias("seg_md5"),
        F.when(sampled, F.col("chip")).alias("chip"),
    ]


def run_pass(spark, frames, cfg, cols) -> dict:
    obs, catalog, images = frames
    # every pass does the whole job: nothing an earlier call cached (such
    # as the prepared observations build_records persists) carries over
    spark.catalog.clearCache()
    acc = spark.sparkContext.accumulator(0)
    t = time.perf_counter()
    chips = run_chip_pipeline(obs, catalog, images, cfg, decode_counter=acc)
    rows = [r.asDict() for r in chips.select(*cols).collect()]
    wall = time.perf_counter() - t
    return {"wall": wall, "rows": rows, "decoded": acc.value}


def read_frames(spark, inp: Inputs, quarter: bool = False):
    obs = inp.quarter_obs_path if quarter else inp.obs_path
    img = inp.quarter_images_path if quarter else inp.images_path
    return (spark.read.parquet(obs), spark.read.parquet(inp.catalog_path),
            spark.read.parquet(img))


# -- checks ----------------------------------------------------------------

def chip_checks(wl, passes: list[dict]) -> tuple[list[str], str | None]:
    """Digest equal across passes, unique chip ids, sampled pixels equal to
    regenerated source pixels. Returns (errors, digest)."""
    errors = []
    digests = {checks.digest(p["rows"]) for p in passes}
    if len(digests) != 1:
        errors.append(f"chip digest differs across {len(passes)} passes")
    decoded = {p["decoded"] for p in passes}
    if len(decoded) != 1:
        errors.append(f"decoded-image count differs across passes: {sorted(decoded)}")
    for p in passes:
        errors += checks.check_unique_ids(p["rows"])
    if not passes[-1]["rows"]:
        errors.append("pass emitted no chips")
    samples = [r for r in passes[-1]["rows"] if r["chip"] is not None]
    if not samples:
        errors.append("no chip fell in the pixel-check sample")
    errors += checks.check_chip_pixels(samples, wl)
    return errors, (digests.pop() if len(digests) == 1 else None)


def oracle_sample(inp: Inputs, seed: int):
    """The seeded sample of observations the as-of oracle recomputes."""
    import numpy as np

    rng = np.random.default_rng([seed, 7])
    pick = rng.choice(len(inp.obs), size=min(ORACLE_SAMPLE, len(inp.obs)), replace=False)
    return inp.obs.iloc[np.sort(pick)]


def sampled_records(spark, inp: Inputs, wl, seed: int) -> list[dict]:
    """build_records over the whole input, cut to the oracle's sample."""
    from pyspark.sql import functions as F

    xs = [float(x) for x in oracle_sample(inp, seed)["x"]]
    spark.catalog.clearCache()
    records = build_records(spark.read.parquet(inp.obs_path),
                            spark.read.parquet(inp.catalog_path), wl.config())
    return [r.asDict() for r in records.filter(F.col("x").isin(xs))
            .select("x", "y", "date", "stac_items_str").collect()]


def records_check(inp: Inputs, wl, seed: int, records_rows) -> list[str]:
    """A seeded sample of observations against the pandas as-of oracle.
    records_rows: build_records output rows (x, y, date, stac_items_str)."""
    sample = oracle_sample(inp, seed)
    keys = {(float(x), float(y)) for x, y in zip(sample["x"], sample["y"])}
    rows = [r for r in records_rows if (float(r["x"]), float(r["y"])) in keys]
    expected = checks.expected_records(sample, inp.catalog, wl.config())
    errors = checks.check_records(expected, rows)
    if not any(v is not None for v in expected.values()):
        errors.append("no sampled observation has a valid granule sequence")
    return errors


def sets_check(inp: Inputs, wl, chip_rows) -> list[str]:
    """Every observation against the pandas as-of oracle, at the level of
    granule sets: the chip table's sets must be the oracle's."""
    expected = checks.expected_sets(inp.obs, inp.catalog, wl.config())
    errors = checks.check_sets(expected, chip_rows)
    if not expected:
        errors.append("no observation has a valid granule sequence")
    return errors


def metric(value: float, unit: str) -> dict:
    return {"value": float(value), "unit": unit}
