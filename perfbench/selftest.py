"""Self-test of the benchmark at toy scale.

    python3 perfbench/selftest.py

1. Runs the toy workload in both modes and checks that every metric of
   BENCHMARK.json is printed with its unit and the output checks pass.
2. Mutation cases: a flipped chip pixel, a chip cell off by one, a wrong
   granule set in one record and a wrong granule set on one chip must each
   make the checks fail, while the unmodified outputs pass.
3. In a directory holding only BENCHMARK.json and perfbench/, the
   benchmark must exit non-zero without printing a result.

Exits non-zero on the first failed case.
"""

from __future__ import annotations

import copy
import json
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)


def _fail(msg: str) -> None:
    print("SELFTEST FAILED:", msg)
    sys.exit(1)


def _run(cwd: str, trace: int) -> tuple[int, list[str]]:
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "toy", "--seed", "3",
         "--seconds", "1", "--trace", str(trace)],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )
    return out.returncode, out.stdout.strip().splitlines()


def check_metric_names() -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    for trace, key in ((0, "end_to_end"), (1, "per_layer")):
        rc, lines = _run(ROOT, trace)
        if rc != 0 or not lines:
            _fail(f"toy run --trace {trace} exited {rc}:\n" + "\n".join(lines[-20:]))
        res = json.loads(lines[-1])
        if set(res) != {"correct", "attempted", "failed", "metrics"} or not res["correct"]:
            _fail(f"toy run --trace {trace}: bad result {lines[-1][:300]}")
        want = {m["name"]: m["unit"] for m in bench[key]}
        got = {k: v["unit"] for k, v in res["metrics"].items()}
        if got != want:
            diff = sorted(set(want.items()) ^ set(got.items()))
            _fail(f"--trace {trace} metrics differ from BENCHMARK.json {key}: {diff}")
        text = "\n".join(lines[:-1])
        unprinted = [n for n in want if n not in text]
        if unprinted:
            _fail(f"--trace {trace}: not printed by name: {unprinted}")
        print(f"ok: --trace {trace} prints all {len(want)} {key} metrics with units")


def check_mutations() -> None:
    import harness
    from inputs import WORKLOADS, gen_tables

    wl = WORKLOADS["toy"]
    seed = 3
    work = tempfile.mkdtemp(prefix="selftest-", dir=os.path.join(ROOT, ".perfbench"))
    harness.prepare_env(work)
    try:
        spark, inp, _, _ = harness.setup(work, wl, gen_tables(wl, seed), "m")
        cols = harness.pass_columns(seed, wl.sample_every)
        p = harness.run_pass(spark, harness.read_frames(spark, inp), wl.config(), cols)
        recs = harness.sampled_records(spark, inp, wl, seed)
        spark.stop()
        harness.shutdown_jvm()

        errors, _ = harness.chip_checks(wl, [p, p])
        errors += harness.records_check(inp, wl, seed, recs)
        errors += harness.sets_check(inp, wl, p["rows"])
        if errors:
            _fail(f"unmodified outputs fail the checks: {errors[:5]}")
        print("ok: unmodified outputs pass")

        def mutated(fn):
            q = copy.deepcopy(p)
            target = next(r for r in q["rows"] if r["chip"] is not None)
            fn(target)
            return harness.chip_checks(wl, [q])[0]

        def flip_pixel(r):
            import numpy as np

            a = np.frombuffer(r["chip"], dtype="<u2").copy()
            i = int(np.flatnonzero(a)[0])
            a[i] ^= 1
            r["chip"] = a.tobytes()

        def shift_cell(r):
            r["cx"] = r["cx"] + 1 if r["cx"] == 0 else r["cx"] - 1

        for name, fn in (("flipped pixel", flip_pixel), ("cell off by one", shift_cell)):
            if not mutated(fn):
                _fail(f"mutation '{name}' passed the chip checks")
            print(f"ok: mutation '{name}' fails the chip checks")

        errs = harness.records_check(inp, wl, seed, [
            {**r, "stac_items_str": r["stac_items_str"][::-1]} for r in recs
        ])
        if not errs:
            _fail("mutation 'wrong granule set' passed the records check")
        print("ok: mutation 'wrong granule set' fails the records check")

        rows = copy.deepcopy(p["rows"])
        rows[0]["stac_items_str"] = "_".join(reversed(rows[0]["stac_items_str"].split("_")))
        if not harness.sets_check(inp, wl, rows):
            _fail("mutation 'wrong granule set on a chip' passed the granule-set check")
        print("ok: mutation 'wrong granule set on a chip' fails the granule-set check")
    finally:
        shutil.rmtree(work, ignore_errors=True)


def check_bare_directory() -> None:
    with tempfile.TemporaryDirectory(dir=os.path.join(ROOT, ".perfbench")) as bare:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        out = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", "chip_dense", "--seed", "1",
             "--seconds", "10", "--trace", "0"],
            cwd=bare, capture_output=True, text=True, timeout=180,
            env={k: v for k, v in os.environ.items() if k != "PYTHONPATH"},
        )
        last = out.stdout.strip().splitlines()[-1:] if out.stdout.strip() else []
        if out.returncode == 0 or any(line.startswith("{") for line in last):
            _fail(f"bare directory: exit {out.returncode}, stdout tail {last}")
    print("ok: bare directory exits non-zero without a result")


if __name__ == "__main__":
    os.makedirs(os.path.join(ROOT, ".perfbench"), exist_ok=True)
    check_bare_directory()
    check_mutations()
    check_metric_names()
    print("selftest: PASS")
