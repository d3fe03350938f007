#!/usr/bin/env python3
"""Tiny-scale self-test of the benchmark.

    python3 perfbench/selftest.py

For every workload (the two in BENCHMARK.json and the two run by hand) it
runs the benchmark twice at the tiny scale: once untraced, checking that
every end-to-end metric of BENCHMARK.json is printed and every answer
passes; once traced with one answer deliberately corrupted, checking that
every per-layer metric is printed and that the corruption is caught. It
also checks that the command fails, without a result line, in a directory
holding only BENCHMARK.json and the benchmark.
Takes a few minutes.
"""
import json
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
CHECKOUT = HERE.parent
sys.path.insert(0, str(HERE))
import run  # noqa: E402

WORKLOADS = ["osm_etl", "sql_mix", "ann_serve", "dedup_batch"]


def bench(*args, cwd=CHECKOUT):
    p = subprocess.run([sys.executable, "perfbench/run.py", "--seconds", "2", "--scale", "tiny",
                        *args], cwd=cwd, capture_output=True, text=True, timeout=600)
    last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else ""
    return p.returncode, last, p.stderr


def main():
    spec = json.load(open(CHECKOUT / "BENCHMARK.json"))
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    assert e2e == {n: u for n, u, _ in run.END_TO_END}, "BENCHMARK.json end_to_end != run.py"
    assert layer == dict(run.PER_LAYER), "BENCHMARK.json per_layer != run.py"
    failures = []

    for w in WORKLOADS:
        code, last, err = bench("--workload", w, "--seed", "7", "--trace", "0")
        res = json.loads(last) if code == 0 else {}
        extra = {n for n, _, _ in run.EXTRA_END_TO_END.get(w, [])}
        if code != 0 or set(res["metrics"]) != set(e2e) | extra or not res["correct"]:
            failures.append(f"{w} untraced: exit {code}, {last[:300]} {err[-500:]}")
        code, last, err = bench("--workload", w, "--seed", "7", "--trace", "1", "--corrupt")
        res = json.loads(last) if code == 0 else {}
        extra = {n for n, _ in run.EXTRA_PER_LAYER.get(w, [])}
        if code != 0 or set(res["metrics"]) != set(layer) | extra:
            failures.append(f"{w} traced: exit {code}, {last[:300]} {err[-500:]}")
        elif res["correct"] or res["failed"] == 0:
            failures.append(f"{w}: corrupted answer not caught: {last[:300]}")
        print(f"{w}: done", flush=True)

    bare = HERE / ".work" / "bare"
    shutil.rmtree(bare, ignore_errors=True)
    bare.mkdir(parents=True)
    shutil.copy(CHECKOUT / "BENCHMARK.json", bare)
    shutil.copytree(HERE, bare / "perfbench",
                    ignore=shutil.ignore_patterns(".work", ".runs", "target", "__pycache__"))
    code, last, _ = bench("--workload", "osm_etl", "--seed", "1", "--trace", "0", cwd=bare)
    shutil.rmtree(bare, ignore_errors=True)
    if code == 0 or last.startswith("{"):
        failures.append(f"bare directory: exit {code}, printed {last[:200]}")

    for f in failures:
        print("FAIL", f)
    print("selftest:", "FAILED" if failures else "ok")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
