#!/usr/bin/env python3
"""The graft benchmark: one command, four seeded workloads.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and this harness from source (sbt, offline) when the
sources changed, generates the workload's inputs from the seed, runs the
closed loop in one JVM (Spark local[nproc]), checks every answer, and
prints one JSON line: end-to-end metrics with --trace 0, per-layer metrics
with --trace 1. A full run record (inputs, sample counts, Spark settings,
load average, trace) is written under perfbench/.runs/.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

import numpy as np

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
import check  # noqa: E402
import gen  # noqa: E402

CHECKOUT = HERE.parent
ENGINE_SRC = CHECKOUT / "src" / "main" / "scala"
RUNS = HERE / ".runs"

SETUP_REPS = 3
# Untimed seconds of the loop between set-up and the timed loop: the first
# operations after set-up still run partly interpreted.
WARM_S = 5
MIN_OPS = 3
JVM_TIMEOUT_S = 170
HEAP = "2g"
# The whole heap is touched when the JVM starts, so peak_rss_mb is the fixed
# heap plus the native peak: how far G1 happens to spread allocation over the
# heap depends on GC pauses under load, and read 350 MB apart between runs of
# the same code. Fewer malloc arenas keep the native part steady too.
JVM_MEMORY_OPTS = ["-XX:+AlwaysPreTouch"]
MALLOC_ARENA_MAX = "2"

# (name, unit, better); the unit of throughput is work items per second,
# the work item being the workload's own (see README.md)
END_TO_END = [
    ("setup_s", "s", "lower"),
    ("op_ms_p50", "ms", "lower"),
    ("op_ms_p90", "ms", "lower"),
    ("throughput", "1/s", "higher"),
    ("ok_frac", "ratio", "higher"),
    ("peak_rss_mb", "MB", "lower"),
]

# answer-quality metrics of the workloads run by hand, printed after the above
EXTRA_END_TO_END = {"ann_serve": [("recall_at_10", "ratio", "higher")],
                    "dedup_batch": [("dedup_f1", "ratio", "higher")]}

# per-layer metrics of the workloads in BENCHMARK.json
PER_LAYER = [
    ("osm.OsmIngest.read_raw_s", "s"), ("osm.OsmIngest.shape_s", "s"),
    ("functions.Cleaners.clean_s", "s"), ("osm.OsmCsv.write_s", "s"),
    ("osm.xml_scan_tasks", "count"), ("osm.xml_bytes_read_per_input_byte", "ratio"),
    ("osm.csv_bytes_per_input_byte", "ratio"),
    ("sql.plan_ms_p50", "ms"), ("sql.exec_ms_p50", "ms"), ("sql.exec_ms_p95", "ms"),
    ("spark.jobs_per_query", "count"), ("spark.tasks_per_query", "count"),
    ("tables.rows_scanned_per_row_returned", "ratio"),
    ("codegen.compiles_per_query", "count"), ("codegen.compile_ms_per_query", "ms"),
    ("spark.shuffle_bytes_per_query", "bytes"),
    ("spark.shuffle_bytes", "bytes"), ("spark.spill_bytes", "bytes"), ("spark.gc_s", "s"),
    ("spark.core_util", "ratio"),
    ("self_s.osm", "s"), ("self_s.functions", "s"), ("self_s.operators", "s"),
    ("self_s.sql", "s"), ("self_s.harness", "s"),
]

# per-layer metrics of the workloads run by hand, printed after the above
EXTRA_PER_LAYER = {
    "ann_serve": [
        ("operators.IvfAdcIndex.build_s", "s"),
        ("operators.IvfAdcIndex.query_ms_p50", "ms"),
        ("operators.IvfAdcIndex.query_ms_p95", "ms"),
        ("spark.jobs_per_search", "count"), ("spark.tasks_per_search", "count"),
        ("ann.codes_scanned_per_result", "ratio"),
        ("operators.IvfAdcIndex.append_ms_p50", "ms"),
        ("operators.IvfAdcIndex.delete_ms_p50", "ms"),
        ("operators.IvfAdcIndex.compact_ms", "ms"), ("ann.index_bytes_per_vector", "bytes")],
    "dedup_batch": [
        ("operators.Dedup.shingle_s", "s"), ("operators.Dedup.signature_s", "s"),
        ("operators.Dedup.band_s", "s"), ("operators.Dedup.candidate_s", "s"),
        ("operators.Dedup.verify_s", "s"), ("operators.Graph.components_s", "s"),
        ("dedup.candidate_pairs", "count"), ("dedup.verify_yield", "ratio")],
}

# Input sizes and engine parameters per workload. SCALE=tiny is the
# self-test's scale.
SIZES = {
    "full": {"osm_ways": 4000, "sql_sf": 0.02, "sql_osm_ways": 500, "docs": 4000,
             "vectors": 6000},
    "tiny": {"osm_ways": 150, "sql_sf": 0.001, "sql_osm_ways": 100, "docs": 300,
             "vectors": 600},
}

# The star-schema part of the mix: scan/filter, hash aggregation, star
# join, window, and the two OSM cleaners over star columns. Every query of
# the mix is warmed once in set-up, which all 30 would make too long.
STAR_QUERIES = ["q01_scan_filter_project", "q03_agg_pricing_summary", "q07_join_star",
                "q12_window_rank", "q28_key_split", "q29_phone_norm"]

LIKE_PATTERNS = ["coffee%", "coffee%shop%", "%bar%", "de %", "%markt%", "%caf%",
                 "het %", "%brug", "pizzeria%", "%shop"]


README_FNS = ["tableCount", "distinctContributors", "nameLikeCount", "busiestPostcodes",
              "topAmenities", "valueShare"]


def readme_op(rng, fn):
    o = {"fn": fn}
    if fn == "tableCount":
        o["table"] = ["nodes", "node_tags", "ways", "way_tags"][int(rng.integers(0, 4))]
    elif fn == "nameLikeCount":
        o["pattern"] = LIKE_PATTERNS[int(rng.integers(0, len(LIKE_PATTERNS)))]
    elif fn in ("busiestPostcodes", "topAmenities"):
        o["k"] = int(rng.integers(3, 16))
    elif fn == "valueShare":
        pick = rng.choice(len(gen.AMENITIES), int(rng.integers(1, 4)), replace=False)
        o["key"], o["values"] = "amenity", sorted(gen.AMENITIES[int(p)] for p in pick)
    return o


def sql_sequence(rng, blocks=100):
    """Seeded query mix in blocks: the star queries in a seeded order
    alternating with the 6 Readme queries (seeded pattern, key or k), so
    every prefix of the sequence has the same blend."""
    ops = []
    for _ in range(blocks):
        star = [{"q": STAR_QUERIES[int(i)]} for i in rng.permutation(len(STAR_QUERIES))]
        readme = [readme_op(rng, README_FNS[int(i)]) for i in rng.permutation(len(README_FNS))]
        for q, r in zip(star, readme):
            ops += [q, r]
    return ops


def prepare(workload, seed, work, scale):
    """Generate the workload's inputs; returns (engine params, input info)."""
    size = SIZES[scale]
    if workload == "osm_etl":
        info = gen.gen_osm(seed, size["osm_ways"], str(work))
        return {"xml_path": info["xml_path"]}, info
    if workload == "sql_mix":
        star = gen.gen_star(seed, size["sql_sf"], str(work / "star"))
        osm = gen.gen_osm(seed, size["sql_osm_ways"], str(work), name="readme")
        ops = sql_sequence(gen.rng_for(seed, 5))
        # set-up warms every query shape of the mix once
        warm = sql_sequence(gen.rng_for(seed, 6), blocks=1)
        return ({"star_dir": str(work / "star"), "xml_path": osm["xml_path"],
                 "ops": ops, "warmup": warm},
                {"star": star, "osm": osm})
    if workload == "dedup_batch":
        info = gen.gen_docs(seed, size["docs"], str(work))
        return ({"docs_path": str(work / "docs.parquet"), "shingle": 3, "min_jaccard": 0.7,
                 "num_hashes": 16, "rows_per_band": 4}, info)
    if workload == "ann_serve":
        info = gen.gen_vectors(seed, size["vectors"], str(work))
        return ({"dir": str(work), "ops": json.load(open(work / "ops.json")), "k": 10,
                 "candidates": 100, "nprobe": 3, "nlist": 8, "train_rounds": 1, "m": 8,
                 "ksub": 16, "dim": gen.DIM, "pq_train_rounds": 1}, info)
    raise SystemExit(f"unknown workload {workload}")


# ---------------------------------------------------------------------------
# build
# ---------------------------------------------------------------------------

def source_stamp():
    h = hashlib.sha256()
    files = sorted(ENGINE_SRC.rglob("*.scala")) + sorted((HERE / "src").rglob("*.scala"))
    files += [HERE / "build.sbt", HERE / "project" / "build.properties"]
    for f in files:
        h.update(str(f.relative_to(CHECKOUT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def build():
    """Compile with sbt when the sources changed; returns the classpath."""
    stamp = source_stamp()
    target = HERE / "target"
    cp_file, stamp_file = target / "perfbench.classpath", target / "perfbench.stamp"
    if cp_file.exists() and stamp_file.exists() and stamp_file.read_text() == stamp:
        return cp_file.read_text().strip(), stamp
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
    repos = Path.home() / ".sbt" / "repositories"
    if repos.exists():
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"],
                       cwd=HERE, env=env, capture_output=True, text=True, timeout=800)
    lines = [ln for ln in p.stdout.splitlines() if ln.strip() and not ln.startswith("[")]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        raise SystemExit("build failed")
    target.mkdir(exist_ok=True)
    cp_file.write_text(lines[-1])
    stamp_file.write_text(stamp)
    return lines[-1], stamp


ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar"]]


def run_jvm(classpath, spec_path, out_path, log_path):
    tmp = Path(spec_path).parent / "tmp"
    tmp.mkdir(exist_ok=True)
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", *JVM_MEMORY_OPTS, *ADD_OPENS, f"-Djava.io.tmpdir={tmp}",
           "-cp", classpath, "perfbench.Main", str(spec_path), str(out_path)]
    with open(log_path, "w") as log:
        # Spark's temporary files stay inside the checkout (spark.local.dir)
        env = {k: v for k, v in os.environ.items() if k not in ("SPARK_LOCAL_DIRS", "LOCAL_DIRS")}
        env["MALLOC_ARENA_MAX"] = MALLOC_ARENA_MAX
        p = subprocess.Popen(cmd, cwd=CHECKOUT, env=env, stdout=log, stderr=subprocess.STDOUT)
        try:
            code = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise SystemExit(f"benchmark JVM timed out after {JVM_TIMEOUT_S}s (log: {log_path})")
    if code != 0:
        tail = open(log_path).read()[-3000:]
        raise SystemExit(f"benchmark JVM failed with exit code {code}:\n{tail}")
    return json.load(open(out_path))


# ---------------------------------------------------------------------------
# metrics
# ---------------------------------------------------------------------------

PRIMARY = {"osm_etl": {"etl"}, "sql_mix": {"star", "readme"}, "dedup_batch": {"keep_list"},
           "ann_serve": {"search"}}


def end_to_end(workload, record, info, bad, quality):
    ops = record["ops"]
    prim = [op["ms"] for op in ops if op["kind"] in PRIMARY[workload] and not op["warm"]]
    busy_s = sum(prim) / 1e3
    units = {"osm_etl": info.get("xml_bytes", 0) / 1e6, "sql_mix": 1,
             "dedup_batch": info.get("docs", 0),
             "ann_serve": info.get("queries_per_batch", 0)}[workload]
    values = {
        "setup_s": statistics.median(record["setup_ms"]) / 1e3,
        "op_ms_p50": float(np.percentile(prim, 50)) if prim else 0.0,
        "op_ms_p90": float(np.percentile(prim, 90)) if prim else 0.0,
        "throughput": units * len(prim) / busy_s if busy_s else 0.0,
        "ok_frac": (len(ops) - len(bad)) / len(ops) if ops else 0.0,
        "peak_rss_mb": record["peak_rss_mb"],
    }
    for name, _, _ in EXTRA_END_TO_END.get(workload, []):
        values[name] = quality
    samples = {"setup_s": len(record["setup_ms"]), "op_ms_p50": len(prim),
               "op_ms_p90": len(prim), "throughput": len(prim), "ok_frac": len(ops)}
    return values, samples


def git_commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=CHECKOUT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def loadavg():
    try:
        return [float(x) for x in open("/proc/loadavg").read().split()[:3]]
    except OSError:
        return []


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(PRIMARY))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", choices=sorted(SIZES), default="full")
    ap.add_argument("--corrupt", action="store_true",
                    help="self-test only: corrupt the first answer before checking")
    args = ap.parse_args(argv)
    if not ENGINE_SRC.is_dir():
        raise SystemExit(f"engine sources not found at {ENGINE_SRC}: run from a full checkout")

    load_start = loadavg()
    classpath, stamp = build()
    cores = len(os.sched_getaffinity(0))
    tag = f"{args.workload}-s{args.seed}-t{args.trace}"
    work = HERE / ".work" / tag
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    RUNS.mkdir(exist_ok=True)
    try:
        t0 = time.perf_counter()
        params, info = prepare(args.workload, args.seed, work, args.scale)
        gen_s = time.perf_counter() - t0
        spec = {"workload": args.workload, "work": str(work), "seconds": args.seconds,
                "warm_seconds": WARM_S if args.scale == "full" else 0, "trace": args.trace,
                "reps": SETUP_REPS, "cores": cores, "min_ops": MIN_OPS, "params": params}
        (work / "spec.json").write_text(json.dumps(spec))
        record = run_jvm(classpath, work / "spec.json", work / "record.json",
                         RUNS / f"{tag}.log")
        if args.corrupt:
            corrupt(args.workload, record)
        t1 = time.perf_counter()
        checker = getattr(check, f"check_{args.workload}")
        bad, quality, notes = checker(record, str(work), info, params)
        check_s = time.perf_counter() - t1
    finally:
        for d in work.glob("**/etl_out"):
            shutil.rmtree(d, ignore_errors=True)
    values, samples = end_to_end(args.workload, record, info, bad, quality)
    e2e = END_TO_END + EXTRA_END_TO_END.get(args.workload, [])
    units = {n: u for n, u, _ in e2e}
    result_metrics = ({n: {"value": values[n], "unit": units[n]} for n, _, _ in e2e}
                      if args.trace == 0 else
                      {n: {"value": float(record["per_layer"].get(n, 0.0)), "unit": u}
                       for n, u in PER_LAYER + EXTRA_PER_LAYER.get(args.workload, [])})
    load_end = loadavg()
    run_record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "scale": args.scale, "nproc": cores, "heap": HEAP,
        "jvm_memory_opts": JVM_MEMORY_OPTS, "malloc_arena_max": MALLOC_ARENA_MAX,
        "git_commit": git_commit(), "source_sha256": stamp,
        "spark_version": record["spark_version"], "spark_conf": record["spark_conf"],
        "loadavg_start": load_start, "loadavg_end": load_end,
        # more runnable work than cores at start: other load shared the box
        "contaminated": bool(load_start and load_start[0] > cores),
        "generation_s": gen_s, "check_s": check_s, "inputs": info,
        "end_to_end": {n: {"value": values[n], "unit": units[n],
                           "samples": samples.get(n)} for n in values},
        "per_layer": record["per_layer"], "ops_attempted": len(record["ops"]),
        "ops_failed": len(bad), "failed_ops": [record["ops"][i] | {"index": i}
                                               for i in bad[:5]],
        "checks": notes, "setup_ms": record["setup_ms"], "loop_ms": record["loop_ms"],
        "ops": [[op["kind"], op.get("q") or op.get("fn") or "", round(op["ms"], 3), op["warm"]]
                for op in record["ops"]],
        "spans": record["spans"],
    }
    if args.trace == 1:
        plain = RUNS / f"{args.workload}-s{args.seed}-t0.json"
        if plain.exists():
            base = json.load(open(plain))["end_to_end"]
            run_record["tracing_overhead"] = {
                n: values[n] - base[n]["value"] for n in values if n in base}
    (RUNS / f"{tag}.json").write_text(json.dumps(run_record, default=str))
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": not bad, "attempted": len(record["ops"]),
                      "failed": len(bad), "metrics": result_metrics}))


def corrupt(workload, record):
    """Self-test hook: change one answer the way a wrong engine would."""
    ops = record["ops"]
    if workload == "osm_etl":
        path = sorted((Path(ops[0]["out"]) / "way_tags").glob("part-*.csv"))[0]
        lines = path.read_text(encoding="utf-8").splitlines()
        path.write_text("\n".join(lines[:-1]) + "\n", encoding="utf-8")
    elif workload == "sql_mix":
        op = next(op for op in ops if op["kind"] == "readme")
        op["answer"] = [[*row[:-1], row[-1] + 1 if isinstance(row[-1], int) else row[-1] * 2]
                        for row in op["answer"]] or [[-1]]
    elif workload == "dedup_batch":
        first = next(op for op in ops if "keep" in op)
        first["keep"] = first["keep"][1:]
    elif workload == "ann_serve":
        op = next(op for op in ops if op["kind"] == "search")
        q = sorted(op["answer"])[0]
        op["answer"][q] = op["answer"][q][:-1] + [-1]


if __name__ == "__main__":
    main()
