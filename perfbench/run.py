#!/usr/bin/env python3
"""graft's benchmark: one workload, one fresh JVM, one JSON result line.

    python3 perfbench/run.py --workload corpus_session --seed 1 --seconds 10 --trace 0

Builds graft and the harness from source (sbt, once per source digest),
generates the input tiers (once), runs the harness at local[nproc],
checks every query result, writes the full record under
perfbench/.work/records/ and prints the result object as the last line
of standard output. `--trace 1` prints the per-layer metrics instead of
the end-to-end ones. Exit code 0 only when the run completed.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
sys.path.insert(0, HERE)

import gen  # noqa: E402
import metrics  # noqa: E402

WORKLOADS = ("corpus_session", "lake_refresh")
BASE_SEED = 20261017
TIERS = {"warm": 0.001, "base": 0.01, "lake": 0.01}
INCREMENT_SHARE = 0.01
MAX_CYCLES = 4
JVM_TIMEOUT_S = 170
HEAP = "3g"
JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/jdk.internal.ref", "java.base/jdk.internal.misc",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def unit_of(name):
    """Unit of a metric, by its naming convention."""
    if name.endswith(".rows_per_s"):
        return "rows/s"
    if name.endswith(("parallelism", "write_amp", "files_per_bucket")):
        return "ratio"
    for tag, unit in (("_ms", "ms"), ("_mb", "MB"), ("_s", "s")):
        if name.endswith(tag) or tag + "." in name:
            return unit
    return "count"


def source_digest():
    h = hashlib.sha256()
    files = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True) +
                   glob.glob(os.path.join(HERE, "src/main/scala/**/*.scala"), recursive=True) +
                   [os.path.join(HERE, "build.sbt"),
                    os.path.join(HERE, "project/build.properties")])
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile graft + the harness when the sources changed."""
    classes = os.path.join(HERE, "target/scala-2.13/classes")
    stamp = os.path.join(WORK, "build.stamp")
    digest = source_digest()
    if os.path.isdir(classes) and os.path.exists(stamp) and open(stamp).read() == digest:
        return classes
    os.makedirs(WORK, exist_ok=True)
    with open(os.path.join(WORK, "build.log"), "w") as log:
        rc = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile"],
                            cwd=HERE, stdout=log, stderr=subprocess.STDOUT,
                            stdin=subprocess.DEVNULL, timeout=800).returncode
    if rc != 0:
        die(f"build failed (see {os.path.relpath(WORK, ROOT)}/build.log)", 1)
    with open(stamp, "w") as f:
        f.write(digest)
    return classes


def tiers():
    """Generate the input tiers once per checkout (a pure function of
    BASE_SEED and the scales)."""
    data = os.path.join(WORK, "data")
    marker = os.path.join(data, "tiers.json")
    want = {"seed": BASE_SEED, "tiers": TIERS}
    if os.path.exists(marker) and json.load(open(marker)) == want:
        return data
    shutil.rmtree(data, ignore_errors=True)
    for name, scale in TIERS.items():
        gen.make_tier(os.path.join(data, name), scale, BASE_SEED)
    with open(marker, "w") as f:
        json.dump(want, f)
    return data


def tier_facts(data, name):
    d = os.path.join(data, name)
    return {"scale": TIERS[name], "rows": gen.rows_at(TIERS[name]),
            "bytes": sum(os.path.getsize(f) for f in glob.glob(f"{d}/*.parquet"))}


def commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def steal_s():
    """Seconds of CPU the host gave to other guests so far (Linux), or None."""
    try:
        with open("/proc/stat") as f:
            return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return None


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def run_harness(classes, args, data, run_dir, n_cores):
    spark_home = os.environ.get("SPARK_HOME")
    if not spark_home or not os.path.isdir(os.path.join(spark_home, "jars")):
        die("SPARK_HOME must name a Spark 4 distribution")
    os.makedirs(os.path.join(run_dir, "tmp"))
    out = os.path.join(run_dir, "raw.json")
    cmd = (["java", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={run_dir}/tmp",
            "-Dspark.sql.session.timeZone=UTC"] +
           [f"--add-opens={p}=ALL-UNNAMED" for p in JAVA_OPENS] +
           ["--add-exports=java.base/sun.nio.ch=ALL-UNNAMED",
            "-cp", f"{classes}:{spark_home}/jars/*", "perfbench.Harness",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--cores", str(n_cores), "--data", data, "--work", run_dir, "--out", out])
    with open(os.path.join(run_dir, "harness.log"), "w") as log:
        try:
            rc = subprocess.run(cmd, cwd=run_dir, stdout=log, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, timeout=JVM_TIMEOUT_S).returncode
        except subprocess.TimeoutExpired:
            die("harness timed out", 1)
    if rc != 0 or not os.path.exists(out):
        die(f"harness failed (rc={rc}, see {os.path.relpath(run_dir, ROOT)}/harness.log)", 1)
    with open(out) as f:
        return json.load(f)


def read_result(path):
    import pandas as pd
    return metrics.fingerprint(pd.read_parquet(path))


def check_outputs(workload, raw, run_dir):
    """Untimed correctness: [(operation, problem or None)]."""
    if workload == "lake_refresh":
        # compared in the harness: served results after the increments
        # against the same operations computed from the grown corpus
        return [(c["op"], c["problem"]) for c in raw["checks"]]
    names = sorted({q["name"] for p in raw["passes"] for q in p["queries"]})
    expected = json.load(open(os.path.join(HERE, "expected.json")))["base"]
    results = []
    for q in names:
        try:
            got = read_result(os.path.join(run_dir, "out", q))
            results.append((q, metrics.check(got, expected[q])))
        except Exception as e:  # a missing or unreadable output fails the check
            results.append((q, f"unreadable output: {e}"))
    return results


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src/main/scala/graft")):
        die("graft's sources (src/main/scala/graft) are not beside the benchmark")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        die("sbt and java must be on PATH")

    classes = build()
    data = tiers()
    n_cores = cores()
    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    increments = {}
    if args.workload == "lake_refresh":
        # the seed picks every increment's rows; the probe ("p") is the
        # check's admission probe and never lands
        for i, c in enumerate([f"c{k:02d}" for k in range(MAX_CYCLES)] + ["p"]):
            increments[c] = gen.make_increment(
                os.path.join(data, "lake"), os.path.join(run_dir, "inc", c),
                TIERS["lake"], BASE_SEED, args.seed, 99 if c == "p" else i,
                INCREMENT_SHARE)

    t0, steal0 = time.time(), steal_s()
    raw = run_harness(classes, args, data, run_dir, n_cores)
    wall, steal1 = time.time() - t0, steal_s()

    checks = check_outputs(args.workload, raw, run_dir)
    runs = [q for p in raw["passes"] for q in p["queries"]]
    ops = (len(runs) + len(checks) +
           sum(len(p.get("persist_s", {})) + len(p.get("append_s", {}))
               for p in raw["passes"]))
    # every failed operation the harness saw (query runs, persists,
    # cycles, output dumps) plus every result that failed the check
    failed = len(raw["failures"]) + sum(1 for _, why in checks if why)
    e2e = metrics.end_to_end(raw)
    layers = metrics.per_layer(raw) if args.trace else None
    shown = layers if args.trace else e2e
    storage = raw["storage"]
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "wall_s": wall, "check_s": raw["check_s"],
        "env": dict(raw["env"], nproc=n_cores,
                    host_steal_s=None if steal0 is None else steal1 - steal0,
                    block_mb_at_end=storage["block_mb"],
                    working_set_fits=storage["block_mb"] <= raw["env"]["storage_mb"]),
        "commit": commit(), "source_digest": source_digest(),
        "tiers": {t: tier_facts(data, t) for t in TIERS},
        "increments": increments,
        "query_order": {f"{p['kind']}{p['idx']}": p["order"] for p in raw["passes"]},
        "attempted": ops, "failed": failed, "failed_frac": failed / ops if ops else 0.0,
        "failures": raw["failures"] + [{"op": q, "error": why} for q, why in checks if why],
        "metrics": {k: {"value": v, "unit": unit_of(k)} for k, v in e2e.items()},
        "passes": [{k: v for k, v in p.items() if k != "order"} for p in raw["passes"]],
    }
    if layers is not None:
        record["per_layer"] = {k: {"value": v, "unit": unit_of(k)} for k, v in layers.items()}
        record["modules"] = metrics.module_layers(raw)
    rec_dir = os.path.join(WORK, "records")
    os.makedirs(rec_dir, exist_ok=True)
    stem = f"{args.workload}_seed{args.seed}_trace{args.trace}"
    with open(os.path.join(rec_dir, stem + ".json"), "w") as f:
        json.dump(record, f, indent=1, sort_keys=True)
    if args.trace:
        shutil.copy(os.path.join(run_dir, "raw.json"), os.path.join(rec_dir, stem + ".spans.json"))
    for op in record["failures"]:
        print(f"perfbench: failed {op['op']}: {op['error']}", file=sys.stderr)
    print(json.dumps({
        "correct": failed == 0, "attempted": ops, "failed": failed,
        "metrics": {k: {"value": v, "unit": unit_of(k)} for k, v in shown.items()}}))


if __name__ == "__main__":
    main()
