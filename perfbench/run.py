#!/usr/bin/env python3
"""Benchmark of the graft engine, run from the root of a checkout:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the benchmark program from source (sbt, cached under
.bench_build/ by a hash of the sources), sets the workload up in a per-run
scratch directory under .bench_build/, runs it in one JVM (Spark local[N],
N = usable cores, one closed-loop client) for a fixed number of passes that
--seconds sets, checks every result, and prints one JSON line last:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics; --trace 1 the per-layer ones
(see perfbench/README.md). Everything the run writes stays inside the
checkout; the scratch directory is removed when the run ends.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"

# Every fourth registered query in sorted name order, from the fourth: 27 of
# the 108, from all nine query modules. A whole-inventory pass takes about
# 57 s at sf0.01 (77 s at sf0.1) on 4 cores, more than one run can afford.
INVENTORY = (
    "a13_min_reduce a18_approx_distinct a3_binned_mean_pyramid "
    "a7_fixed_bin_histogram d2_minhash d6_cosine_dedup e1_knn_cosine f13_error_type "
    "f16_flow_key f4_scale_contingency j12_asof_join j3_outer_align_join "
    "j7_interval_subtract m2_frame_sample o4_topk p3_category_strata "
    "qc1_fold_penalty rg2_mrd_tf u3_except w2_block_compress w5_interval_merge "
    "x12_tfidf_topk x16_dup_spans x1_token_stats x23_atrest_resolve "
    "x5_curation_pipeline x9_chunk_pack").split()

# `pass_s` is the time of one warm pass at the seed commit on 4 cores. A run
# makes as many timed passes as whole `pass_s` fit in --seconds: a count
# fixed by the workload, so that it does not depend on the speed measured.
WORKLOADS = {
    "inventory_sf001": {
        "kind": "queries",
        "data": HERE / "data" / "sf0.01",
        "reference": HERE / "reference" / "sf0.01.json",
        "queries": INVENTORY,
        "pass_s": 11,
    },
    "vcf_roundtrip": {
        "kind": "vcf",
        "pass_s": 14,
    },
}

END_TO_END = {
    "setup_s": "s", "wall_s": "s", "op_p50_ms": "ms", "op_tail_ms": "ms",
    "input_mb_per_s": "MB/s",
}

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
HEAP = "4g"
JVM_TIMEOUT_S = 170


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def cores():
    return len(os.sched_getaffinity(0))


def source_stamp():
    """Hash of everything the build reads from the checkout."""
    files = [ROOT / "build.sbt", HERE / "build.sbt"]
    for d in (ROOT / "project", HERE / "project"):
        files += sorted(p for p in d.glob("*") if p.suffix in (".sbt", ".properties", ".scala"))
    for d in (ROOT / "src" / "main", HERE / "src"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    h = hashlib.sha256()
    for p in files:
        if p.is_file():
            h.update(str(p.relative_to(ROOT)).encode())
            h.update(p.read_bytes())
    return h.hexdigest()


def classpath():
    """Runtime classpath of the benchmark program, building it if stale."""
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala").is_dir():
        sys.exit(f"perfbench: no engine sources at {ROOT} (build.sbt, src/main/scala)")
    BUILD.mkdir(exist_ok=True)
    stamp, cp_file = source_stamp(), BUILD / "classpath.txt"
    if cp_file.is_file() and (BUILD / "stamp").is_file() and (BUILD / "stamp").read_text() == stamp:
        return cp_file.read_text()
    log("building engine and benchmark (sbt)")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = Path.home() / ".sbt" / "repositories"
        if repos.is_file():  # the resolvers the dependency cache was filled from
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    with open(BUILD / "build.log", "w") as out:
        r = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
            timeout=850)
    lines = (BUILD / "build.log").read_text().splitlines()
    if r.returncode != 0 or not lines:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        sys.exit(f"perfbench: build failed (see {BUILD / 'build.log'})")
    cp = lines[-1].strip()
    cp_file.write_text(cp)
    (BUILD / "stamp").write_text(stamp)
    return cp


def java():
    home = os.environ.get("JAVA_HOME")
    if home and (Path(home) / "bin" / "java").is_file():
        return str(Path(home) / "bin" / "java")
    return shutil.which("java") or sys.exit("perfbench: no java on PATH")


def run_jvm(cp, work, args):
    """Runs perfbench.Main with `args`; returns its exit code."""
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    cmd = [java()]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work / 'tmp'}",
            f"-Dspark.sql.warehouse.dir={work / 'warehouse'}", "-Dspark.ui.enabled=false",
            "-cp", cp, "perfbench.Main"] + [str(a) for a in args]
    env = dict(os.environ, GRAFT_ATREST_DIR=str(work / "atrest"),
               SPARK_LOCAL_DIRS=str(work / "spark-local"))
    with open(work / "jvm.log", "w") as out:
        try:
            return subprocess.run(cmd, env=env, stdout=out, stderr=subprocess.STDOUT,
                                  stdin=subprocess.DEVNULL, timeout=JVM_TIMEOUT_S).returncode
        except subprocess.TimeoutExpired:
            log(f"benchmark JVM timed out after {JVM_TIMEOUT_S} s")
            return -1


def measure(conf, seed, seconds, trace, spans=None):
    """One run of a workload; returns the JVM's raw record."""
    cp = classpath()
    work = BUILD / f"run-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    # a traced run needs its four-pass pattern (see Main.run)
    passes = max(4 if trace else 1, seconds // conf["pass_s"])
    try:
        out = work / "record.json"
        args = ["--mode", "run", "--kind", conf["kind"], "--seed", seed, "--passes", passes,
                "--trace", trace, "--cpus", cores(), "--work", work, "--out", out]
        if spans:
            args += ["--spans", spans]
        if conf["kind"] == "queries":
            args += ["--data", conf["data"], "--reference", conf["reference"],
                     "--queries", ",".join(conf["queries"])]
        code = run_jvm(cp, work, args)
        if code != 0 or not out.is_file():
            sys.stderr.write("".join(open(work / "jvm.log").readlines()[-40:]))
            sys.exit(f"perfbench: benchmark JVM exited with {code}")
        return json.loads(out.read_text())
    finally:
        shutil.rmtree(work, ignore_errors=True)


def harrell_davis(values, p, steps=32):
    """Harrell-Davis estimate of the p-quantile: a Beta-weighted mean of all
    order statistics. The operations of a pass differ in cost, so the plain
    order statistic jumps between neighbouring operations from run to run;
    this estimate moves smoothly."""
    s = sorted(values)
    n = len(s)
    a, b = p * (n + 1), (1 - p) * (n + 1)
    ln_beta = math.lgamma(a) + math.lgamma(b) - math.lgamma(a + b)

    def pdf(t):
        return math.exp((a - 1) * math.log(t) + (b - 1) * math.log(1 - t) - ln_beta) if 0 < t < 1 else 0.0

    h = 1 / n / steps
    total = 0.0
    for i, x in enumerate(s):  # Simpson's rule on [i/n, (i+1)/n]
        lo = i / n
        w = pdf(lo) + pdf(lo + 1 / n) + sum((4 if j % 2 else 2) * pdf(lo + j * h) for j in range(1, steps))
        total += x * w * h / 3
    return total


def tail(values):
    """The highest percentile with at least ten samples beyond it, i.e. the
    (n-10)-th of n order statistics, estimated at p = (n-10)/(n+1):
    (value, percentile, n)."""
    n = len(values)
    p = (n - 10) / (n + 1)
    return harrell_davis(values, p), 100.0 * p, n


def end_to_end(rec):
    passes = [p for p in rec["passes"] if not p["traced"]]
    per_op = {}
    for p in passes:
        for o in p["ops"]:
            per_op.setdefault(o["name"], []).append(o["ms"])
    op_ms = [statistics.median(v) for v in per_op.values()]
    tail_ms, pct, n = tail(op_ms)
    whole = [o for p in passes for o in p["ops"] if o["input_bytes"] > 0]
    log(f"{len(passes)} pass(es); op_tail_ms is p{pct:.0f} of {n} per-operation medians")
    values = {
        "setup_s": statistics.median(rec["setup_s"]),
        "wall_s": statistics.median(p["wall_s"] for p in passes),
        "op_p50_ms": harrell_davis(op_ms, 0.5),
        "op_tail_ms": tail_ms,
        # fixed work: the inputs the whole-input operations consume, over
        # their time
        "input_mb_per_s": sum(o["input_bytes"] for o in whole) / 1e6
                          / (sum(o["ms"] for o in whole) / 1e3),
    }
    return {k: {"value": v, "unit": END_TO_END[k]} for k, v in values.items()}


def unit(name):
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes") or name.endswith(".bytes") or name.endswith("bytes_read"):
        return "bytes"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_frac"):
        return "fraction"
    return "count"


def per_layer(rec):
    traced = [p for p in rec["passes"] if p["traced"]]
    plain = [p for p in rec["passes"] if not p["traced"]]
    out = {k: {"value": statistics.median(p["layers"][k] for p in traced), "unit": unit(k)}
           for k in sorted(traced[0]["layers"])}
    overhead = (statistics.median(p["wall_s"] for p in traced)
                - statistics.median(p["wall_s"] for p in plain))
    out["trace.overhead_s"] = {"value": overhead, "unit": "s"}
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    conf = WORKLOADS[a.workload]
    spans = BUILD / f"spans-{a.workload}-seed{a.seed}.json" if a.trace else None
    rec = measure(conf, a.seed, a.seconds, a.trace, spans)
    (BUILD / f"record-{a.workload}-seed{a.seed}-trace{a.trace}.json").write_text(json.dumps(rec))
    for f in rec["failures"]:
        log(f"failed: {f['op']}: {f['cause']}")
    metrics = per_layer(rec) if a.trace else end_to_end(rec)
    for k, v in metrics.items():
        print(f"{a.workload} {k} = {v['value']:.6g} {v['unit']}")
    failed = len(rec["failures"])
    print(json.dumps({"correct": failed == 0, "attempted": rec["attempted"],
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
