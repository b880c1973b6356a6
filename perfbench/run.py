#!/usr/bin/env python3
"""The engine's benchmark.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

BENCHMARK.json declares two workloads, weather_loop and llm_batch.
analytic_mix (every ReferenceOps, RelationalOps and SqlSuite query) runs the
same way but takes several minutes, more than the declared run budget
allows; it is kept to measure the codegen-cache contrast by hand.

Run from the root of a source checkout. The first run builds the engine and
the harness from source (perfbench/build.sbt, sbt offline) into
.bench_build/; later runs reuse the build while the sources are unchanged.
Inputs are generated from the seed (gen.py), the harness JVM (local[4]) runs
the workload, the outputs are checked, and the last line printed is one JSON
object: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones of BENCHMARK.json; with --trace 1 the
per-layer ones. Lines before it are a human-readable summary.
"""
import argparse
import glob
import hashlib
import importlib.util
import json
import math
import os
import shutil
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)
import gen  # noqa: E402

# The input sets each workload reads; traced runs also read the sets the
# layer probes use.
INPUTS = {"weather_loop": ["weather"], "analytic_mix": ["tables"],
          "llm_batch": ["docs"]}
PROBE_INPUTS = ["docs", "weather", "ingest"]
BATCH = {"analytic_mix", "llm_batch"}
# Seconds the harness JVM may take beyond --seconds: the declared workloads
# end within 180 s; analytic_mix needs several minutes.
ALLOWANCE = {"weather_loop": 150, "llm_batch": 150, "analytic_mix": 900}

JVM_OPTS = ["-Xmx2g", "-Xss4m", "-XX:ReservedCodeCacheSize=512m",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"] + [
    x for p in ["java.base/java.lang", "java.base/java.lang.invoke",
                "java.base/java.lang.reflect", "java.base/java.io",
                "java.base/java.net", "java.base/java.nio",
                "java.base/java.util", "java.base/java.util.concurrent",
                "java.base/java.util.concurrent.atomic",
                "java.base/sun.nio.ch", "java.base/sun.nio.cs",
                "java.base/sun.security.action",
                "java.base/sun.util.calendar"]
    for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
SBT_OPTS = ("-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx3g "
            "-Dsbt.repository.config=" +
            os.path.expanduser("~/.sbt/repositories"))


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def nearest_rank(values, p):
    """The p-th percentile by nearest rank, and the sample count."""
    if not values:
        raise ValueError("no samples")
    s = sorted(values)
    k = max(1, math.ceil(p / 100.0 * len(s)))
    return s[k - 1], len(s)


def source_stamp():
    h = hashlib.sha256()
    files = sorted(glob.glob(os.path.join(ROOT, "src/main/**/*"), recursive=True)
                   + glob.glob(os.path.join(HERE, "src/**/*"), recursive=True)
                   + [os.path.join(HERE, "build.sbt"),
                      os.path.join(HERE, "project/build.properties")])
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile engine + harness once per source state; returns the classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src/main/scala/graft")):
        fail("engine sources (src/main/scala/graft) not found; run from the "
             "root of a source checkout")
    os.makedirs(BUILD, exist_ok=True)
    stamp = source_stamp()
    stamp_file = os.path.join(BUILD, "build.stamp")
    cp_file = os.path.join(HERE, "target", "classpath.txt")
    if (os.path.exists(stamp_file) and os.path.exists(cp_file)
            and open(stamp_file).read() == stamp):
        return open(cp_file).read().strip()
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=SBT_OPTS)
    with open(os.path.join(BUILD, "build.log"), "w") as log:
        try:
            rc = subprocess.run(
                ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
                 "writeClasspath"], cwd=HERE, env=env, stdout=log,
                stderr=subprocess.STDOUT, timeout=800).returncode
        except subprocess.TimeoutExpired:
            fail("build timed out; see .bench_build/build.log")
    if rc != 0 or not os.path.exists(cp_file):
        fail("build failed; see .bench_build/build.log")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return open(cp_file).read().strip()


def load_check():
    """tools/check.py, whose normalization the oracle compare reuses."""
    spec = importlib.util.spec_from_file_location(
        "check", os.path.join(ROOT, "tools", "check.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def oracle_failures(tables_dir, verify_dir):
    """DuckDB oracle SQL over the same inputs, against the verify pass's
    parquet outputs. Returns ({query: reason}, [queries without oracle])."""
    import duckdb
    check = load_check()
    oracles = json.load(open(os.path.join(verify_dir, "oracle_sql.json")))
    con = duckdb.connect()
    for t in check.TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                f"'{tables_dir}/{t}.parquet'")
    bad = {}
    for name, sql in sorted(oracles.items()):
        try:
            o_cols, o_rows = check.table_repr(con.sql(sql))
            s_cols, s_rows = check.table_repr(
                con.sql(f"SELECT * FROM '{verify_dir}/{name}/*.parquet'"))
        except Exception as e:  # an oracle or output that cannot be read
            bad[name] = str(e).splitlines()[0]
            continue
        if o_cols != s_cols:
            bad[name] = f"columns differ spark={s_cols} oracle={o_cols}"
        elif o_rows != s_rows:
            n = sum(a != b for a, b in zip(s_rows, o_rows))
            bad[name] = (f"rows differ: {len(s_rows)} vs {len(o_rows)} rows, "
                         f"{n} unequal")
    listed = {os.path.basename(p) for p in glob.glob(f"{verify_dir}/*")
              if os.path.isdir(p)}
    return bad, sorted(listed - set(oracles))


def pass_layers(res):
    """Per-layer metrics read from the collectors at pass boundaries:
    medians over the warm passes."""
    warm = [p for p in res["passes"] if p["idx"] > 0]
    per_op = res["ops_per_pass"]

    def med(f):
        return statistics.median(f(p["counters"], p) for p in warm)
    mb = 1048576.0
    plain = [p["wall_ns"] for p in warm if not p["traced"]]
    traced = [p["wall_ns"] for p in warm if p["traced"]]
    cold = res["passes"][0]["counters"]
    out = {
        "codegen.cold_compiles": cold["compiles"],
        "codegen.cold_compile_ms": cold["compile_ns"] / 1e6,
        "codegen.compiles": med(lambda c, p: c["compiles"]),
        "codegen.compile_ms": med(lambda c, p: c["compile_ns"] / 1e6),
        "codegen.gen_ms": med(lambda c, p: c["gen_ns"] / 1e6),
        "codegen.compiles_per_op": med(lambda c, p: c["compiles"] / per_op),
        "jit.compile_ms": med(lambda c, p: c["jit_ms"]),
        "scheduler.jobs": med(lambda c, p: c["jobs"]),
        "scheduler.stages": med(lambda c, p: c["stages"]),
        "scheduler.tasks": med(lambda c, p: c["tasks"]),
        "exec.busy_frac": med(
            lambda c, p: c["run_ms"] / (4 * p["wall_ns"] / 1e6)),
        "exec.cpu_s": med(lambda c, p: c["cpu_ns"] / 1e9),
        "exec.gc_s": med(lambda c, p: c["gc_ms"] / 1e3),
        "shuffle.write_mb": med(lambda c, p: c["shuffle_write_b"] / mb),
        "shuffle.read_mb": med(lambda c, p: c["shuffle_read_b"] / mb),
        "shuffle.records": med(lambda c, p: c["shuffle_records"]),
        "shuffle.spill_mb": med(lambda c, p: c["spill_b"] / mb),
        "core.input_rows": med(lambda c, p: c["input_rows"]),
        "core.persist_mb_peak": max(p["stored_peak_b"] for p in warm) / mb,
    }
    if plain and traced:
        out["trace.overhead_frac"] = (statistics.median(traced)
                                      / statistics.median(plain) - 1.0)
    return out


def end_to_end(res):
    warm = [p for p in res["passes"] if p["idx"] > 0]
    op_ms = [o["ns"] / 1e6 for o in res["ops"] if o["pass"] > 0]
    p50, n = nearest_rank(op_ms, 50)
    p90, _ = nearest_rank(op_ms, 90)
    return {
        "setup_s": res["setup_s"],
        "cold_pass_s": res["passes"][0]["wall_ns"] / 1e9,
        "pass_s": statistics.median(p["wall_ns"] for p in warm) / 1e9,
        "op_p50_ms": p50,
        "op_p90_ms": p90,
        "cpu_s": statistics.median(p["counters"]["cpu_ns"] for p in warm) / 1e9,
        "heap_live_mb": max(p["heap_live_mb"] for p in res["passes"]),
    }, n


def check_names(metrics, units):
    """Every metric printed must be declared, and every declared one printed."""
    extra, missing = set(metrics) - set(units), set(units) - set(metrics)
    if extra or missing:
        raise ValueError(f"metric names differ from BENCHMARK.json: "
                         f"extra {sorted(extra)}, missing {sorted(missing)}")


def declared():
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(INPUTS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    e2e_units, layer_units = declared()
    cp = build()

    kinds = INPUTS[a.workload] + (PROBE_INPUTS if a.trace else [])
    inputs = {k: gen.generate(k, a.seed, os.path.join(
        BUILD, "inputs", f"{k}-s{a.seed}")) for k in dict.fromkeys(kinds)}
    out = os.path.join(BUILD, "runs", f"{a.workload}-t{a.trace}")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(os.path.join(out, "tmp"))
    cmd = (["java"] + JVM_OPTS + [f"-Djava.io.tmpdir={out}/tmp", "-cp", cp,
                                  "graft.perfbench.Main",
           "--workload", a.workload, "--out", out,
           "--seconds", str(a.seconds), "--trace", str(a.trace),
           "--inputs", ",".join(f"{k}={v}" for k, v in inputs.items())])
    with open(os.path.join(out, "jvm.log"), "w") as log:
        try:
            rc = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT,
                                timeout=a.seconds + ALLOWANCE[a.workload]
                                ).returncode
        except subprocess.TimeoutExpired:
            fail(f"harness JVM timed out; see {out}/jvm.log")
    if rc != 0:
        fail(f"harness JVM exited {rc}; see {out}/jvm.log")
    res = json.load(open(os.path.join(out, "result.json")))

    failures = {f["op"]: f["reason"] for f in res["failures"]}
    unverified = []
    if a.workload in BATCH:
        bad, unverified = oracle_failures(inputs[INPUTS[a.workload][0]],
                                          os.path.join(out, "verify"))
        failures.update(bad)
    ops = res["ops"]
    failed_ops = [o for o in ops if o["error"] or o["name"] in failures]
    e2e, n_ops = end_to_end(res)
    if a.trace:
        metrics = dict(pass_layers(res), **res["host"], **res["layers"])
        units = layer_units
    else:
        metrics, units = e2e, e2e_units
    try:
        check_names(metrics, units)
    except ValueError as e:
        fail(str(e))

    print(f"workload={a.workload} seed={a.seed} trace={a.trace} "
          f"passes={len(res['passes'])} ops={len(ops)} "
          f"op_samples={n_ops} failed_frac={len(failed_ops) / len(ops):.4f}")
    for name in sorted({o["name"] for o in failed_ops}):
        reason = failures.get(name) or next(
            o["error"] for o in ops if o["name"] == name and o["error"])
        print(f"FAILED op={name} seed={a.seed}: {reason}")
    print("passes (wall_s, stages, compiles): " + " ".join(
        f"({p['wall_ns'] / 1e9:.2f}, {p['counters']['stages']}, "
        f"{p['counters']['compiles']})" for p in res["passes"]))
    print(f"setup_s={res['setup_s']:.3f}; " + " ".join(
        f"{k}={v:.2f}" for k, v in sorted(res["host"].items())))
    if unverified:
        print(f"unverified (no oracle): {','.join(unverified)}")
    for k in sorted(metrics):
        print(f"  {k} = {metrics[k]:.6g} {units[k]}")
    print(json.dumps({
        "correct": not failed_ops, "attempted": len(ops),
        "failed": len(failed_ops),
        "metrics": {k: {"value": metrics[k], "unit": units[k]}
                    for k in sorted(metrics)}}))


if __name__ == "__main__":
    main()
