#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

Usage (from the repository root):
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program and the harness from source (cached by content hash
under $CARGO_TARGET_DIR, default .bench_build), generates the seed's
inputs (cached per seed), runs the workload in a fresh JVM, checks the
outputs and prints every metric by name with its unit. The last line of
stdout is one JSON object: {"correct", "attempted", "failed", "metrics"}.
With --trace 0 the metrics are the end-to-end ones; with --trace 1 they
are the per-layer ones of the traced run. See perfbench/README.md.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import stats  # noqa: E402

ROOT = os.path.dirname(HERE)
WORKLOADS = ["etl_month", "query_mix"]
DEADLINE_S = 170            # the whole run, build excluded
JVM_HEAP = "3g"
# Spark 4 on JDK 17 outside spark-submit needs these (as build.sbt sets them).
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]

# Per-layer metrics read from the cold pass (they move cold_s); every
# other layer metric is the median over the traced warm passes.
COLD_LAYER = ("codegen.", "jvm.")


def spark_jars():
    """The Spark jars directory: $SPARK_HOME/jars, else the directory
    build.sbt compiles against (its `unmanagedBase`)."""
    if "SPARK_HOME" in os.environ:
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        sys.exit("perfbench: set SPARK_HOME; build.sbt names no unmanagedBase")
    return m.group(1)


def build(build_dir):
    """Compile src/main and the harness with scalac; reuse a build of the
    same sources. Returns the classes directory."""
    srcs = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"), recursive=True))
    if not srcs:
        sys.exit("perfbench: no program sources under src/main/scala")
    srcs += sorted(glob.glob(os.path.join(HERE, "harness", "*.scala")))
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    out = os.path.join(build_dir, "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(out, "_DONE")):
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    cp = os.path.join(spark_jars(), "*")
    t0 = time.perf_counter()
    r = subprocess.run(["java", "-XX:-UsePerfData", "-Xmx2g", "-Xss8m", "-cp", cp, "scala.tools.nsc.Main",
                        "-nowarn", "-d", out, "-classpath", cp] + srcs,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        sys.exit("perfbench: build failed")
    open(os.path.join(out, "_DONE"), "w").close()
    print(f"# build {time.perf_counter() - t0:.1f} s -> {os.path.relpath(out, ROOT)}", file=sys.stderr)
    return out


def launch(classes, build_dir, run_dir, args, data_dir, deadline):
    tmp = os.path.join(build_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    nproc = len(os.sched_getaffinity(0))
    cmd = ["java", "-XX:-UsePerfData", f"-Xmx{JVM_HEAP}", f"-Djava.io.tmpdir={tmp}",
           f"-Dspark.local.dir={tmp}", f"-Dspark.sql.warehouse.dir={tmp}/warehouse",
           f"-Dderby.system.home={tmp}", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classes + os.pathsep + os.path.join(spark_jars(), "*"),
            "graft.perfbench.Harness", args.workload, data_dir, run_dir,
            str(args.seconds), str(args.trace), str(args.seed),
            str(int(time.time() * 1000))]
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(nproc), SPARK_LOCAL_DIRS=tmp)
    log = open(os.path.join(run_dir, "jvm.log"), "w")
    p = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=log, stderr=subprocess.STDOUT)
    try:
        rc = p.wait(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        sys.exit("perfbench: workload exceeded its time limit")
    finally:
        log.close()
    if rc != 0:
        with open(os.path.join(run_dir, "jvm.log")) as f:
            sys.stderr.write(f.read()[-3000:])
        sys.exit(f"perfbench: harness exited with {rc}")
    with open(os.path.join(run_dir, "record.json")) as f:
        return json.load(f)


def run_checks(workload, rec, data_dir, run_dir, expected):
    """(bad_names, bad_passes, notes) from the output checks."""
    import checks  # reuses tools/check.py, so it needs the program's tree
    notes, bad_passes = [], set()
    dumps = {n: s for n, s in rec["dumps"].items() if s != "ok"}
    results = os.path.join(run_dir, "results")
    if workload == "etl_month":
        want = {t: expected[t] for t in gen.VALIDATION_TABLES}
        for op in rec["ops"]:
            if op["name"] == "validate" and op["ok"]:
                got = {t: int(n) for t, n in (kv.split("=") for kv in op["fingerprint"].split(","))}
                if got != want:
                    bad_passes.add(("validate", op["pass"]))
                    notes.append(f"validation counts of pass {op['pass']}: {got} != {want}")
        bad = checks.check_readme(os.path.join(run_dir, "etl"), results)
    else:
        bad = checks.check_queries(data_dir, results, rec["oracle_sql"])
    bad.update(dumps)
    notes += [f"{n}: {why}" for n, why in sorted(bad.items())]
    return set(bad), bad_passes, notes


def e2e_metrics(rec, ops, failed):
    passes = rec["passes"]
    cold = next(p for p in passes if p["kind"] == "cold")
    # untraced warm passes only: in a traced run the e2e figures are the
    # ones its tracing overhead is stated against (its cold pass is traced)
    warm = [p for p in passes if p["kind"] == "warm" and not p["traced"]]
    warm_passes = {p["pass"] for p in warm}
    warm_ops = [o["wall_ms"] for o in ops if o["pass"] in warm_passes and o["ok"]]
    t = stats.tail(warm_ops)
    m = {
        "setup_s": (rec["setup_cpu_s"], "s"),
        "setup_wall_s": ((rec["ready_ms"] - rec["launch_ms"]) / 1e3, "s"),
        "cold_s": (cold["wall_s"], "s"),
        "cold_cpu_s": (cold["cpu_s"], "cpu-s"),
        "warm_s": (stats.median([p["wall_s"] for p in warm]), "s"),
        "warm_cpu_s": (stats.median([p["cpu_s"] for p in warm]), "cpu-s"),
        "op_p50_ms": (stats.median(warm_ops), "ms"),
        "op_tail_ms": (t[1] if t else max(warm_ops), "ms"),
        "heap_live_mb": (rec["end"]["heap_live_mb"], "MB"),
        "cache_mb": (rec["end"]["cache_mb"], "MB"),
        "failed_share": (stats.failed_share(len(ops), failed), "ratio"),
    }
    tail_note = (f"op_tail_ms is p{t[0]} of n={t[2]} warm ops" if t
                 else f"op_tail_ms is the max of n={len(warm_ops)} warm ops (too few for the rule)")
    return m, tail_note


def layer_metrics(rec, ops, expected):
    passes = rec["passes"]
    cold = next(p for p in passes if p["kind"] == "cold")
    traced = [p for p in passes if p["kind"] == "warm" and p["traced"]]
    keys = sorted(cold["layer"])
    m = {}
    for k in keys:
        src = [cold] if k.startswith(COLD_LAYER) else traced
        m[k] = stats.median([p["layer"][k] for p in src])
    # pipeline layer: op walls of the traced warm passes
    tp = {p["pass"] for p in traced}

    def per_pass(pred):
        return stats.median([sum(o["wall_ms"] for o in ops if o["pass"] == p and pred(o["name"]))
                             for p in tp])
    is_etl = rec["workload"] == "etl_month"
    m["pipeline.prep_ms"] = per_pass(lambda n: n.startswith("prep_")) if is_etl else 0.0
    m["pipeline.staging_travelers_ms"] = per_pass(lambda n: n == "prep_travelers") if is_etl else 0.0
    m["pipeline.star_ms"] = per_pass(lambda n: n.startswith("star_")) if is_etl else 0.0
    m["pipeline.validate_ms"] = per_pass(lambda n: n == "validate") if is_etl else 0.0
    m["pipeline.analytics_ms"] = per_pass(lambda n: n in ("q1", "q2", "q3")) if is_etl else 0.0
    raw_rows = expected.get("raw_rows", 0) if is_etl else 0
    warm_s = stats.median([p["wall_s"] for p in traced])
    m["pipeline.input_rows_per_s"] = raw_rows / warm_s if is_etl else 0.0
    m["session_cache.cached_rdds"] = rec["end"]["cached_rdds"]
    m["session_cache.cached_mb"] = rec["end"]["cache_mb"]
    m["trace.overhead_s"] = stats.trace_overhead(passes, "wall_s")
    m["trace.overhead_cpu_s"] = stats.trace_overhead(passes, "cpu_s")
    units = [("_per_s", "1/s"), ("cpu_s", "cpu-s"), ("_ms", "ms"), ("_s", "s"),
             (".mb", "MB"), ("_mb", "MB"), ("_share", "ratio")]
    out = {}
    for k, v in sorted(m.items()):
        unit = next((u for suf, u in units if k.endswith(suf)), "count")
        out[k] = (v, unit)
    return out


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    build_dir = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    os.makedirs(build_dir, exist_ok=True)
    classes = build(build_dir)
    t_start = time.time()
    deadline = t_start + DEADLINE_S
    kind = "etl" if args.workload == "etl_month" else "tables"
    data_dir, gen_s = gen.cached(os.path.join(build_dir, "data"), args.seed, kind)
    expected = {}
    if kind == "etl":
        with open(os.path.join(data_dir, "expected.json")) as f:
            expected = json.load(f)
    run_dir = os.path.join(build_dir, "runs", f"{args.workload}-seed{args.seed}-trace{args.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    rec = launch(classes, build_dir, run_dir, args, data_dir, deadline)

    bad_names, bad_passes, notes = run_checks(args.workload, rec, data_dir, run_dir, expected)
    ops = rec["ops"]
    failed = stats.failed_ops(ops, bad_names, bad_passes)
    e2e, tail_note = e2e_metrics(rec, ops, len(failed))

    prov = dict(rec["provenance"], seed=args.seed, workload=args.workload,
                trace=args.trace, gen_s=round(gen_s, 3))
    print(f"# {args.workload} seed={args.seed} seconds={args.seconds} trace={args.trace}")
    print("# provenance " + json.dumps(prov, sort_keys=True))
    print(f"# inputs generated in {gen_s:.3f} s (0 = cached; not part of setup_s)")
    for n in notes:
        print(f"# CHECK FAILED {n}")
    for o in failed:
        print(f"# failed op {o['name']} pass {o['pass']} {o['error']}")
    for k, (v, u) in e2e.items():
        print(f"{k} = {v:.6g} {u}")
    n_plain = sum(1 for p in rec["passes"] if p["kind"] == "warm" and not p["traced"])
    print(f"# {tail_note}; {n_plain} untraced warm passes")
    if args.trace:
        layers = layer_metrics(rec, ops, expected)
        for k, (v, u) in layers.items():
            print(f"{k} = {v:.6g} {u}")
        print(f"# tracing overhead: {layers['trace.overhead_s'][0] / e2e['warm_s'][0]:+.1%} of untraced "
              f"warm_s, {layers['trace.overhead_cpu_s'][0] / e2e['warm_cpu_s'][0]:+.1%} of untraced warm_cpu_s")
        with open(os.path.join(run_dir, "layers.json"), "w") as f:
            json.dump({k: {"value": v, "unit": u} for k, (v, u) in layers.items()}, f, indent=1)
        print(f"# spans: {os.path.relpath(os.path.join(run_dir, 'spans.jsonl'), ROOT)}")
    # the last line carries the metrics BENCHMARK.json declares; the
    # others (failed_share, which is carried by "failed"/"attempted") are
    # printed above only
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    declared = [m["name"] for m in spec["per_layer" if args.trace else "end_to_end"]]
    metrics = {k: (layers if args.trace else e2e)[k] for k in declared}
    # the ETL's parquet outputs are large and re-made every run
    shutil.rmtree(os.path.join(run_dir, "etl"), ignore_errors=True)
    print(f"# run wall {time.time() - t_start:.1f} s (build excluded)")
    print(json.dumps({"correct": not failed, "attempted": len(ops), "failed": len(failed),
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))


if __name__ == "__main__":
    main()
