#!/usr/bin/env python3
"""graft benchmark: one seeded workload, one fresh JVM, one result line.

    python3 graftbench/run.py --workload features --seed 1 --seconds 10 --trace 0

Run from the repository root. The script builds the engine and the harness
(sbt, in this directory) when their sources changed, generates the
workload's inputs from the seed, starts the harness JVM (Spark local[4]),
checks the outputs and prints, as its last line, one JSON object:
``correct``, ``attempted``, ``failed`` and ``metrics``. With ``--trace 0``
the metrics are the end-to-end ones, with ``--trace 1`` the per-layer
ones. It exits non-zero when the build, the run or a check fails.
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
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import gen  # noqa: E402
import metrics  # noqa: E402

WORKLOADS = ["features", "curation", "pipeline"]
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
STAMP = os.path.join(HERE, "target", "graftbench.stamp")
JVM_TIMEOUT_S = 160
WARM_SCALE = 0.1
E2E_UNITS = {"setup_s": "s", "cpu_s": "s", "driver_cpu_s": "s", "peak_heap_mib": "MiB"}
JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def log(msg):
    print(f"[graftbench] {msg}", file=sys.stderr, flush=True)


def sources():
    files = sorted(glob.glob(os.path.join(ENGINE_SRC, "**", "*.scala"), recursive=True))
    files += sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    return files + [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]


def spark_home():
    """SPARK_HOME, or the distribution that holds spark-submit on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        raise SystemExit("no Spark distribution: set SPARK_HOME")
    return home


def build():
    """Compile with sbt unless the classes match the current sources."""
    h = hashlib.sha256()
    for f in sources():
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    if os.path.exists(STAMP) and open(STAMP).read() == stamp and os.path.isdir(CLASSES):
        return
    env = dict(os.environ, SPARK_HOME=spark_home())
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    env.setdefault("COURSIER_MODE", "offline")
    log("building engine and harness with sbt")
    t = time.time()
    r = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
                        "compile"], cwd=HERE,
                       env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit(f"build failed (exit {r.returncode})")
    log(f"built in {time.time() - t:.1f} s")
    os.makedirs(os.path.dirname(STAMP), exist_ok=True)
    with open(STAMP, "w") as fh:
        fh.write(stamp)


def classpath():
    return CLASSES + os.pathsep + os.path.join(spark_home(), "jars", "*")


def run_jvm(args, work, inputs, warm):
    result = os.path.join(work, "result.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    cmd = [java, "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath(), "graftbench.Main",
            "--workload", args.workload, "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--inputs", inputs, "--warm", warm,
            "--work", work, "--result", result]
    with open(os.path.join(work, "jvm.log"), "w") as out:
        launched_ms = time.time() * 1000.0
        env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
        p = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT, env=env)
        try:
            code = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise SystemExit(f"harness JVM exceeded {JVM_TIMEOUT_S} s")
    if code != 0 or not os.path.exists(result):
        with open(os.path.join(work, "jvm.log")) as fh:
            sys.stderr.write(fh.read()[-6000:])
        raise SystemExit(f"harness JVM failed (exit {code})")
    with open(result) as fh:
        res = json.load(fh)
    trace = None
    if args.trace:
        with open(result[:-len(".json")] + ".trace.json") as fh:
            trace = json.load(fh)
    return res, trace, launched_ms


def canon(df):
    """Sorted columns, every value rendered with str(), rows sorted."""
    import pandas as pd

    def render(v):
        if v is None:
            return "NULL"
        try:
            if pd.isna(v):
                return "NULL"
        except (TypeError, ValueError):
            pass
        return str(v)
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        df[c] = df[c].map(render)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def digest(df):
    return hashlib.sha256(df.to_csv(index=False).encode()).hexdigest()


def oracle_checks(res, inputs):
    """DuckDB recomputes each oracle step; the canonical hashes must match."""
    import duckdb
    import pandas as pd
    bad = []
    for o in res["oracles"]:
        con = duckdb.connect()
        for t in o["tables"]:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{inputs}/{t}.parquet'")
        spark_df = canon(pd.concat([pd.read_parquet(f) for f in
                                    sorted(glob.glob(os.path.join(o["path"], "*.parquet")))]))
        duck_df = canon(con.execute(o["sql"]).fetchdf())
        con.close()
        if list(spark_df.columns) != list(duck_df.columns) or digest(spark_df) != digest(duck_df):
            log(f"oracle mismatch: {o['call']}")
            bad.append(o["call"])
    return bad


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        raise SystemExit(f"engine sources not found under {os.path.relpath(ENGINE_SRC)}")

    build()
    out_dir = os.path.join(ROOT, ".bench_build")
    work = os.path.join(out_dir, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    inputs, warm = os.path.join(work, "inputs"), os.path.join(work, "warm")
    try:
        t = time.time()
        sizes = gen.generate(args.workload, args.seed, 1.0, inputs)
        gen.generate(args.workload, args.seed, WARM_SCALE, warm)
        log(f"generated inputs in {time.time() - t:.2f} s (not compared): {json.dumps(sizes)}")

        res, trace, launched_ms = run_jvm(args, work, inputs, warm)
        # the run's records outlive its scratch directory
        kind = "trace" if args.trace else "result"
        with open(os.path.join(out_dir, f"{kind}-{args.workload}-{args.seed}.json"), "w") as fh:
            json.dump({"inputs": sizes, "launched_ms": launched_ms, "result": res, "trace": trace}, fh)
        wrong = {c["call"] for c in res["checks"] if not c["ok"]}
        for c in res["checks"]:
            if not c["ok"]:
                log(f"check failed: {c['call']}: {c['detail']}")
        wrong |= set(oracle_checks(res, inputs))
        errors = list(res["errors"])
        if res["warm_error"]:
            # a failed warm-up pass ends early and would shorten setup_s
            call, _, err = res["warm_error"].partition(": ")
            errors.append({"call": f"{call} (warm-up)", "error": err})
        for e in errors:
            log(f"call failed: {e['call']}: {e['error']}")
        failed = len({e["call"] for e in errors} | wrong)
        attempted = len(res["calls"])
        log(f"{len(res['passes'])} timed passes, {attempted} calls, "
            f"{len(res['checks'])} checks, {len(res['oracles'])} oracle comparisons")

        if args.trace:
            values = metrics.per_layer(trace)
            units = dict(metrics.per_layer_names())
        else:
            values = metrics.end_to_end(res, launched_ms)
            units = E2E_UNITS
            log(f"total_s {values['total_s']:.3f} (recorded, not gated)")
        out = {"correct": failed == 0, "attempted": attempted, "failed": failed,
               "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()}}
        print(json.dumps(out))
        sys.exit(0 if failed == 0 else 1)
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
