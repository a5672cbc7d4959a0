#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one result line.

    python3 graftbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a graft checkout. The first run compiles graft's
sources together with the harness in graftbench/src (sbt, offline)
and records a class-data-sharing archive for the JVM; later runs reuse
both while the sources are unchanged. Each run then generates its
inputs from the seed, starts one JVM with Spark `local[4]`, and prints
the harness's witness line followed by the result JSON as the last
line of stdout. graftbench/README.md describes the workloads and
metrics; the per-workload sizes are below.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # the checkout gets only the build's own output
import gen  # noqa: E402

DEADLINE_S = 175  # a run must end within 180 s, not counting a build
BUILD_TIMEOUT_S = 500
ARCHIVE_TIMEOUT_S = 300

# Per workload: generator sizes, fixed before the run, so a seed fixes
# the inputs. --seconds is accepted but does not size the run: one
# closed-loop step costs several seconds of driver-side fixed work
# whatever its size, so the timed window is a fixed number of drops
# (each timed window lasts longer than 10 s on 4 cores).
SIZES = {
    "cdc_stream_cow": dict(base_events=40_000, drop_events=10_000, warm_drops=1, timed_drops=3),
    "lake_mor_mixed": dict(base_events=20_000, drop_events=4_000, warm_drops=1, timed_drops=3, points=1),
    "dedup_stream": dict(base_docs=100_000, drop_docs=60_000, warm_drops=1, timed_drops=4),
}
# small inputs for the one JVM that records the class archive
TRAIN_SIZES = {
    "cdc_stream_cow": dict(base_events=2_000, drop_events=500, warm_drops=0, timed_drops=1),
    "lake_mor_mixed": dict(base_events=1_000, drop_events=300, warm_drops=0, timed_drops=1, points=1),
    "dedup_stream": dict(base_docs=2_000, drop_docs=1_000, warm_drops=0, timed_drops=1),
}
GENERATORS = {"cdc_stream_cow": gen.gen_cdc, "lake_mor_mixed": gen.gen_mor, "dedup_stream": gen.gen_dedup}

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[graftbench] {msg}", file=sys.stderr, flush=True)


def source_stamp(root):
    h = hashlib.sha256()
    for base in [os.path.join(root, "src", "main"), os.path.join(HERE, "src"),
                 os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]:
        paths = [base] if os.path.isfile(base) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(base) for f in fs)
        for p in paths:
            h.update(p[len(root):].encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build(root):
    """Compile graft + harness unless the classpath matches the sources."""
    target = os.path.join(HERE, "target")
    cp_file, stamp_file = os.path.join(target, "classpath.txt"), os.path.join(target, "stamp.txt")
    stamp = source_stamp(root)
    if os.path.exists(cp_file) and os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip(), stamp
    log("building graft and the harness (sbt, offline)")
    env = dict(os.environ, SPARK_HOME=spark_home())
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx2g")
    env["SBT_OPTS"] += " -Dsbt.server.autostart=false"
    t0 = time.time()
    with open(os.path.join(bench_build(root), "build.log"), "w") as out:
        rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                            cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                            stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S).returncode
    if rc != 0 or not os.path.exists(cp_file):
        raise SystemExit(f"build failed (exit {rc}); see .bench_build/build.log")
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    log(f"built in {time.time() - t0:.1f} s")
    return open(cp_file).read().strip(), stamp


def class_archive(root, cp, stamp):
    """JVM options that load the build's class-data-sharing archive,
    recording it first if this build has none. Loading Spark's classes
    from the archive takes about 2.5 s off the session start and about
    as much off the first batches. The archive is recorded by one JVM
    that runs every workload once on small inputs (about a minute, after
    the build), so no measured run records it."""
    d = os.path.join(bench_build(root), "cds")
    jsa = os.path.join(d, f"graft-{stamp[:16]}.jsa")
    if os.path.exists(jsa):
        return [f"-XX:SharedArchiveFile={jsa}"]
    shutil.rmtree(d, ignore_errors=True)
    train = os.path.join(bench_build(root), "train")
    shutil.rmtree(train, ignore_errors=True)
    t0 = time.time()
    for w, sizes in TRAIN_SIZES.items():
        os.makedirs(os.path.join(train, w))
        gen.write_manifest(os.path.join(train, w), GENERATORS[w](os.path.join(train, w), 1, **sizes))
    recorded = f"{jsa}.{os.getpid()}.tmp"
    os.makedirs(d)
    try:
        with open(os.path.join(bench_build(root), "train.log"), "w") as out:
            rc = subprocess.run(jvm_cmd(cp, [f"-XX:ArchiveClassesAtExit={recorded}"], train,
                                        ["--workload", "train", "--trace", "0"]),
                                cwd=train, env=jvm_env(), stdout=out, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, timeout=ARCHIVE_TIMEOUT_S).returncode
        if rc != 0 or not os.path.exists(recorded):
            raise SystemExit(f"recording the class archive failed (exit {rc}); see .bench_build/train.log")
        os.replace(recorded, jsa)
    finally:
        shutil.rmtree(train, ignore_errors=True)
        if os.path.exists(recorded):
            os.remove(recorded)
    log(f"recorded the class archive in {time.time() - t0:.1f} s")
    return [f"-XX:SharedArchiveFile={jsa}"]


def jvm_cmd(cp, opts, work, args):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + opts +
            ["-Xmx3g", "-XX:+UseParallelGC", "-XX:ParallelGCThreads=4", "-XX:ReservedCodeCacheSize=512m",
             f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
             "-cp", cp, "graftbench.Main", "--work", work] + args)


def jvm_env():
    return dict(os.environ, LANG="C.UTF-8", LC_ALL="C.UTF-8", SPARK_GRAFT_CPUS="4")


def spark_home():
    """The Spark install graft compiles against: $SPARK_HOME, else the
    one whose spark-submit is on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        raise SystemExit("graftbench: set SPARK_HOME to a Spark install (its jars/ is on the classpath)")
    return home


def bench_build(root):
    d = os.path.join(root, ".bench_build")
    os.makedirs(d, exist_ok=True)
    return d


def check_loops(work):
    """Replay the oracle SQL of each loop query the run wrote a result
    for in DuckDB over the same tables; (queries compared, mismatches)."""
    out = os.path.join(work, "loops-out")
    if not os.path.exists(os.path.join(out, "oracle_sql.json")):
        return 0, []
    import duckdb
    import pandas as pd
    con = duckdb.connect()
    oracles = json.load(open(os.path.join(out, "oracle_sql.json")))
    for t in ("orders", "lineitem", "documents"):
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(work, 'loops', t + '.parquet')}'")
    problems = []
    for name, sql in sorted(oracles.items()):
        got = pd.read_parquet(os.path.join(out, name))
        want = con.sql(sql).df()
        got, want = (df.reindex(sorted(df.columns), axis=1) for df in (got, want))
        if list(got.columns) != list(want.columns) or len(got) != len(want):
            problems.append(f"{name}: columns/rows {list(got.columns)}/{len(got)} != oracle {list(want.columns)}/{len(want)}")
            continue
        got, want = (df.sort_values(list(df.columns)).reset_index(drop=True) for df in (got, want))
        for c in got.columns:
            a, b = got[c], want[c]
            if pd.api.types.is_float_dtype(a) or pd.api.types.is_float_dtype(b):
                same = ((a.isna() & b.isna()) | ((a.astype(float) - b.astype(float)).abs() <= 1e-9)).all()
            else:
                same = (a.astype(str) == b.astype(str)).all()
            if not same:
                problems.append(f"{name}: column {c} differs from the oracle")
                break
    return len(oracles), problems


def keep_log(root, work, a):
    """Copy a failed run's JVM log out of the work directory, which is
    always deleted, and say where it went."""
    dst = os.path.join(bench_build(root), f"failed-{a.workload}-{a.seed}.log")
    try:
        shutil.copyfile(os.path.join(work, "jvm.log"), dst)
    except OSError:
        return "no JVM log"
    return f"JVM log kept in .bench_build/{os.path.basename(dst)}"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        raise SystemExit("graftbench: run from the root of a graft checkout (no src/main/scala/graft here)")
    cp, stamp = build(root)
    cds = class_archive(root, cp, stamp)
    t_start = time.time()

    work = os.path.join(bench_build(root), "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        t0 = time.time()
        manifest = GENERATORS[a.workload](work, a.seed, **SIZES[a.workload])
        gen.write_manifest(work, manifest)
        gen_s = time.time() - t0
        cmd = jvm_cmd(cp, cds, work, ["--workload", a.workload, "--seed", str(a.seed), "--trace", str(a.trace)])
        left = DEADLINE_S - (time.time() - t_start)
        try:
            with open(os.path.join(work, "jvm.log"), "w") as err:
                p = subprocess.run(cmd, cwd=work, env=jvm_env(), stdout=subprocess.PIPE, stderr=err,
                                   stdin=subprocess.DEVNULL, text=True, timeout=max(30, left))
        except subprocess.TimeoutExpired:
            raise SystemExit(f"harness exceeded {DEADLINE_S} s; {keep_log(root, work, a)}")
        lines = [ln for ln in p.stdout.splitlines() if ln.startswith("{")]
        if p.returncode != 0 or len(lines) < 2:
            sys.stderr.write(open(os.path.join(work, "jvm.log")).read()[-4000:])
            raise SystemExit(f"harness failed (exit {p.returncode}); {keep_log(root, work, a)}")
        witness, result = json.loads(lines[-2]), json.loads(lines[-1])
        checked, problems = check_loops(work)
        if checked:
            witness["loops_checked"] = checked
        if problems:
            result["correct"], result["failed"] = False, result["attempted"]
            witness["notes"] += problems
        witness["gen_s"] = round(gen_s, 3)
        witness["run_wall_s"] = round(time.time() - t_start, 3)
        print(json.dumps(witness))
        print(json.dumps(result))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
