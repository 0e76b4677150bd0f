#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Builds the engine and the harness from
source with sbt (again only when the sources change; the compiled classes
are kept in .bench_build/build-<stamp>/), generates the workload's inputs from the seed under a
per-run directory in .bench_build/runs/, runs the JVM side
(perfbench.Main), checks outputs against DuckDB oracles, and prints one
line per metric followed by the result as one JSON object on the last line.
Exits non-zero without a result when the build, a run or a check cannot
complete. See perfbench/README.md for the workloads.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")

# Input sizes (README: Sizes): the city CSVs at a fraction of the
# reference's raw row counts, the corpus at a TPC-H-ish scale factor.
CITY_SCALE = 1 / 16
CORPUS_SF = {"dashboard_session": 0.001, "pipeline_batch": 0.01}

# Per-layer metric families each workload exercises; the rest read 0.
LAYERS = {
    "dashboard_session": ("serve.", "query.", "spark.", "etl.", "dict.", "setup.", "trace."),
    "pipeline_batch": ("batch.", "spark.", "trace."),
}

ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every file the build reads: build definitions, sources and
    resources of the engine and of the harness."""
    files = [os.path.join(ROOT, "build.sbt")]
    for base in (ROOT, HERE):
        files += glob.glob(os.path.join(base, "project", "*.sbt"))
        files += glob.glob(os.path.join(base, "project", "*.scala"))
        files += glob.glob(os.path.join(base, "project", "build.properties"))
        files += [f for f in glob.glob(os.path.join(base, "src", "main", "**"), recursive=True)
                  if os.path.isfile(f)]
    files.append(os.path.join(HERE, "build.sbt"))
    h = hashlib.sha256()
    for f in sorted(set(files)):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def build():
    """Compile engine + harness with sbt; return the runtime classpath.

    sbt compiles into the shared target/ directories, which any other
    build of the checkout overwrites, so the compiled class directories are
    copied into .bench_build/build-<stamp>/ and the classpath points at the
    copies: a later run of the same sources uses exactly these classes.
    """
    for need in ("build.sbt", "src/main/scala", "tools/gen_city_fixtures.py", "tools/check_oracle.py"):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"{need} not found: run from the root of a full checkout")
    out = os.path.join(BUILD, "build-" + source_stamp())
    cp_file = os.path.join(out, "classpath.json")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            return json.load(f)
    env = dict(os.environ)
    opts = env.get("SBT_OPTS", "")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "sbt.repository.config" not in opts and os.path.exists(repos):
        opts += f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
    if "sbt.offline" not in opts:
        opts += " -Dsbt.offline=true"
    env["SBT_OPTS"] = opts.strip()
    env.setdefault("COURSIER_MODE", "offline")
    t0 = time.time()
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"], cwd=HERE, env=env,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=850)
    lines = [ln for ln in p.stdout.splitlines() if ln.startswith("/") and ".jar" in ln]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:])
        fail("build failed")
    print(f"build: {time.time() - t0:.1f} s", file=sys.stderr)
    for old in glob.glob(os.path.join(BUILD, "build-*")):
        shutil.rmtree(old, ignore_errors=True)
    entries = []
    for i, e in enumerate(lines[-1].split(os.pathsep)):
        if os.path.isdir(e):
            copy = os.path.join(out, f"classes-{i}")
            shutil.copytree(e, copy)
            e = copy
        entries.append(e)
    cp = os.pathsep.join(entries)
    with open(cp_file, "w") as f:
        json.dump(cp, f)
    return cp


def run_jvm(cp, args, work, cities, corpus, deadline):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    cmd = [java, "-Xmx3g", "-XX:+UseG1GC", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}/tmp",
           f"-Dlog4j.configurationFile={HERE}/log4j2.properties"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", args.workload, str(args.seed), str(args.seconds),
            str(args.trace), corpus, cities, work]
    env = dict(os.environ, GRAFT_CITY_DATA=cities, SPARK_LOCAL_DIRS=f"{work}/spark-local")
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, env=env, cwd=ROOT,
                             start_new_session=True)
        try:
            rc = p.wait(timeout=max(10, deadline - time.time()))
        except subprocess.TimeoutExpired:
            rc = "timeout"
        finally:
            # also on SIGTERM or an error here: never leave the JVM behind
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
    with open(log) as f:
        lines = f.readlines()
    if rc != 0:
        sys.stderr.write("".join(lines[-40:]))
        fail(f"JVM side exited with {rc}")
    for ln in lines:
        if ln.startswith("[perfbench]"):
            print(ln.rstrip())
    with open(os.path.join(work, "result.json")) as f:
        return json.load(f)


def oracle_checks(items, corpus):
    """Run each DuckDB oracle; returns (checked, mismatch descriptions)."""
    import duckdb
    # the registry oracle check's tables and canonical form (tools/check_oracle.py)
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    from check_oracle import TABLES, canon
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{corpus}/{t}.parquet'")
    bad, checked = [], 0
    for it in items:
        name, sql = it["name"], it["sql"]
        checked += 1
        if "parquet" in it:
            got = con.execute(f"SELECT * FROM '{it['parquet']}/*.parquet'")
            grows, gcols = got.fetchall(), [d[0] for d in got.description]
        else:
            grows, gcols = json.loads(it["rows_json"]), None
        if not sql:
            if len(grows) == 0:
                bad.append(f"{name}: empty result (no oracle; rows-only check)")
            continue
        want = con.execute(sql)
        wrows, wcols = want.fetchall(), [d[0] for d in want.description]
        if gcols is None:
            # JSON rows omit null fields; read every oracle column by name
            gcols, grows = wcols, [tuple(r.get(c) for c in wcols) for r in grows]
        if sorted(gcols) != sorted(wcols):
            bad.append(f"{name}: columns {sorted(gcols)} != oracle {sorted(wcols)}")
            continue
        g, w = canon(grows, gcols)[0], canon(wrows, wcols)[0]
        if g != w:
            diff = next(((a, b) for a, b in zip(g, w) if a != b), None)
            bad.append(f"{name}: {len(g)} rows vs oracle {len(w)}; first diff {diff}")
    return checked, bad


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(CORPUS_SF))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    deadline = time.time() + 170
    bench_file = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(bench_file):
        fail("BENCHMARK.json not found: run from the root of the checkout")
    with open(bench_file) as f:
        spec = json.load(f)
    cp = build()
    deadline = max(deadline, time.time() + 170)

    work = os.path.join(BUILD, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        cities, corpus = os.path.join(work, "cities"), os.path.join(work, "corpus")
        kept = gen.cities(cities, args.seed, CITY_SCALE)
        gen.corpus(corpus, args.seed, CORPUS_SF[args.workload])
        t0 = time.time()
        res = run_jvm(cp, args, work, cities, corpus, deadline)
        t1 = time.time()
        checked, bad = oracle_checks(res["oracle"], corpus)
        print(f"timing: jvm {t1 - t0:.1f} s, oracle checks {time.time() - t1:.1f} s", file=sys.stderr)
        props = res["properties"]
        for city, key in (("Baltimore", "baltimore"), ("Detroit", "detroit"), ("LosAngeles", "losangeles")):
            got = props.get(f"rows_kept_{key}")
            if got is not None and int(got) != kept[city][1]:
                bad.append(f"{city}: {int(got)} harmonized rows, generator kept {kept[city][1]}")
        if args.trace:
            trace_dir = os.path.join(BUILD, "traces")
            os.makedirs(trace_dir, exist_ok=True)
            with open(os.path.join(trace_dir, f"{args.workload}-{args.seed}.json"), "w") as f:
                json.dump({"spans": res.get("spans", []), "metrics": res["metrics"]}, f)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    mismatches = res["mismatches"] + bad
    attempted = int(res["attempted"])
    failed = len(res["failures"]) + len(mismatches)
    metrics = res["metrics"]
    for k, v in props.items():
        print(f"property {k} = {v:.6g}")
    for f_ in res["failures"][:20]:
        print(f"failure: {f_}")
    for m in mismatches[:20]:
        print(f"mismatch: {m}")
    print(f"checks: {res['checked']} engine-direct, {checked} DuckDB oracle, {len(mismatches)} mismatches")
    print(f"error_rate = {failed / attempted:.6g} ({failed} of {attempted})")

    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    out = {}
    for m in wanted:
        name = m["name"]
        if name in metrics:
            v = metrics[name]["value"]
        elif args.trace and not any(name.startswith(p) for p in LAYERS[args.workload]):
            v = 0.0
        else:
            fail(f"metric {name} was not measured")
        if v is None or (isinstance(v, float) and not math.isfinite(v)):
            fail(f"metric {name} has no finite value")
        out[name] = {"value": v, "unit": m["unit"]}
    for name, m in metrics.items():
        print(f"{name} = {m['value']} {m['unit']}")
    print(json.dumps({"correct": not mismatches, "attempted": attempted, "failed": failed,
                      "metrics": out}))


if __name__ == "__main__":
    main()
