#!/usr/bin/env python3
"""Chain benchmark: times the Runner chains end to end in one SparkSession
and, with --trace 1, per layer.

    python3 perfbench/run.py --workload daily|corpus --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the library and the
benchmark main (perfbench/build.sh) into .bench_build/; every run generates
its seeded input (perfbench/gen_input.py) under .bench_build/data, runs
graft.perfbench.ChainBench in a fresh JVM with its working directory in
.bench_build/work/<workload> (so the artifact tier starts empty and never
touches the repository's target/), checks the outputs, and prints one
summary line per metric followed by the result as one JSON object on the
last line. A run sets up the workload's artifact tier once and times one
pass of its chains against it, which always lasts longer than --seconds
(1); see perfbench/README.md.
"""
import argparse
import glob
import json
import os
import re
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
EXPECTED = json.load(open(os.path.join(HERE, "expected.json")))

# daily runs the Runner daily chain; corpus runs the Runner corpus chain,
# then the incremental chain and the IVF index refresh. Input is the number
# of replicas of the facts, documents and embeddings over the base fixture.
WORKLOADS = {
    "daily": {"input": (2, 1, 1)},
    "corpus": {"input": (1, 2, 1)},
}

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]

JVM_TIMEOUT_S = 150


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def spark_jars():
    """$SPARK_HOME/jars, else the jar directory the repository's build.sbt
    compiles against."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    sbt = os.path.join(ROOT, "build.sbt")
    m = os.path.exists(sbt) and re.search(
        r'unmanagedBase := file\("([^"]+)"\)', open(sbt).read())
    return m.group(1) if m else ""


def build():
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        sys.exit("perfbench: library sources (src/main/scala) not found; "
                 "run from the root of a checkout")
    if not os.path.isdir(spark_jars()):
        sys.exit("perfbench: no Spark jars found; set SPARK_HOME")
    subprocess.run(["bash", os.path.join(HERE, "build.sh"), BUILD,
                    spark_jars()], cwd=ROOT, check=True, stdout=sys.stderr)


def gen_input(workload, seed):
    facts, docs, embs = WORKLOADS[workload]["input"]
    out = os.path.join(BUILD, "data", f"{workload}_s{seed}")
    if not os.path.exists(os.path.join(out, "input.json")):
        subprocess.run([sys.executable, os.path.join(HERE, "gen_input.py"),
                        os.path.join(HERE, "fixture"), out, str(seed),
                        str(facts), str(docs), str(embs)], check=True)
    return out


def run_chainbench(workload, data, trace, work):
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = (["java"] + [a for p in JDK_OPENS
                       for a in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-Xss8m", "-Xmx6g",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Dgraft.artifact.root={os.path.join(work, 'target')}",
            f"-Djava.io.tmpdir={tmp}", f"-Dderby.system.home={work}",
            "-cp", os.path.join(BUILD, "classes") + os.pathsep +
            os.path.join(spark_jars(), "*"),
            "graft.perfbench.ChainBench",
            "--workload", workload, "--data", data, "--work", work,
            "--trace", str(trace)])
    out = os.path.join(work, "result.json")
    with open(os.path.join(work, "chainbench.log"), "w") as err:
        proc = subprocess.Popen(cmd, cwd=work, stdout=err, stderr=err,
                                env=dict(os.environ, SPARK_LOCAL_DIRS=tmp))
        try:
            proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            sys.exit(f"perfbench: ChainBench exceeded {JVM_TIMEOUT_S}s")
    if proc.returncode != 0 or not os.path.exists(out):
        sys.exit(f"perfbench: ChainBench failed (exit {proc.returncode}); "
                 f"see {work}/chainbench.log")
    return json.load(open(out))


# ---- output checks -------------------------------------------------------

def oracle_checks(data, dump):
    """The repository's oracle gate, tools/check.py: DuckDB runs each
    dumped query's oracle SQL on the same input and the frames must be
    equal, representation-strict. The queries run concurrently."""
    from concurrent.futures import ThreadPoolExecutor
    import duckdb
    import pandas as pd
    sys.dont_write_bytecode = True
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    from check import TABLES, compare
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")

    def check(q, sql):
        files = sorted(glob.glob(os.path.join(dump, q, "*.parquet")))
        try:
            got = pd.concat([pd.read_parquet(f) for f in files],
                            ignore_index=True)
            res = compare(q, got, con.cursor().execute(sql).fetchdf())
        except Exception as e:
            res = f"ERROR: {e}"
        return None if res.startswith("OK") else res

    sqls = json.load(open(os.path.join(dump, "oracle_sql.json")))
    with ThreadPoolExecutor(4) as pool:
        futures = {q: pool.submit(check, q, sql)
                   for q, sql in sorted(sqls.items())}
    return {q: f.result() for q, f in futures.items()}


def checks(workload, res, data, work):
    """name -> None when the check passed, else the reason."""
    exp = EXPECTED[workload]
    got = {c: a["task"] for c, a in res["aborts"].items()}
    out = {"chain_outcome": None if got == exp.get("aborts", {}) else
           f"aborts {res['aborts']}, expected {exp.get('aborts', {})}"}
    if "contract_failing" in exp:
        c = res["contract_failing"]
        out["embed_contract_verdict"] = (
            None if c == exp["contract_failing"] else
            f"failing rules {c}, expected {exp['contract_failing']}")
    if "min_recall" in exp:
        r = res["ann_recall"]
        out["ann_recall"] = (
            None if r is not None and r >= exp["min_recall"] else
            f"recall {r}, expected at least {exp['min_recall']}")
    for t, n in exp.get("rows", {}).items():
        g = res["rows"].get(t)
        out[f"rows.{t}"] = None if g == n else f"{g} rows, expected {n}"
    for q, why in oracle_checks(data, os.path.join(work, "dump")).items():
        out[f"oracle.{q}"] = why
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    a = ap.parse_args()

    build()
    data = gen_input(a.workload, a.seed)
    work = os.path.join(BUILD, "work", a.workload)
    t0 = time.time()
    res = run_chainbench(a.workload, data, a.trace, work)
    t1 = time.time()
    verdicts = checks(a.workload, res, data, work)
    log(f"perfbench: ChainBench {t1 - t0:.1f}s, output checks {time.time() - t1:.1f}s")
    bad = {k: v for k, v in verdicts.items() if v is not None}
    for k, v in sorted(bad.items()):
        log(f"perfbench: check FAILED {k}: {v}")

    attempted = res["attempted"] + len(verdicts)
    failed = len(bad)
    e2e = {
        "setup_s": (res["setup_s"], "s"),
        "chain_s": (res["chain_s"], "s"),
        "peak_storage_mb": (res["peak_storage_mb"], "MB"),
    }
    info = {"session_s": (res["session_s"], "s"),
            "cached_rdds_left": (res["cached_rdds_left"], "count"),
            "failed_ratio": (failed / attempted, "ratio")}
    for c, v in res["chain_parts_s"].items():
        info[f"{c}.chain_s"] = (v, "s")
    if "ann" in res["chain_parts_s"]:
        task_s = res["task_s"]
        names = list(task_s)  # in task order
        info["index_build_s"] = (task_s["index_build"], "s")
        info["probe_s"] = (sum(task_s[k] for k in
                               names[names.index("index_build") + 1:]), "s")
        info["ann_recall"] = (res["ann_recall"], "ratio")
    for k, (v, u) in list(e2e.items()) + list(info.items()):
        print(f"{a.workload} {k} = {v:.6g} {u}")
    print(f"{a.workload} output checks: "
          f"{'PASS' if not bad else 'FAIL ' + ','.join(sorted(bad))} "
          f"({len(verdicts) - len(bad)}/{len(verdicts)})")
    if a.trace:
        units = {m["name"]: m["unit"] for m in json.load(
            open(os.path.join(ROOT, "BENCHMARK.json")))["per_layer"]}
        layers = res["layers"]
        os.makedirs(os.path.join(BUILD, "traces"), exist_ok=True)
        shutil.copy(os.path.join(work, "spans.json"), os.path.join(
            BUILD, "traces", f"{a.workload}_s{a.seed}.json"))
        metrics = {k: {"value": layers[k], "unit": u} for k, u in units.items()}
        for k, m in metrics.items():
            print(f"{a.workload} {k} = {m['value']:.6g} {m['unit']}")
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
