#!/usr/bin/env python3
"""Self-test: the benchmark's chains must match graft.Runner's.

Runner keeps its `daily` and `corpus` task lists inside `main` (and the
`incremental` one in `incrementalChain`), so the benchmark
(perfbench/src/Workloads.scala) mirrors them by hand. This test runs
`graft.Runner <fixture> <chain>` on the base fixture for each chain
and compares its `[runner] <task> ok` sequence with the benchmark's task
names and order. If Runner stops early (a gate aborting the chain), the
tasks it completed must be a prefix of the benchmark's list.

    python3 perfbench/selftest.py     (from the repository root)

Exits 0 when every chain matches, 1 otherwise.
"""
import os
import re
import shutil
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402  (build, classpath and JVM options)


def java(args, cwd):
    cmd = (["java"] + [a for p in run.JDK_OPENS
                       for a in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-Xss8m", "-Xmx4g", "-Dspark.ui.enabled=false",
            f"-Dgraft.artifact.root={os.path.join(cwd, 'target')}",
            "-cp", os.path.join(run.BUILD, "classes") + os.pathsep +
            os.path.join(run.spark_jars(), "*")] + args)
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True,
                          env=dict(os.environ,
                                   SPARK_GRAFT_CPUS=str(os.cpu_count())),
                          timeout=600)


def main():
    run.build()
    work = os.path.join(run.BUILD, "selftest")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    listed = {}
    for line in java(["graft.perfbench.ChainBench", "--list"], work).stdout.split("\n"):
        if line.strip():
            chain, task = line.split()
            listed.setdefault(chain, []).append(task)
    fixture = os.path.join(run.HERE, "fixture")
    ok = True
    for chain, bench in listed.items():
        out = java(["graft.Runner", fixture, chain], work).stdout
        ran = re.findall(r"^\[runner\] (\S+) ok ", out, re.M)
        failed = re.search(r"^\[runner\] FAILED", out, re.M) is not None
        # an aborted chain matches up to the task that aborted it
        same = (ran == bench[:len(ran)] and
                (len(ran) < len(bench) if failed else len(ran) == len(bench)))
        ok &= same
        print(f"{chain}: {'ok' if same else 'DRIFT'} "
              f"(runner {len(ran)} ok{', then aborted' if failed else ''}; "
              f"benchmark {len(bench)} tasks)")
        if not same:
            print(f"  runner:    {ran}\n  benchmark: {bench}")
    sys.exit(0 if ok and listed else 1)


if __name__ == "__main__":
    main()
