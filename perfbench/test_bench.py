#!/usr/bin/env python3
"""The benchmark's own tests. Run from the root of a checkout:

    python3 perfbench/test_bench.py

1. Smoke: every workload runs once at tiny size, with --trace 0 and 1. Each
   run's last line must be the result object with exactly the contract's
   keys, a clean check, and every metric BENCHMARK.json names for that mode,
   with its unit.
2. Planted fault: with --fault (one wrong expected digest on crawl_extract,
   one url dropped from the expected visible set on recrawl) the run must
   report correct = false and count the failure.
3. Bare directory: with only BENCHMARK.json and perfbench/ present the
   command must exit non-zero without printing a result.
"""
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(cwd, *args):
    proc = subprocess.run([sys.executable, os.path.join(cwd, "perfbench", "run.py")] + list(args),
                          cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
                          timeout=900)
    lines = proc.stdout.strip().splitlines()
    return proc.returncode, (lines[-1] if lines else ""), proc.stderr


def result(line):
    r = json.loads(line)
    assert set(r) == {"correct", "attempted", "failed", "metrics"}, sorted(r)
    assert isinstance(r["attempted"], int) and r["attempted"] >= 1, r["attempted"]
    assert isinstance(r["failed"], int), r["failed"]
    return r


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    failures = []

    def check(name, ok, detail=""):
        print("%s %s %s" % ("ok  " if ok else "FAIL", name, detail), flush=True)
        if not ok:
            failures.append(name)

    for w in (x["name"] for x in bench["workloads"]):
        for trace, declared in ((0, bench["end_to_end"]), (1, bench["per_layer"])):
            name = "smoke %s trace=%d" % (w, trace)
            code, last, err = run(ROOT, "--workload", w, "--seed", "7", "--seconds", "1",
                                  "--trace", str(trace), "--smoke")
            if code != 0:
                check(name, False, err[-2000:])
                continue
            r = result(last)
            got = r["metrics"]
            missing = [m["name"] for m in declared if m["name"] not in got]
            wrong_unit = [m["name"] for m in declared
                          if m["name"] in got and got[m["name"]].get("unit") != m["unit"]]
            not_number = [k for k, v in got.items() if not isinstance(v.get("value"), (int, float))]
            check(name, r["correct"] and r["failed"] == 0 and not missing and not wrong_unit
                  and not not_number,
                  "missing=%s wrong_unit=%s not_number=%s correct=%s failed=%s"
                  % (missing, wrong_unit, not_number, r["correct"], r["failed"]))

        name = "planted fault %s" % w
        code, last, err = run(ROOT, "--workload", w, "--seed", "7", "--seconds", "1",
                              "--trace", "0", "--smoke", "--fault")
        r = result(last) if code == 0 else None
        check(name, r is not None and r["correct"] is False and r["failed"] >= 1,
              "result=%s" % (r and {k: r[k] for k in ("correct", "attempted", "failed")}))

    bare = os.path.join(HERE, ".work", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns(".build", ".work", ".out", "target"))
        code, last, _ = run(bare, "--workload", "crawl_extract", "--seed", "7",
                            "--seconds", "1", "--trace", "0")
        check("bare directory exits non-zero without a result",
              code != 0 and not last.startswith("{"), "code=%d last=%r" % (code, last[:80]))
    finally:
        shutil.rmtree(bare, ignore_errors=True)

    print("%d failure(s)" % len(failures))
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
