#!/usr/bin/env python3
"""Self-test of the benchmark at self-test size (a few hundred pages, two
crawl rounds). For every workload: an untraced run must pass its correctness
gate and print every end-to-end metric of BENCHMARK.json with its unit; a
traced run must print every per-layer metric; a run with one corrupted
expected value must fail the gate and exit non-zero.

    python3 perfbench/selftest.py        # from the root of a checkout
"""
import json
import os
import subprocess
import sys

WORKLOADS = ["crawl_deep", "corpus_analytics"]


def run(workload, *extra):
    cmd = [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--small"] + list(extra)
    p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    lines = p.stdout.strip().splitlines()
    return p.returncode, (json.loads(lines[-1]) if lines else None), p.stderr


def main():
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    failures = []

    def expect(ok, what):
        print(("ok   " if ok else "FAIL ") + what)
        if not ok:
            failures.append(what)

    for w in WORKLOADS:
        for trace, listed in (("0", spec["end_to_end"]), ("1", spec["per_layer"])):
            code, res, err = run(w, "--trace", trace)
            expect(code == 0 and res is not None and res["correct"],
                   f"{w} trace={trace}: exits 0 and passes the gate")
            if res is None:
                sys.stderr.write(err[-3000:])
                continue
            want = {m["name"]: m["unit"] for m in listed}
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            expect(got == want, f"{w} trace={trace}: prints every listed metric with its unit")
            expect(res["attempted"] >= 1 and res["failed"] == 0,
                   f"{w} trace={trace}: attempted {res['attempted']}, failed {res['failed']}")
        code, res, _ = run(w, "--trace", "0", "--corrupt-digest")
        expect(code != 0 and res is not None and not res["correct"] and res["failed"] >= 1,
               f"{w}: a corrupted expected digest trips the gate (exit {code})")
    print(f"\n{len(failures)} failure(s)")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
