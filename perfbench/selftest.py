#!/usr/bin/env python3
"""Self-test of the perfbench harness.

    python3 perfbench/selftest.py

1. Input guard: the harness sources name no absolute path, so every input
   is generated from the seed under the build directory.
2. A tiny run of each workload prints every end-to-end metric of
   BENCHMARK.json by name with its unit, and no op fails.
3. A tiny traced run prints every per-layer metric.
4. With one planted wrong result (a dropped row fed to the oracle), each
   workload counts at least one failed op and reports correct = false.
"""
import json
import os
import re
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("esm_catalog_session", "corpus_curation", "retrieval_store")


def run(workload, *extra):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--tiny"] + list(extra)
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if out.returncode != 0:
        sys.stderr.write(out.stderr[-3000:])
        raise AssertionError("%s %s exited %d" % (workload, extra, out.returncode))
    lines = out.stdout.strip().splitlines()
    return lines, json.loads(lines[-1])


def check(cond, what):
    print(("ok   " if cond else "FAIL ") + what)
    if not cond:
        check.failures += 1


check.failures = 0


def main():
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))

    # 1. input guard: no absolute path literal anywhere in the harness
    absolute = re.compile(r"""["'](/[A-Za-z0-9_.-]+)+/?["']""")
    for d, _, files in os.walk(HERE):
        for f in files:
            if f.endswith((".scala", ".py")) and f != "selftest.py":
                text = open(os.path.join(d, f)).read()
                hits = absolute.findall(text)
                check(not hits, "no absolute path literal in %s %s" % (f, hits or ""))

    for w in WORKLOADS:
        # 2. every end-to-end metric, by name and unit, and nothing failed
        lines, res = run(w, "--trace", "0")
        check(res["correct"] and res["failed"] == 0 and res["attempted"] > 0,
              "%s: %d ops, none failed" % (w, res["attempted"]))
        for m in spec["end_to_end"]:
            got = res["metrics"].get(m["name"], {})
            printed = any(re.match(r"metric\s+%s\s+\S+\s+%s$" % (re.escape(m["name"]), re.escape(m["unit"])), l)
                          for l in lines)
            check(got.get("unit") == m["unit"] and got.get("value", 0) > 0 and printed,
                  "%s: %s printed in %s" % (w, m["name"], m["unit"]))

        # 4. a planted wrong result is a failure
        _, bad = run(w, "--trace", "0", "--plant-fault")
        check(bad["failed"] >= 1 and not bad["correct"],
              "%s: planted wrong result counted (%d failed)" % (w, bad["failed"]))

    # 3. the traced run reports every per-layer metric
    _, traced = run("esm_catalog_session", "--trace", "1")
    for m in spec["per_layer"]:
        got = traced["metrics"].get(m["name"], {})
        check(got.get("unit") == m["unit"], "traced: %s in %s" % (m["name"], m["unit"]))

    print("%d failure(s)" % check.failures)
    sys.exit(1 if check.failures else 0)


if __name__ == "__main__":
    main()
