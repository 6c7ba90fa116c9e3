#!/usr/bin/env python3
"""Records perfbench/expected.json: the result fingerprint of every item.

Usage (from the root of a checkout): python3 perfbench/record.py [workload ...]

The inputs are the sf0.1 fixtures in perfbench/data/sf0.1. Each workload
is run twice (seeds 1 and 2) with as many passes as the longest traced run
makes, dumping every query result. A fingerprint is recorded only if it
repeats across all passes and both runs. Every dumped query that has a
`SparkEntry.oracleSql` entry is also compared against DuckDB over the same
input tables, with the comparison of tools/check.py; any mismatch stops the
recording.
"""
import importlib.util
import json
import os
import shutil
import sys
import time

import run


def record(name, wl, data):
    dump = os.path.join(run.WORK, "record", name)
    shutil.rmtree(dump, ignore_errors=True)
    fps = {}
    for seed in (1, 2):
        # a traced run makes 1 + 2 * warm passes, at most 1 + 2 * MAX_WARM
        rep = run.launch(name, wl, seed, 2 * run.MAX_WARM, False, data,
                         time.time() + 1800, dump=dump)
        for p in rep["passes"]:
            for c in p["checks"]:
                if not c["ok"]:
                    raise SystemExit(f"{name}: {c['name']} failed: {c.get('error')}")
                fps.setdefault(c["name"], set()).add(c["fp"])
    unstable = sorted(k for k, v in fps.items() if len(v) != 1)
    if unstable:
        raise SystemExit(f"{name}: results differ between passes or runs: {unstable}")
    spec = importlib.util.spec_from_file_location(
        "check", os.path.join(run.ROOT, "tools", "check.py"))
    check = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(check)
    if check.main(data, dump) != 0:
        raise SystemExit(f"{name}: DuckDB oracle mismatch")
    return {k: v.pop() for k, v in sorted(fps.items())}


def main(names):
    sp = run.spec()
    os.makedirs(run.WORK, exist_ok=True)
    run.build(os.path.join(run.WORK, "build.log"))
    path = os.path.join(run.HERE, "expected.json")
    expected = run.load_json(path) if os.path.exists(path) else {}
    for name in names or sorted(sp["workloads"]):
        expected[name] = record(name, sp["workloads"][name], run.DATA)
        with open(path, "w") as f:
            json.dump(expected, f, indent=1, sort_keys=True)
            f.write("\n")
        print(f"{name}: {len(expected[name])} fingerprints recorded")


if __name__ == "__main__":
    main(sys.argv[1:])
