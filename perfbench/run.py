#!/usr/bin/env python3
"""graft benchmark: one run of one workload, printed as one JSON line.

Usage (from the root of a checkout):
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

A run builds the program and this harness from source if needed
(perfbench/build.sbt, sbt offline), then starts a fresh JVM with the
project's launcher flags (tools/run.sh) on `local[nproc]`. The inputs are
the project's read-only sf0.1 fixtures, kept as they are in
perfbench/data/sf0.1 and never regenerated. The JVM sets the session up
once from JVM start and then SETUPS more times from a stopped session, runs
a cold pass and the warm passes that fit in --seconds over the workload's
items (perfbench/spec.json) in a closed loop with one client, fingerprints
every result, and writes a report; this script checks the fingerprints
against perfbench/expected.json and prints the metrics named in
BENCHMARK.json: the end-to-end ones with --trace 0, the per-layer ones with
--trace 1, after a detail line. The seed only permutes the order of the
items in each warm pass.

Everything a run writes stays under .perfbench_work/ in the checkout; its
temp directory (java.io.tmpdir, spark.local.dir) is emptied first, so sink
tables and state-store checkpoints start empty.

perfbench/record.py re-records expected.json; the benchmark's own tests are
`python3 -m unittest perfbench/test_run.py` and `cd perfbench && sbt test`.
"""
import argparse
import glob
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
DATA = os.path.join(HERE, "data", "sf0.1")
RUN_LIMIT_S = 170
# set-ups from a stopped session after the one from JVM start; setup_s is
# their median
SETUPS = 2
# warm passes: as many as fit in --seconds at PASS_S a pass, from MIN_WARM
# to MAX_WARM; a fixed count per run length, so every run rests on the same
# number of samples. expected.json holds the stream fingerprints of as many
# passes as a traced run with MAX_WARM makes.
PASS_S = 3.0
MIN_WARM = 3
MAX_WARM = 8
TAIL_LADDER = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)
ADD_OPENS = ("java.lang java.lang.invoke java.lang.reflect java.io java.net "
             "java.nio java.util java.util.concurrent "
             "java.util.concurrent.atomic sun.nio.ch sun.nio.cs "
             "sun.security.action sun.util.calendar").split()


def load_json(path):
    with open(path) as f:
        return json.load(f)


def spec():
    return load_json(os.path.join(HERE, "spec.json"))


# ---- statistics -----------------------------------------------------------

def rank(p, n):
    """1-based nearest rank of percentile p among n samples."""
    return max(1, math.ceil(round(p * n / 100.0, 9)))


def percentile(values, p):
    """Nearest-rank percentile."""
    return sorted(values)[rank(p, len(values)) - 1]


def tail(values):
    """The highest percentile of TAIL_LADDER with at least 10 samples beyond
    it, as (percentile, value, samples); (None, None, samples) when there
    are too few samples for any."""
    n = len(values)
    ok = [p for p in TAIL_LADDER if n - rank(p, n) >= 10]
    if not ok:
        return None, None, n
    return ok[-1], percentile(values, ok[-1]), n


def median(values):
    return statistics.median(values) if values else 0.0


# ---- build, data, launch --------------------------------------------------

def sources():
    out = []
    for d in (os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src", "main")):
        out += glob.glob(os.path.join(d, "**", "*.scala"), recursive=True)
    return out + [os.path.join(HERE, "build.sbt")]


def build(log):
    """Compiles the program and the harness unless the classes are newer
    than every source."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        raise SystemExit("perfbench: no program sources (src/main/scala) in this checkout")
    stamp = os.path.join(CLASSES, ".built")
    if os.path.exists(stamp) and all(
            os.path.getmtime(s) <= os.path.getmtime(stamp) for s in sources()):
        return
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "-Dsbt.offline" not in env.get("SBT_OPTS", ""):
        env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip()
    with open(log, "w") as f:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                           cwd=HERE, env=env, stdout=f, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL, timeout=840)
    if r.returncode != 0:
        raise SystemExit(f"perfbench: build failed, see {log}")
    with open(stamp, "w") as f:
        f.write(str(time.time()))


def warm_count(seconds):
    return min(MAX_WARM, max(MIN_WARM, math.floor(seconds / PASS_S)))


def java_cmd(tmp):
    spark_home = os.environ.get("SPARK_HOME") or os.path.dirname(
        os.path.dirname(os.path.realpath(shutil.which("spark-submit") or "spark")))
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    return [java, *opens, f"-Xmx{os.environ.get('SPARK_DRIVER_MEM', '8g')}",
            "-XX:+UseParallelGC", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC", f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.local.dir={os.path.join(tmp, 'spark-local')}",
            f"-Dspark.sql.warehouse.dir={os.path.join(tmp, 'warehouse')}",
            "-cp", f"{CLASSES}{os.pathsep}{os.path.join(spark_home, 'jars', '*')}",
            "graft.perfbench.Main"]


def launch(name, wl, seed, warm, trace, data, deadline, dump=None):
    """Runs the harness JVM in a freshly emptied temp directory and returns
    its report."""
    if not os.path.isfile(os.path.join(data, "lineitem.parquet")):
        raise SystemExit(f"perfbench: no input tables in {data}")
    tmp = os.path.join(WORK, "tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    out = os.path.join(WORK, "out")
    os.makedirs(out, exist_ok=True)
    tag = f"{name}-seed{seed}-trace{int(trace)}"
    report = os.path.join(out, f"{tag}.report.json")
    spans = os.path.join(out, f"{tag}.spans.json")
    for p in (report, spans):
        if os.path.exists(p):
            os.remove(p)
    args = ["--workload", name, "--items", ",".join(wl["items"]),
            "--tables", ",".join(wl["tables"]), "--seed", str(seed),
            "--warm", str(warm), "--setups", str(SETUPS), "--trace", str(int(trace)),
            "--data", data, "--report", report, "--spans", spans]
    if dump:
        args += ["--dump", dump]
    log = os.path.join(out, f"{tag}.log")
    with open(log, "w") as f:
        p = subprocess.Popen(java_cmd(tmp) + args, cwd=tmp, stdout=f,
                             stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
        try:
            code = p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise SystemExit(f"perfbench: run exceeded its time limit, see {log}")
    if code != 0 or not os.path.exists(report):
        raise SystemExit(f"perfbench: harness exited with {code}, see {log}")
    rep = load_json(report)
    rep["spans_file"] = os.path.relpath(spans, ROOT) if trace else None
    return rep


# ---- metrics ----------------------------------------------------------------

def warm(rep, traced=None):
    """The warm passes: all but the cold pass 0."""
    return [p for p in rep["passes"][1:] if traced is None or p["traced"] == traced]


def family(name, families):
    """The query-name family an item belongs to: the longest listed family
    whose prefix (q_<family>_ or q_llm_<family>) starts the name."""
    best = None
    for fam in families:
        for pre in (f"q_{fam}_", f"q_llm_{fam}"):
            if name.startswith(pre) and (best is None or len(fam) > len(best)):
                best = fam
    return best


def checks(rep, expected):
    """(attempted, failed, failure notes) over every result of the run."""
    attempted = failed = 0
    notes = []
    for p in rep["passes"]:
        for c in p["checks"]:
            attempted += 1
            want = expected.get(c["name"])
            if not c["ok"] or c.get("fp") != want:
                failed += 1
                notes.append({"pass": p["pass"], "name": c["name"],
                              "error": c.get("error"), "fp": c.get("fp"), "expected": want})
    return attempted, failed, notes


def end_to_end(rep):
    """End-to-end metrics of an untraced run, and the details behind them.

    The pass costs are CPU seconds of the JVM (all threads) while the items
    run: on a shared host, contention from other tenants stretched the wall
    times of identical runs by up to 2x, and CPU time, the cost a user pays
    per pass, moved far less. The wall times are on the detail line, with
    warm_pass_best_s (the sum over the items of each item's fastest warm
    wall time), the per-query figures and the stream figures."""
    passes = warm(rep)
    lat = [i["latency_s"] for p in passes for i in p["items"]]

    def per_item(key, agg=median):
        # each item counts once: a pooled percentile over a few
        # heterogeneous items jumps between them from run to run
        by_item = {}
        for p in passes:
            for i in p["items"]:
                by_item.setdefault(i["name"], []).append(i[key])
        return {k: agg(v) for k, v in sorted(by_item.items())}

    m = {"setup_s": median(rep["setup_s"]),
         "cold_pass_cpu_s": rep["passes"][0]["cpu_s"],
         "warm_pass_cpu_s": median([p["cpu_s"] for p in passes]),
         "retained_heap_mb": rep["retained_heap_mb"]}
    p, tail_v, n = tail(lat)
    host = [p["layer"] for p in rep["passes"]]
    detail = {"jvm_setup_s": rep["jvm_setup_s"], "setups_s": rep["setup_s"],
              "warm_passes": len(passes),
              "cold_pass_s": rep["passes"][0]["wall_s"],
              "warm_pass_s": median([p["wall_s"] for p in passes]),
              "warm_pass_best_s": sum(per_item("latency_s", min).values()),
              "query_p50_s": median(list(per_item("latency_s").values())),
              "query_cpu_p50_s": median(list(per_item("cpu_s").values())),
              "latency_pooled_p50_s": median(lat), "latency_tail_s": tail_v,
              "latency_tail_percentile": p, "latency_samples": n,
              "item_median_s": per_item("latency_s"),
              "host_steal_pct": median([h["host.steal_pct"] for h in host]),
              "host_load1_max": max(h["host.load1_max"] for h in host)}
    replays = [i for p in passes for i in p["items"] if i["name"].startswith("stream:")]
    if replays:
        mb = [b for i in replays for b in i["batches_s"]]
        mp, mv, mn = tail(mb)
        detail.update({
            "stream_rows_per_s": sum(i["rows"] for i in replays) / sum(i["latency_s"] for i in replays),
            "microbatch_p50_s": median(mb), "microbatch_tail_s": mv,
            "microbatch_tail_percentile": mp, "microbatch_samples": mn})
    return m, detail


def per_layer(rep, names):
    """Per-layer metrics of a traced run: medians over its traced warm
    passes, plus set-up, cold-pass and whole-run figures."""
    tw = warm(rep, traced=True)
    def med(f):
        return median([f(p) for p in tw])
    m = {k: med(lambda p, k=k: p["layer"].get(k, 0)) for k in names
         if any(k in p["layer"] for p in tw)}
    persisted = [p["layer"]["memo.persisted_rdds"] for p in rep["passes"]]
    cold = rep["passes"][0]["layer"]
    m.update({
        "tables.load_s": median(rep["tables.load_s"]),
        "tables.cached_mb": rep["tables.cached_mb"],
        "memo.persisted_growth": persisted[-1] - persisted[1],
        "codegen.cold_compiles": cold["codegen.compiles"],
        "codegen.cold_compile_s": cold["codegen.compile_s"],
        "host.steal_pct": median([p["layer"]["host.steal_pct"] for p in rep["passes"]]),
        "host.load1_max": max(p["layer"]["host.load1_max"] for p in rep["passes"]),
        "trace.overhead": med(lambda p: p["wall_s"]) /
        median([p["wall_s"] for p in warm(rep, traced=False)]) - 1,
    })
    items = lambda p: p["items"]
    m["queries.build_s"] = med(lambda p: sum(i.get("build_s", 0) for i in items(p)))
    m["queries.action_s"] = med(lambda p: sum(i.get("action_s", 0) for i in items(p)))
    for k in ("plans.nodes", "plans.exchanges", "plans.grouped_topk"):
        m[k] = med(lambda p, k=k: sum(i.get(k, 0) for i in items(p)))
    m["functions.queries"] = med(lambda p: sum(1 for i in items(p) if i.get("functions")))
    m["functions.warm_s"] = med(
        lambda p: sum(i["latency_s"] for i in items(p) if i.get("functions")))
    fams = spec()["families"]
    for fam in fams:
        m[f"queries.{fam}.warm_s"] = med(lambda p, fam=fam: sum(
            i["latency_s"] for i in items(p) if family(i["name"], fams) == fam))
    stream = {}
    for p in tw:
        for c in p["checks"]:
            if "progress" in c:
                # stream checks are named <item>#<pass>
                stream.setdefault(c["name"].split("#")[0], []).append(c)
    prog = [x for cs in stream.values() for c in cs for x in c["progress"]]
    for k in ("trigger_ms", "add_batch_ms", "planning_ms", "wal_commit_ms",
              "commit_offsets_ms", "state_commit_ms", "state_update_ms"):
        m[f"streaming.{k}"] = median([x[k] for x in prog])
    for k in ("state_rows", "state_mb", "rocksdb_sst_mb"):
        # the state a replay ends with, summed over scenarios
        m[f"streaming.{k}"] = median([sum(c["progress"][-1][k] for c in cs if c["progress"])
                                      for cs in zip(*stream.values())]) if stream else 0
    m["streaming.rocksdb_written_mb"] = median(
        [sum(x["rocksdb_written_mb"] for c in cs for x in c["progress"])
         for cs in zip(*stream.values())]) if stream else 0
    for scen in spec()["scenarios"]:
        rates = []
        for p in tw:
            its = [i for i in p["items"] if i["name"] == f"stream:{scen}"]
            if its:
                rates.append(sum(i["rows"] for i in its) / sum(i["latency_s"] for i in its))
        m[f"streaming.{scen}.rows_per_s"] = median(rates)
    return {k: m.get(k, 0) for k in names}


def metric_table(names_units, values):
    return {n: {"value": values[n], "unit": u} for n, u in names_units}


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    t0 = time.time()
    bench = load_json(os.path.join(ROOT, "BENCHMARK.json"))
    sp = spec()
    if a.workload not in sp["workloads"]:
        raise SystemExit(f"perfbench: unknown workload {a.workload}")
    wl = sp["workloads"][a.workload]
    os.makedirs(WORK, exist_ok=True)
    build(os.path.join(WORK, "build.log"))
    # a first run also paid for the build; the JVM gets the usual limit
    rep = launch(a.workload, wl, a.seed, warm_count(a.seconds), bool(a.trace), DATA,
                 time.time() + RUN_LIMIT_S - min(time.time() - t0, 10))
    expected = load_json(os.path.join(HERE, "expected.json")).get(a.workload, {})
    attempted, failed, notes = checks(rep, expected)
    e2e, detail = end_to_end(rep)
    if a.trace:
        names = [(m["name"], m["unit"]) for m in bench["per_layer"]]
        metrics = metric_table(names, per_layer(rep, [n for n, _ in names]))
    else:
        names = [(m["name"], m["unit"]) for m in bench["end_to_end"]]
        metrics = metric_table(names, e2e)
    detail.update({"workload": a.workload, "seed": a.seed, "trace": a.trace,
                   "failed_frac": failed / attempted, "failures": notes[:20],
                   "order_first_pass": [i["name"] for i in rep["passes"][0]["items"]][:60],
                   "spans_file": rep["spans_file"], "cpus": rep["cpus"]})
    print(json.dumps({"detail": detail}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
