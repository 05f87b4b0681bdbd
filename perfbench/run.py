#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one JVM.

Usage (from the checkout root):
  python3 perfbench/run.py --workload mor_scan --seed 1 --seconds 10 --trace 0

Builds the program and the benchmark code from source (perfbench/build.py),
runs the workload's JVM (perfbench/src, `perfbench.Main`), checks its
outputs, prints a human-readable report and, as the last stdout line, one
JSON object: {"correct", "attempted", "failed", "metrics"}. With --trace 0
the metrics are the end-to-end ones, with --trace 1 the per-layer ones of
BENCHMARK.json. Everything the run writes stays under .bench_build/.
See perfbench/README.md.
"""
import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # the run writes nothing outside .bench_build/
import build  # noqa: E402

ROOT = build.ROOT
WORKLOADS = ("mor_scan", "curate")
# The run must end within 180 s; the JVM gets what is left of this after
# the build.
DEADLINE_S = 170
# Per-operation metric names of each workload, reported beside the
# end-to-end metrics (operation kind -> metric name).
OP_METRICS = {
    "mor_scan": ["snapshot_read", "time_travel_read", "incremental_read",
                 "read_optimized", "point_read", "partition_read"],
    "curate": ["dedup_minhash_lsh", "dedup_ngram_jaccard"],
}



def benchmark_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def cores() -> int:
    try:
        n = len(os.sched_getaffinity(0))
    except AttributeError:
        n = os.cpu_count() or 1
    return max(1, min(4, n))


def jvm_command(args, work, out):
    opens = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
    cmd = ["java", "-Xmx2g", "-XX:+UseParallelGC",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           f"-Dderby.system.home={os.path.join(work, 'derby')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in opens:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return cmd + ["-cp", build.classpath(), "perfbench.Main",
                  "--workload", args.workload, "--seed", str(args.seed),
                  "--seconds", str(args.seconds), "--trace", str(args.trace),
                  "--work", work, "--out", out, "--cores", str(cores())]


def run_jvm(cmd, log_path, timeout):
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=ROOT)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            return None


# ---- curate: each operator against its DuckDB oracle ------------------------

def _kind(t: str) -> str:
    t = t.upper()
    if t in ("TINYINT", "SMALLINT", "INTEGER", "BIGINT", "HUGEINT", "UTINYINT",
             "USMALLINT", "UINTEGER", "UBIGINT"):
        return "int"
    if t in ("FLOAT", "DOUBLE"):
        return "float"
    if t.startswith("DECIMAL"):
        return "decimal"
    return t


def _sort_key(row):
    return [(v is None, repr(type(v)), v if isinstance(v, (int, float, str, bytes)) else repr(v))
            for v in row]


def _canon(rel):
    cols = sorted(range(len(rel.columns)), key=lambda i: rel.columns[i])
    names = [rel.columns[i] for i in cols]
    kinds = [_kind(str(rel.types[i])) for i in cols]
    rows = [tuple(r[i] for i in cols) for r in rel.fetchall()]
    return names, kinds, sorted(rows, key=_sort_key)


def curate_oracle(oracle):
    """(operator, ok, detail) for every operator: its Spark result against
    `SparkEntry.oracleSql` run by DuckDB on the same seeded corpus."""
    import duckdb
    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS SELECT * FROM "
            f"read_parquet('{oracle['corpus']}/documents.parquet/*.parquet')")
    results = []
    for op in oracle["ops"]:
        try:
            got = _canon(con.sql(f"SELECT * FROM read_parquet('{op['out']}/*.parquet')"))
            exp = _canon(con.sql(op["sql"]))
            if got[0] != exp[0]:
                results.append((op["name"], False, f"columns {got[0]} != {exp[0]}"))
            elif got[1] != exp[1]:
                results.append((op["name"], False, f"types {got[1]} != {exp[1]}"))
            elif got[2] != exp[2]:
                results.append((op["name"], False,
                                f"rows differ: {len(got[2])} got, {len(exp[2])} expected"))
            else:
                results.append((op["name"], True, f"{len(got[2])} rows equal"))
        except Exception as e:  # an oracle error is a failed check, never a pass
            results.append((op["name"], False, f"error: {e}"))
    con.close()
    return results


# ---- report -----------------------------------------------------------------

def timing(samples):
    """'median (n=…, pXX=…)' text for a list of seconds."""
    if not samples:
        return "no samples"
    s = sorted(samples)
    txt = f"median {statistics.median(s):.4f} s (n={len(s)}"
    for p in (99.9, 99.0, 95.0, 90.0):
        if len(s) * (1 - p / 100) >= 10:
            q = statistics.quantiles(s, n=1000, method="inclusive")[int(p * 10) - 1]
            txt += f", p{p:g}={q:.4f} s"
            break
    return txt + ")"


def end_to_end(workload, res):
    """Every time is CPU time of the JVM's threads, JIT compiler threads
    excluded (Cpu in Common.scala): on a shared host the hypervisor's
    stolen time raised wall time by up to 2x in some runs and CPU time by
    about a fifth. setup_s: median of the set-up repeats. round_cpu_s: one round
    of the operation mix, summed from each kind's median. op_geomean_cpu_s:
    geometric mean of the kinds' medians, so every kind weighs the same.
    peak_rss_mb: the JVM's peak resident set."""
    kinds = OP_METRICS[workload]
    if any(not res["ops_cpu"].get(k) for k in kinds):
        return {}
    medians = {k: statistics.median(res["ops_cpu"][k]) for k in kinds}
    return {
        "setup_s": statistics.median(res["setup_cpu_s"]),
        "round_cpu_s": sum(medians.values()),
        "op_geomean_cpu_s": math.exp(sum(math.log(m) for m in medians.values()) / len(medians)),
        "peak_rss_mb": res["peak_rss_mb"],
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args()
    t_start = time.monotonic()
    spec = benchmark_spec()
    build.build()

    work = os.path.join(build.OUT, "run", f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(work, "result.json")
    log = os.path.join(work, "jvm.log")
    try:
        rc = run_jvm(jvm_command(args, work, out), log,
                     DEADLINE_S - (time.monotonic() - t_start))
        if rc != 0 or not os.path.exists(out):
            with open(log) as f:
                tail = f.readlines()[-40:]
            sys.stderr.write("".join(tail))
            sys.stderr.write(f"perfbench: JVM {'timed out' if rc is None else f'exited {rc}'}\n")
            return 1
        with open(out) as f:
            res = json.load(f)
        checks = [(c["name"], c["ok"], c["detail"]) for c in res["checks"]]
        failed = res["failed"]
        if res["oracle"]:
            for name, ok, detail in curate_oracle(res["oracle"]):
                checks.append((name, ok, detail))
                if not ok:
                    failed += len(res["ops"].get(name, [])) + len(res["traced_ops"].get(name, []))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    attempted = res["attempted"]
    failed = min(failed, attempted)
    correct = all(ok for _, ok, _ in checks) and failed == 0 and attempted > 0

    w = args.workload
    print(f"perfbench {w} seed={args.seed} seconds={args.seconds:g} trace={args.trace} "
          f"cores={res['cores']}")
    print("inputs: " + ", ".join(f"{k}={v}" for k, v in res["inputs"].items()))
    print("phases: " + ", ".join(f"{k}={v:.2f}" for k, v in res["phases"].items()) +
          f"; host CPU stolen while timed: {100 * res['steal_share']:.1f}%")
    print(f"setup wall: {timing(res['setup_s'])}")
    print(f"setup CPU: {timing(res['setup_cpu_s'])}")
    name = "curate_pass" if w == "curate" else "round"
    print(f"{name}_s wall (measured rounds): {timing(res['rounds_s'])}")
    print(f"{name}_cpu_s (measured rounds): {timing(res['rounds_cpu_s'])}")
    print(f"{'curate_first_pass' if w == 'curate' else 'first_round'}_s "
          f"(first warm-up round, fresh session): {res['first_round_s']:.4f} s")
    for kind in OP_METRICS[w]:
        print(f"{kind}_s wall: {timing(res['ops'].get(kind, []))}")
        print(f"{kind}_cpu_s: {timing(res['ops_cpu'].get(kind, []))}")
    for name, ok, detail in checks:
        print(f"check {name}: {'ok' if ok else 'FAILED'} ({detail})")
    print(f"operations: attempted={attempted} failed={failed}")
    for e in res["errors"]:
        print(f"error: {e}")

    if args.trace:
        layers = res["layers"]
        print(f"traced rounds: {res['traced_rounds']}, untraced rounds: {len(res['rounds_s'])}, "
              f"spans: {res['spans']}")
        for op, vals in sorted(res["layers_by_op"].items()):
            print(f"by op {op}: " + ", ".join(f"{k}={v:.6g}" for k, v in sorted(vals.items())))
        # each operation kind's median latency and CPU time in the run's
        # untraced rounds, 0 for the other workload's kinds, and the wall
        # times beside the CPU-time end-to-end metrics: recorded, not gated
        for kinds in OP_METRICS.values():
            for kind in kinds:
                for suffix, key in (("_s", "ops"), ("_cpu_s", "ops_cpu")):
                    s = res[key].get(kind)
                    layers[f"op.{kind}{suffix}"] = statistics.median(s) if s else 0.0
        layers["wall.setup_s"] = statistics.median(res["setup_s"])
        layers["wall.round_s"] = sum(statistics.median(v) for v in res["ops"].values())
        layers["host.steal_share"] = res["steal_share"]
        missing = [m["name"] for m in spec["per_layer"] if m["name"] not in layers]
        if missing:
            print(f"perfbench: trace lacks {missing}", file=sys.stderr)
            return 1
        metrics = {m["name"]: {"value": layers[m["name"]], "unit": m["unit"]}
                   for m in spec["per_layer"]}
    else:
        e2e = end_to_end(w, res)
        metrics = {}
        for m in spec["end_to_end"]:
            v = e2e.get(m["name"])
            if v is None:
                print(f"perfbench: no samples for {m['name']}", file=sys.stderr)
                return 1
            metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    for name, m in metrics.items():
        print(f"metric {name}: {m['value']:.6g} {m['unit']}")
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
