"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Builds the program from the checkout's sources (perfbench/build.py), makes
the workload's inputs from the seed, runs the JVM harness
(perfbench/harness), checks every output, and prints one line per metric
followed by one JSON object as the last line of standard output:
`{"correct", "attempted", "failed", "metrics"}`. With `--trace 0` the metrics
are the end-to-end ones of BENCHMARK.json; with `--trace 1` the per-layer
ones, from a separate traced run. Exits non-zero on any wrong output.
"""

import argparse
import json
import os
import random
import shutil
import subprocess
import sys
import threading
import time
import zipfile

import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402

ROOT = build.ROOT
BENCH = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
SUITE = json.load(open(os.path.join(HERE, "suite.json")))
# the suite's input: orders, lineitem, events and documents of the
# smallest scale factor (sf0.001) of the program's test data, copied as is
TABLES = os.path.join(HERE, "tables")
CORES = min(2, os.cpu_count() or 1)
# A steady pass of either workload takes about this long on a 4-vCPU host.
# A run makes one steady pass per PASS_S of --seconds: a count fixed by the
# arguments, so every run measures the same passes of the JIT warm-up curve.
PASS_S = 6
# A run must end within 180 s once the build is done. The harness gets a
# fixed allowance for JVM start, set-up and the cold pass, plus one per
# steady pass (each several times a steady pass's usual length); a
# --seconds whose passes the limit cannot hold is refused before the run.
COLD_ALLOWANCE_S = 60
PASS_ALLOWANCE_S = 25
LIMIT_S = 170

# JVM flags spark-submit would pass (build.sbt's javaOptions)
JVM_FLAGS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "jdk.internal.ref", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")] + [
    "-XX:+IgnoreUnrecognizedVMOptions", "--add-modules=jdk.incubator.vector",
    "-Djdk.reflect.useDirectMethodHandle=false",
    "-Dio.netty.tryReflectionSetAccessible=true",
    "--enable-native-access=ALL-UNNAMED", "-Xmx2g",
    "-XX:-UsePerfData"]  # no hsperfdata file outside the checkout


class Jvm:
    """One harness process. `ready_s` is the time from spawning it until
    the Spark session existed (the line READY on its stdout)."""

    def __init__(self, classpath, work, mode, args, log):
        tmp = os.path.join(work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        self.result = os.path.join(work, f"result-{mode}-{time.monotonic_ns()}.json")
        cmd = (["java"] + JVM_FLAGS + [
            f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
            f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
            "-cp", classpath, "perfbench.Harness", mode, str(CORES), self.result]
            + args)
        self.log = open(log, "a")
        env = {k: v for k, v in os.environ.items() if not k.startswith("SMTP_")}
        t0 = time.monotonic()
        self.proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE,
                                     stderr=self.log, text=True, env=env)
        self.ready_s = None

        def drain():
            for line in self.proc.stdout:
                if self.ready_s is None and line.strip() == "READY":
                    self.ready_s = time.monotonic() - t0
                self.log.write(line)

        self.reader = threading.Thread(target=drain, daemon=True)
        self.reader.start()

    def wait(self, timeout):
        try:
            code = self.proc.wait(timeout=timeout)
        finally:
            if self.proc.poll() is None:
                self.proc.kill()
                self.proc.wait()
            self.reader.join()
            self.log.close()
        if code != 0 or self.ready_s is None:
            raise RuntimeError(f"harness exited with {code}; see its log")
        with open(self.result) as f:
            return json.load(f)


# ---- output checks ----------------------------------------------------------

def read_table(parquet_dir):
    return pq.read_table(parquet_dir).to_pylist()


def table_ok(got, want):
    if len(got) != len(want):
        return False
    got = sorted(got, key=lambda r: r["row_idx"])
    for g, w in zip(got, want):
        for k, v in w.items():
            if g.get(k) != v:
                return False
    return True


def output_files(pass_dir):
    """relative output -> comparable content. Spark part-file names carry a
    random id and zip entries a timestamp, so part files are keyed by their
    output directory and xlsx files by their entries' contents."""
    out = {}
    for dirpath, _, files in os.walk(pass_dir):
        for f in files:
            p = os.path.join(dirpath, f)
            rel = os.path.relpath(p, pass_dir)
            if f.startswith("part-"):
                rel = os.path.join(os.path.dirname(rel), "part-*" + f[f.index("."):])
            if f.endswith(".crc") or f == "_SUCCESS":
                continue
            if f.endswith(".xlsx"):
                with zipfile.ZipFile(p) as z:
                    out[rel] = {n: z.read(n) for n in z.namelist()}
            else:
                out[rel] = open(p, "rb").read()
    return out


def dir_stats(d):
    n = size = 0
    for dirpath, _, files in os.walk(d):
        for f in files:
            n += 1
            size += os.path.getsize(os.path.join(dirpath, f))
    return n, size


# ---- workloads ---------------------------------------------------------------

def run_report(name, seed, steady, trace, classpath, work, log, out, deadline):
    shape = gen.SHAPES[name]
    t0 = time.monotonic()
    manifest = gen.generate(work, shape, seed)
    expected = gen.expected_tables(shape, seed)
    out["bench.input_s"] = time.monotonic() - t0
    jvm = Jvm(classpath, work, "report", [
        "--passes", str(steady), "--trace", str(trace),
        "--base", manifest["base"], "--spec", manifest["spec"],
        "--recipients", manifest["recipients"],
        "--out", os.path.join(work, "out")], log)
    res = jvm.wait(deadline - time.monotonic())
    passes = res["passes"]
    ents = manifest["entities"]
    tag = manifest["spec"]

    attempted = failed = 0
    landings = {}
    for p in passes:
        for e in ents:
            attempted += 1
            stem = os.path.join(p["out"], f"funnel_report-{e}-{tag}")
            try:
                ok = table_ok(read_table(stem + ".parquet"), expected[e])
                landings.setdefault(p["pass"], []).append(
                    os.stat(stem + ".xlsx").st_mtime_ns)
            except (OSError, ValueError):
                ok = False
            failed += 0 if ok else 1
    if not trace:
        warm = passes[1:]
        first, gaps = [], []
        for p in warm:
            t = sorted(landings.get(p["pass"], []))
            if t:
                print(f"pass {p['pass']}: {p['wall_s']:.3f} s, entities land at "
                      + " ".join(f"{(x - p['start_epoch_ns']) / 1e9:.3f}" for x in t))
                first.append((t[0] - p["start_epoch_ns"]) / 1e9)
                # the gaps between successive landings; the first
                # entity's latency from the call's start is first_report_s
                gaps += [(b - a) / 1e9 for a, b in zip(t, t[1:])]
        m = {"cold_s": [passes[0]["wall_s"]], "run_s": [p["wall_s"] for p in warm],
             "first_report_s": first, "entity_p50_s": gaps, "entity_p90_s": gaps}
        return m, attempted, failed, jvm.ready_s, True

    # traced run: pass 0 is RunReports.run itself, every later pass the
    # traced mirror; outputs and job counts must agree
    base_files = output_files(passes[0]["out"])
    base_jobs = passes[0]["layers"]["exec.jobs"]
    faithful = True
    for p in passes[1:]:
        if output_files(p["out"]) != base_files:
            faithful = False
            print(f"trace: pass {p['pass']} outputs differ from RunReports.run")
        if p["layers"]["exec.jobs"] != base_jobs:
            faithful = False
            print(f"trace: pass {p['pass']} ran {p['layers']['exec.jobs']:.0f} "
                  f"jobs, RunReports.run ran {base_jobs:.0f}")
    per_pass = {}
    for p in passes[1:]:
        L = dict(p["layers"])
        L["exec.busy_frac"] = L["exec.task_run_s"] / (p["wall_s"] * CORES)
        L["catalyst.executions_per_entity"] = L["catalyst.executions"] / len(ents)
        L["exec.jobs_per_entity"] = L["exec.jobs"] / len(ents)
        L["scan.read_amp"] = L["scan.bytes_read"] / manifest["covered_bytes"]
        L["sinks.files_written"], L["sinks.bytes_written"] = dir_stats(p["out"])
        for k, v in L.items():
            per_pass.setdefault(k, []).append(v)
    out["trace.input_files"] = manifest["files"]
    out["trace.input_rows"] = manifest["rows"]
    out["trace.input_bytes"] = manifest["bytes"]
    return {**per_pass, **jvm_metrics(res)}, attempted, failed, jvm.ready_s, faithful


def jvm_metrics(res):
    return {"jvm.gc_s": [res["gc_s"]], "jvm.heap_peak_mb": [res["heap_peak_mb"]],
            "jvm.rss_peak_mb": [res["rss_peak_mb"]]}


def run_suite(seed, steady, trace, classpath, work, log, out, deadline):
    queries = list(SUITE["queries"])
    random.Random(seed).shuffle(queries)  # the seed only permutes the order
    jvm = Jvm(classpath, work, "suite", [
        "--passes", str(steady), "--trace", str(trace),
        "--data", TABLES,
        "--queries", ",".join(queries)], log)
    res = jvm.wait(deadline - time.monotonic())
    passes = res["passes"]
    attempted = failed = 0
    for p in passes:
        attempted += len(queries)
        failed += len(p["errors"])
        for q, e in p["errors"].items():
            print(f"suite: {q} failed in pass {p['pass']}: {e}")
    for q in queries:
        if res["hashes"].get(q) != SUITE["hashes"].get(q):
            failed += 1
            print(f"suite: {q} result hash {res['hashes'].get(q)} "
                  f"!= recorded {SUITE['hashes'].get(q)}")
    warm = passes[1:]
    for p in passes:
        print(f"pass {p['pass']}: {p['slot_s']:.3f} s, " + " ".join(
            f"{q} {t:.3f}" for q, t in p["times"].items()))
    if not trace:
        per_query = [t for p in warm for t in p["times"].values()]
        m = {"cold_s": [passes[0]["slot_s"]], "run_s": [p["slot_s"] for p in warm],
             # the frozen list's first query: a fixed query whatever the
             # seed's order, so the figure compares across runs
             "first_report_s": [p["times"][SUITE["queries"][0]] for p in warm],
             "entity_p50_s": per_query, "entity_p90_s": per_query}
        return m, attempted, failed, jvm.ready_s, True
    per_pass = {}
    for p in warm:
        L = dict(p["layers"])
        L["exec.busy_frac"] = L["exec.task_run_s"] / (p["slot_s"] * CORES)
        for q, t in p["times"].items():
            L[f"query.{q}.s"] = t
        for k, v in L.items():
            per_pass.setdefault(k, []).append(v)
    return {**per_pass, **jvm_metrics(res)}, attempted, failed, jvm.ready_s, True


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    names = [w["name"] for w in BENCH["workloads"]]
    if a.workload not in names:
        raise SystemExit(f"unknown workload {a.workload}; known: {names}")
    steady = max(1, round(a.seconds / PASS_S))
    budget = COLD_ALLOWANCE_S + PASS_ALLOWANCE_S * steady
    if budget > LIMIT_S:
        raise SystemExit(
            f"--seconds {a.seconds:g} asks for {steady} steady passes, which "
            f"may need {budget} s; a run must end within {LIMIT_S} s, so use "
            f"--seconds {PASS_S * ((LIMIT_S - COLD_ALLOWANCE_S) // PASS_ALLOWANCE_S)} or less")
    classpath = build.build()
    deadline = time.monotonic() + budget

    work = os.path.join(build.BUILD, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    log = os.path.join(work, "harness.log")
    out = {}
    try:
        run = (run_suite if a.workload == "suite_mix"
               else lambda *x: run_report(a.workload, *x))
        m, attempted, failed, ready, faithful = run(
            a.seed, steady, a.trace, classpath, work, log, out, deadline)
        if not a.trace:
            m["setup_s"] = [ready]
    except Exception as e:  # noqa: BLE001 - reported, then non-zero exit
        sys.stderr.write(f"benchmark failed: {e}\n")
        if os.path.exists(log):
            sys.stderr.write(open(log).read()[-3000:])
        raise SystemExit(2)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    wanted = BENCH["per_layer" if a.trace else "end_to_end"]
    metrics = {}
    for spec in wanted:
        # the other workload's layer metrics read 0
        values = m.get(spec["name"], [0.0])
        p = 90 if spec["name"].endswith("_p90_s") else 50
        v = stats.percentile(values, p)
        tail = stats.tail_percentile(len(values))
        print(f"{spec['name']:<34} {v:>14.6f} {spec['unit']:<6} n={len(values)}"
              + (f" p{tail:g}={stats.percentile(values, tail):.6f}" if tail else ""))
        metrics[spec["name"]] = {"value": v, "unit": spec["unit"]}
    for k, v in sorted(out.items()):
        print(f"{k:<34} {v:>14.6f}")
    print(f"{'fail_frac':<34} {failed / attempted:>14.6f} ratio  n={attempted}")
    correct = failed == 0 and faithful
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    if not correct:
        raise SystemExit(1)


if __name__ == "__main__":
    main()
