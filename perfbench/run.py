#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload wordcount --seed 1 --seconds 6 --trace 0

Builds the engine and the JVM driver (once per source state), generates the
workload's inputs from the seed, runs the driver in one JVM on local[N]
(N = cores), verifies every job's output, and prints one JSON line:
end-to-end metrics with --trace 0, per-layer metrics with --trace 1.
See perfbench/README.md for the workloads and the metric glossary.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = HERE / ".work"
sys.path.insert(0, str(HERE))

import gen  # noqa: E402
import stats  # noqa: E402

# Job lists and input sizes.  A run must fit its whole cycle (JVM start,
# warm-up pass, timed passes, oracle check) in about a minute, so sizes
# are small and the lists keep only jobs whose oracle check is fast;
# README.md records what was left out and why.  `ref_pass_s` is a warm
# pass's wall on the 4-vCPU reference host; it turns --seconds into a
# pass count.
WORKLOADS = {
    "wordcount": {
        "kind": "text", "size": {"tokens": 250_000, "vocab": 20_000},
        "jobs": ["holistic_pinned", "holistic_auto", "aggregated", "sql",
                 "sorted_tsv"],
        "inputs": ["input.txt"], "ref_pass_s": 4.0},
    "curation": {
        "kind": "tables", "size": {"sf": 0.001, "docs": 1000},
        "jobs": ["q_kcore", "q_lpa", "q_degree_hist"],
        "inputs": ["documents.parquet"], "ref_pass_s": 3.9},
}
ITER_QUERIES = ["q_kcore", "q_lpa"]  # the round loop and the memoized build
# job_s_tail needs 10 samples beyond its percentile; 24 samples put it at
# p58 or above, clear of the median
TAIL_SAMPLES = 24
JVM_TIMEOUT_S = 150
# A fixed-size heap with fixed generation sizes: the collector does not
# resize anything by timing, so the touched memory (peak_rss_mb) follows
# what the program allocates and retains, not how fast a run went.
JVM_FLAGS = ["-Xms2g", "-Xmx2g", "-XX:+UseParallelGC",
             "-XX:-UseAdaptiveSizePolicy"]
# What the JVM needs opened on JDK 17 when Spark runs outside
# spark-submit (same list as the engine's own build).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


# --------------------------------------------------------------------------
# build

def source_files():
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             HERE / "build.sbt", HERE / "project" / "build.properties"]
    for d in (ROOT / "src" / "main", HERE / "src"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    return files


def build():
    """Compiles the engine and the driver with sbt when the sources changed
    since the last build; returns the runtime classpath."""
    for p in (ROOT / "build.sbt", ROOT / "src" / "main"):
        if not p.exists():
            fail(f"engine sources not found ({p}); run from a full checkout")
    h = hashlib.sha256()
    for p in source_files():
        h.update(str(p.relative_to(ROOT)).encode() + b"\0" + p.read_bytes())
    stamp = h.hexdigest()
    bdir = WORK / "build"
    cp_file = bdir / "classpath.txt"
    if cp_file.exists() and (bdir / "stamp").exists() \
            and (bdir / "stamp").read_text() == stamp:
        return cp_file.read_text().strip()
    bdir.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = Path.home() / ".sbt" / "repositories"
    if "SBT_OPTS" not in env and repos.exists():
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                           f"-Dsbt.repository.config={repos} "
                           "-Dsbt.offline=true -Xmx3g")
    t0 = time.perf_counter()
    with open(bdir / "sbt.log", "w") as log:
        r = subprocess.run(
            ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
             "export perfbench/Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=log,
            stdin=subprocess.DEVNULL, text=True, timeout=840)
    (bdir / "sbt.out").write_text(r.stdout)
    lines = [ln for ln in r.stdout.splitlines() if ln.strip()]
    if r.returncode != 0 or not lines or "perfbench" not in lines[-1]:
        fail(f"sbt build failed (exit {r.returncode}); see {bdir}/sbt.out")
    cp_file.write_text(lines[-1])
    (bdir / "stamp").write_text(stamp)
    print(f"perfbench: built in {time.perf_counter() - t0:.1f}s",
          file=sys.stderr)
    return lines[-1]


# --------------------------------------------------------------------------
# one run

def cpu_times():
    """(steal, total) jiffies of all CPUs, from /proc/stat."""
    f = [int(x) for x in Path("/proc/stat").read_text().split("\n")[0].split()[1:]]
    return f[7], sum(f)


def timed_passes(wl, seconds):
    """The number of timed passes: --seconds worth of reference-host passes,
    and at least enough job walls for job_s_tail.  It depends on the
    arguments only, never on how fast a run goes, so every run of a
    workload pools the same number of samples and the tail reads the same
    rank.  A traced run needs at least U T T U (see Driver)."""
    spec = WORKLOADS[wl]
    return max(math.ceil(TAIL_SAMPLES / len(spec["jobs"])),
               math.ceil(seconds / spec["ref_pass_s"]), 4)


def run_jvm(cp, wl, data_dir, out, args, cpus):
    cmd = ["java", *JVM_FLAGS, f"-Djava.io.tmpdir={out / 'tmp'}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graft.perfbench.Driver",
            "--workload", wl, "--data", str(data_dir), "--out", str(out),
            "--jobs", ",".join(WORKLOADS[wl]["jobs"]),
            "--seed", str(args.seed), "--trace", str(args.trace),
            "--cpus", str(cpus),
            "--passes", str(timed_passes(wl, args.seconds))]
    (out / "tmp").mkdir(parents=True)
    with open(out / "jvm.log", "w") as log:
        p = subprocess.Popen(cmd, cwd=out, stdout=log, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"driver JVM exceeded {JVM_TIMEOUT_S}s; see {out}/jvm.log")
    if rc != 0 or not (out / "record.json").exists():
        tail = (out / "jvm.log").read_text(errors="replace")[-2000:]
        fail(f"driver JVM exited {rc}:\n{tail}")
    return json.loads((out / "record.json").read_text())


def oracle_failures(data_dir, out):
    """Runs the engine's DuckDB oracle compare on the reference results;
    returns {query: problem} for every query that did not pass."""
    res = out / "results"
    if not (res / "oracle_sql.json").exists():
        return {}  # no query produced a warm-up result; all are failed
    expected = set(json.loads((res / "oracle_sql.json").read_text()))
    r = subprocess.run(
        [sys.executable, str(ROOT / "tools" / "check_oracle.py"),
         str(data_dir), str(res)],
        capture_output=True, text=True, timeout=120, stdin=subprocess.DEVNULL)
    (out / "oracle.log").write_text(r.stdout + r.stderr)
    passed = {ln.split()[1] for ln in r.stdout.splitlines()
              if ln.startswith("PASS ")}
    problems = {ln.split()[1].rstrip(":"): ln for ln in r.stdout.splitlines()
                if ln.startswith("FAIL ")}
    for q in expected - passed:
        problems.setdefault(q, f"oracle did not pass {q} (exit {r.returncode})")
    return problems


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    wl, spec = args.workload, WORKLOADS[args.workload]
    cpus = len(os.sched_getaffinity(0))

    cp = build()
    g = gen.generate(WORK / "data", spec["kind"], args.seed, spec["size"])
    data_dir = Path(g["dir"])
    out = WORK / "runs" / f"{wl}-s{args.seed}-t{args.trace}"
    shutil.rmtree(out, ignore_errors=True)
    out.mkdir(parents=True)
    steal0, total0 = cpu_times()
    rec = run_jvm(cp, wl, data_dir, out, args, cpus)
    steal1, total1 = cpu_times()

    failures = list(rec["failures"])
    if spec["kind"] == "tables":
        for q, why in sorted(oracle_failures(data_dir, out).items()):
            # a wrong reference makes every pass of that query wrong
            for p in [rec["warmup"], *rec["passes"]]:
                for j in p["jobs"]:
                    if j["job"] == q and j["ok"]:
                        j["ok"] = False
            failures.append({"pass": "all", "job": q, "error": why})
    for f in failures:
        print(f"FAILED {wl}/{f['job']} (pass {f['pass']}): {f['error']}",
              file=sys.stderr)

    jobs = [j for p in [rec["warmup"], *rec["passes"]] for j in p["jobs"]]
    attempted = len(jobs)
    failed = sum(not j["ok"] for j in jobs)
    input_mb = sum((data_dir / f).stat().st_size for f in spec["inputs"]) / 1e6
    summary = {
        "workload": wl, "seed": args.seed, "trace": args.trace, "cpus": cpus,
        "input": {"checksum": g["checksum"], "cached": g["cached"],
                  "gen_s": g["gen_s"], "input_mb": input_mb},
        "orders": [p["order"] for p in rec["passes"]],
        "warmup": {"wall_s": rec["warmup"]["wall_s"],
                   "jobs": {j["job"]: j["wall_s"] for j in rec["warmup"]["jobs"]}},
        # share of CPU time the host took from this machine during the run
        "steal_frac": (steal1 - steal0) / max(1, total1 - total0),
        "failures": failures}
    if args.trace:
        metrics = per_layer(rec, wl, cpus, data_dir, out, summary)
    else:
        metrics = end_to_end(rec, input_mb, summary)
    (out / "summary.json").write_text(json.dumps(summary, indent=1))
    print(json.dumps({"run": summary}))
    print(json.dumps({"correct": failed == 0 and not failures,
                      "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


# --------------------------------------------------------------------------
# metrics

def m(value, unit):
    return {"value": value, "unit": unit}


def end_to_end(rec, input_mb, summary):
    """Pools the timed passes; the cold warm-up pass belongs to set-up."""
    passes = [p["wall_s"] for p in rec["passes"]]
    walls = [j["wall_s"] for p in rec["passes"] for j in p["jobs"]]
    pass_s = stats.median(passes)
    tail, pct, n = stats.tail(walls)
    s = rec["setup"]
    summary["job_s_tail"] = {"percentile": pct, "samples": n}
    summary["setup_phases_s"] = {k: v - s["jvm_start"] for k, v in s.items()}
    return {
        "pass_s": m(pass_s, "s"),
        "mb_per_s": m(input_mb / pass_s, "MB/s"),
        "job_s_p50": m(stats.median(walls), "s"),
        "job_s_tail": m(tail, "s"),
        "setup_s": m(s["warmup_done"] - s["jvm_start"], "s"),
        "peak_rss_mb": m(rec["peak_rss_kb"] / 1024, "MB"),
    }


def per_layer(rec, wl, cpus, data_dir, out, summary):
    """Per-layer metrics from the traced passes: each is summed (or taken)
    per pass, then the median over traced passes is reported."""
    tr = rec["trace"]
    spans = {s["id"]: s for s in rec["spans"]}
    by_name = {s["name"]: s for s in rec["spans"]}
    traced = [p for p in rec["passes"] if p["traced"]]
    untraced = [p for p in rec["passes"] if not p["traced"]]

    def pass_of(group):  # "pass3/q_kcore/construct" -> 3
        return int(group.split("/")[0][4:]) if group else None

    jobs_by_group, stages_by_group, sql_by_group = {}, {}, {}
    for j in tr["jobs"]:
        jobs_by_group.setdefault(j["group"], []).append(j)
    for s in tr["stages"]:
        stages_by_group.setdefault(s["group"], []).append(s)
    for s in tr["sql"]:
        sql_by_group.setdefault(s["group"], []).append(s)

    # spans file: the driver's spans plus Spark jobs and SQL statements as
    # children of the job phase (job group) that caused them
    all_spans = [dict(s) for s in rec["spans"]]
    for kind, rows in (("spark_job", tr["jobs"]), ("sql", tr["sql"])):
        for r in rows:
            if r["group"] in by_name and r["end"] >= 0:
                all_spans.append({
                    "id": f"{kind}{r['id']}", "name": f"{kind} {r['id']}",
                    "parent": by_name[r["group"]]["id"],
                    "start": r["start"] / 1e3, "end": r["end"] / 1e3})
    (out / "spans.json").write_text(json.dumps(all_spans))

    tokens = 0
    if wl == "wordcount":
        for ln in (data_dir / "expected.tsv").read_text(encoding="utf-8").splitlines():
            tokens += int(ln.rsplit("\t", 1)[1])

    def per_pass(p):
        groups = [g for g in jobs_by_group.keys() | stages_by_group.keys()
                  | sql_by_group.keys() if g and pass_of(g) == p["pass"]]
        st = [s for g in groups for s in stages_by_group.get(g, [])]
        tot = {k: sum(s[k] for s in st) for k in
               ("tasks", "run_ms", "input_bytes", "input_records",
                "shuffle_write_bytes", "shuffle_write_records",
                "shuffle_read_bytes", "spill_disk_bytes", "output_bytes")}
        ph = {"analysis": 0.0, "optimization": 0.0, "planning": 0.0}
        # a query execution carries no job group; it belongs to the pass
        # whose span contains the end of its last planning phase
        ps = spans[p["span"]]
        for q in tr["phases"]:
            if ps["start"] <= q["at"] / 1e3 <= ps["end"]:
                for k in ph:
                    ph[k] += q.get(k, 0) / 1e3
        r = {
            "tables.input_mb": tot["input_bytes"] / 1e6,
            "tables.input_rows": tot["input_records"],
            "plans.analysis_s": ph["analysis"],
            "plans.optimization_s": ph["optimization"],
            "plans.planning_s": ph["planning"],
            "spark.sched.jobs": sum(len(jobs_by_group.get(g, [])) for g in groups),
            "spark.sched.stages": len(st),
            "spark.sched.tasks": tot["tasks"],
            "spark.sched.task_s": tot["run_ms"] / 1e3,
            "spark.sched.driver_frac": 1 - tot["run_ms"] / 1e3 / (p["wall_s"] * cpus),
            "spark.shuffle.write_mb": tot["shuffle_write_bytes"] / 1e6,
            "spark.shuffle.read_mb": tot["shuffle_read_bytes"] / 1e6,
            "spark.shuffle.records": tot["shuffle_write_records"],
            "spark.shuffle.spill_mb": tot["spill_disk_bytes"] / 1e6,
            "jvm.gc_s": p["gc_s"],
            "jvm.peak_exec_mb": max([s["peak_exec_mem"] for s in st] or [0]) / 1e6,
            "operators.construct_s": sum(j.get("construct_s", 0) for j in p["jobs"]),
            "operators.execute_s": sum(j.get("execute_s", 0) for j in p["jobs"]),
        }
        # driver-side time: the part of each job phase no Spark job covers
        self_s = 0.0
        for j in p["jobs"]:
            for ph_name in ("construct", "execute"):
                sp = by_name.get(f"pass{p['pass']}/{j['job']}/{ph_name}")
                if sp:
                    kids = [(x["start"] / 1e3, x["end"] / 1e3)
                            for x in jobs_by_group.get(sp["name"], []) if x["end"] >= 0]
                    self_s += stats.self_time((sp["start"], sp["end"]), kids)
        r["operators.driver_self_s"] = self_s
        walls = {j["job"]: j["wall_s"] for j in p["jobs"]}
        pre = "mr.job_s." if wl == "wordcount" else "operators.query_s."
        for name in WORKLOADS[wl]["jobs"]:
            r[pre + name] = walls[name]
        if wl == "wordcount":
            g = f"pass{p['pass']}/sorted_tsv/execute"
            r["mr.sink_mb"] = sum(s["output_bytes"] for s in stages_by_group.get(g, [])) / 1e6
            r["mr.combine_ratio"] = tot["shuffle_write_records"] / (tokens * len(p["jobs"]))
        for q in ITER_QUERIES:
            g = f"pass{p['pass']}/{q}/construct"
            durs = [(x["end"] - x["start"]) / 1e3 for x in jobs_by_group.get(g, [])
                    if x["end"] >= 0]
            r[f"operators.iter.jobs.{q}"] = len(durs)
            r[f"operators.iter.job_s_p50.{q}"] = stats.median(durs) if durs else 0.0
        return r

    rows = [per_pass(p) for p in traced]
    out_m = {}
    for name in METRIC_UNITS:
        vals = [r.get(name, 0) for r in rows]
        out_m[name] = m(stats.median(vals), METRIC_UNITS[name])
    overhead = (stats.median([p["wall_s"] for p in traced])
                / stats.median([p["wall_s"] for p in untraced]))
    out_m["trace.overhead"] = m(overhead, "ratio")
    # the memos are built once per session, in the warm-up pass: every
    # timed pass hits them
    out_m["operators.memo.build_s"] = m(
        sum(j["memo_build_s"] for j in rec["warmup"]["jobs"]), "s")
    summary["per_pass_layers"] = rows
    return out_m


def _layer_units():
    u = {
        "tables.input_mb": "MB", "tables.input_rows": "count",
        "plans.analysis_s": "s", "plans.optimization_s": "s",
        "plans.planning_s": "s",
        "spark.sched.jobs": "count", "spark.sched.stages": "count",
        "spark.sched.tasks": "count", "spark.sched.task_s": "s",
        "spark.sched.driver_frac": "ratio",
        "spark.shuffle.write_mb": "MB", "spark.shuffle.read_mb": "MB",
        "spark.shuffle.records": "count", "spark.shuffle.spill_mb": "MB",
        "jvm.gc_s": "s", "jvm.peak_exec_mb": "MB",
        "operators.construct_s": "s", "operators.execute_s": "s",
        "operators.driver_self_s": "s",
        "mr.combine_ratio": "ratio", "mr.sink_mb": "MB",
    }
    for name in WORKLOADS["wordcount"]["jobs"]:
        u[f"mr.job_s.{name}"] = "s"
    for name in WORKLOADS["curation"]["jobs"]:
        u[f"operators.query_s.{name}"] = "s"
    for q in ITER_QUERIES:
        u[f"operators.iter.jobs.{q}"] = "count"
        u[f"operators.iter.job_s_p50.{q}"] = "s"
    return u


METRIC_UNITS = _layer_units()

if __name__ == "__main__":
    main()
