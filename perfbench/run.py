#!/usr/bin/env python3
"""The graft benchmark: one workload, timed end to end, outputs checked.

    python3 perfbench/run.py --workload anagram_books --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run builds the program and the
harness in `perfbench/harness` with sbt (offline); later runs reuse the
build until a source changes. Inputs are generated from `--seed` under
`.bench_data/`; every benchmark process is a fresh JVM in its own empty
directory under `.bench_work/`, deleted when the run ends. The last line of
stdout is one JSON object: `correct`, `attempted`, `failed` and `metrics`
(end-to-end metrics, or with `--trace 1` the per-layer ones). A failed
query or a wrong output makes the exit code 1.

Workloads (why each was chosen is in BENCHMARK.json), one JVM per run:
  anagram_books   the paper's job over 100 generated .txt books (12 MB):
                  readTxtDir, stopWordsFile, Text.tokens, Anagrams.groups,
                  writeSingleText.
  pipelines_cold  pipe_crawl_e2e then pipe_curate_e2e with a noop sink. The
                  first pass misses the program's asset cache (warc-fixture,
                  curation-gates, fpcatalog), later passes hit it.

End-to-end metrics (untraced): setup_s, launch until the session is up and
Bench's warm-up is done; job_s, the first pass in a fresh process; repeat_s,
the median pass after one warm-up pass in the same session; input_mb_s,
input MB / job_s. Failed queries and wrong outputs are `failed` of
`attempted` in the result line.

Per-layer metrics (traced: a listener, a query-execution listener and
codegen counters, all registered by the harness) and the end-to-end metric
each should move:
  sources.*, operators.tokenize_s/tokens   job_s, input_mb_s  (anagram cuts)
  functions.sortkey_s, operators.group_s   job_s              (anagram cuts)
  exchange.*                               job_s              (task shuffle metrics)
  sink.*                                   job_s, predicted ~0 (anagram cut)
  queries.construct_*/exec_*               job_s, repeat_s    (plan build vs action)
  jobs.total/checkpoint/write              job_s              (by call site)
  streaming.fold_s/write_amp               none kept: probe of pipe_curate_fold's fold
  catalyst.*_ms, codegen.*                 job_s - repeat_s gap
  executor.*                               all; run_s - cpu_s is waiting
  jvm.*, host.calib_s                      setup_s; calib is context only
The anagram cuts force ever longer prefixes of the job, so the five layer
times add up to the whole job (trace.cuts_job_s). trace.overhead_s is the
traced first pass minus the median untraced job_s recorded in this checkout.
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
DATA = os.path.join(ROOT, ".bench_data")
WORK = os.path.join(ROOT, ".bench_work")
OUT = os.path.join(ROOT, ".bench_out")

for _need in ("build.sbt", "src/main/scala/graft", "tools/selfcheck.py"):
    if not os.path.exists(os.path.join(ROOT, _need)):
        sys.exit(f"[perfbench] {_need} not found: run from the root of a checkout of the program")
sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout
sys.path.insert(0, HERE)
import check  # noqa: E402
import gen  # noqa: E402

CPUS = len(os.sched_getaffinity(0))
HEAP = "4g"
CORPUS_MB = 12
RUN_LIMIT_S = 170  # every run after the build ends within this, or fails
WORKLOADS = {
    "anagram_books": {"input": "corpus"},
    "pipelines_cold": {"input": "tables/documents.parquet",
                       "assets": ["curation-gates", "fpcatalog", "warc-fixture"]},
}
with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    _SPEC = json.load(_fh)
END_TO_END = {m["name"]: m["unit"] for m in _SPEC["end_to_end"]}
PER_LAYER = {m["name"]: m["unit"] for m in _SPEC["per_layer"]}


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources_mtime():
    """Newest modification time of the files the build reads."""
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "harness", "build.sbt")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
                os.path.join(HERE, "harness", "src"), os.path.join(HERE, "harness", "project")):
        for d, dirs, names in os.walk(top):
            dirs[:] = [x for x in dirs if x not in ("target", "project")]
            files += [os.path.join(d, n) for n in names]
    return max(os.path.getmtime(f) for f in files)


def build():
    """Compile the program and the harness; return (classpath, jvm options)."""
    stamp = os.path.join(BUILD, "launch.json")
    if os.path.exists(stamp) and os.path.getmtime(stamp) >= sources_mtime():
        with open(stamp) as fh:
            got = json.load(fh)
        return got["classpath"], got["java_options"]
    sbt = shutil.which("sbt")
    if sbt is None:
        sys.exit("[perfbench] sbt is not on PATH")
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SBT_OPTS" not in env:
        repos = os.path.expanduser("~/.sbt/repositories")
        env["SBT_OPTS"] = "-Dsbt.offline=true -Xmx2g" + (
            f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
            if os.path.exists(repos) else "")
    log("building the program and the harness with sbt")
    t0 = time.time()
    build_log = os.path.join(BUILD, "build.log")
    with open(build_log, "w") as fh:
        r = subprocess.run([sbt, "--batch", "-Dsbt.log.noformat=true", "compile",
                            "export Runtime/fullClasspath", "print javaOptions"],
                           cwd=os.path.join(HERE, "harness"), stdout=fh, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL, env=env, timeout=800)
    with open(build_log) as fh:
        lines = [ln.rstrip("\n") for ln in fh if not ln.startswith("[")]
    classpath = [ln for ln in lines if ".jar" + os.pathsep in ln]
    # `print` lists one option a line as "* <option>"; the heap is set per run.
    opts = [ln[2:] for ln in lines if ln.startswith("* ") and not ln.startswith("* -Xmx")]
    if r.returncode != 0 or not classpath or not opts:
        sys.exit(f"[perfbench] build failed (exit {r.returncode}); see {build_log}")
    classpath = classpath[-1]
    with open(stamp, "w") as fh:
        json.dump({"classpath": classpath, "java_options": opts}, fh)
    log(f"built in {time.time() - t0:.1f} s")
    return classpath, opts


def prepare(seed, workload):
    """Generate (or reuse) the seed's inputs; other seeds' inputs are removed."""
    d = os.path.join(DATA, f"seed-{seed}")
    if os.path.isdir(DATA):
        for old in os.listdir(DATA):
            if old != f"seed-{seed}":
                shutil.rmtree(os.path.join(DATA, old))
    facts_path = os.path.join(d, "facts.json")
    facts = {}
    if os.path.exists(facts_path):
        with open(facts_path) as fh:
            facts = json.load(fh)
    if "tables" not in facts:
        facts["tables"] = gen.tables(os.path.join(d, "tables"), seed)
    if workload == "anagram_books" and "corpus" not in facts:
        facts["corpus"] = gen.corpus(d, seed, CORPUS_MB)
        expected, stats = check.anagram_lines(d)
        facts["corpus"].update(stats)
        with open(os.path.join(d, "expected_anagrams.txt"), "w") as fh:
            fh.write("\n".join(expected) + "\n")
    with open(facts_path, "w") as fh:
        json.dump(facts, fh)
    return d, facts


def launch(launcher, workload, data, cpus, seconds, trace, tag, deadline):
    """One fresh JVM in a fresh directory, killed at `deadline`. Returns
    (result, work dir).
    """
    classpath, opts = launcher
    work = os.path.join(WORK, f"{workload}-{tag}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(work, "result.json")
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    # Temp files stay in the run's directory; no hsperfdata file in /tmp.
    cmd = [java, *opts, f"-Xmx{HEAP}", f"-Djava.io.tmpdir={work}/tmp", "-XX:-UsePerfData", "-cp", classpath,
           "graftbench.Harness", "--workload", workload, "--data", data, "--out", out,
           "--cpus", str(cpus), "--seconds", str(seconds), "--trace", str(int(trace))]
    t0 = time.time()
    with open(os.path.join(work, "jvm.log"), "w") as fh:
        r = subprocess.run(cmd, cwd=work, stdout=fh, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL, timeout=max(1.0, deadline - time.time()))
    if r.returncode != 0 or not os.path.exists(out):
        with open(os.path.join(work, "jvm.log")) as fh:
            tail = fh.read()[-2000:]
        raise RuntimeError(f"{workload} process exited {r.returncode}:\n{tail}")
    with open(out) as fh:
        res = json.load(fh)
    res["setup_s"] = res["ready_ms"] / 1e3 - t0
    res["session_s"] = res["session_ms"] / 1e3 - t0
    log(f"{workload} {tag}: setup {res['setup_s']:.2f} s, passes "
        + " ".join(f"{p['total_s']:.2f}" for p in res["passes"]) + f" s, wall {time.time() - t0:.1f} s")
    return res, work


def verify(workload, data, res, work):
    """Untimed output checks for one process. Returns the query executions
    attempted and the failures: executions that threw, checked outputs that
    differ from DuckDB's, and breaks of the cold-state guard.
    """
    failures = [f"{name}: {msg}" for name, msg in res["failed"].items()]
    attempted = sum(len(p["queries"]) for p in res["passes"]) + len(res["failed"])
    spec = WORKLOADS[workload]
    if res["assets_before_job"]:
        failures.append(f"cold-state: assets present before the first pass: {res['assets_before_job']}")
    missing = [a for a in spec.get("assets", []) if a not in res["assets_before_repeat"]]
    if missing:
        failures.append(f"cold-state: assets missing before the repeat: {missing}")
    if workload == "anagram_books":
        with open(os.path.join(data, "expected_anagrams.txt")) as fh:
            expected = fh.read().splitlines()
        for i in range(len(res["passes"])):
            got = check.read_lines(os.path.join(work, "anagrams", f"pass-{i}"))
            if got != expected:
                diff = sorted(set(got) ^ set(expected))[:3]
                failures.append(f"anagram_books pass {i}: {len(got)} lines vs {len(expected)} expected, e.g. {diff}")
    else:
        cdir = os.path.join(work, "check")
        with open(os.path.join(cdir, "oracle_sql.json")) as fh:
            oracles = json.load(fh)
        for name, sql in oracles.items():
            if name in res["failed"]:
                continue
            err = check.compare_query(os.path.join(data, "tables"), os.path.join(cdir, name), sql)
            if err:
                failures.append(f"{name}: oracle mismatch: {err}")
    return attempted, failures


def input_mb(workload, data):
    p = os.path.join(data, WORKLOADS[workload]["input"])
    files = [os.path.join(p, f) for f in os.listdir(p)] if os.path.isdir(p) else [p]
    return sum(os.path.getsize(f) for f in files) / 1e6


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    # A SIGTERM unwinds like an exception, so subprocess.run kills the JVM.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    launcher = build()
    t0 = time.time()
    deadline = t0 + RUN_LIMIT_S
    data, facts = prepare(a.seed, a.workload)
    log(f"inputs ready in {time.time() - t0:.1f} s")
    os.makedirs(OUT, exist_ok=True)
    shutil.rmtree(WORK, ignore_errors=True)  # what a killed run left behind
    untraced_log = os.path.join(OUT, f"{a.workload}-untraced-job_s.txt")
    attempted, failures, works, runs = 0, [], [], {}

    def run(tag, cpus, seconds, trace):
        res, work = launch(launcher, a.workload, data, cpus, seconds, trace, f"{a.seed}-{tag}", deadline)
        works.append(work)
        n, f = verify(a.workload, data, res, work)
        nonlocal attempted
        attempted += n
        failures.extend(f)
        runs[tag] = res

    try:
        if a.trace:
            # The first pass is traced, so no repeat passes are needed.
            run("traced", CPUS, 0, True)
            if a.workload == "anagram_books":
                run("local1", 1, 0, False)
            if not os.path.exists(untraced_log):
                run("untraced", CPUS, 0, False)
                with open(untraced_log, "a") as fh:
                    fh.write(f"{runs['untraced']['passes'][0]['total_s']}\n")
        else:
            run("run", CPUS, a.seconds, False)
    finally:
        for w in works:
            shutil.rmtree(w, ignore_errors=True)

    if a.trace:
        with open(untraced_log) as fh:
            untraced_job = statistics.median(float(x) for x in fh.read().split())
        metrics = trace_metrics(a.workload, runs, untraced_job)
        units = PER_LAYER
        with open(os.path.join(OUT, f"{a.workload}-seed{a.seed}-trace.json"), "w") as fh:
            json.dump({"inputs": facts, "layers": metrics, "call_sites": runs["traced"]["call_sites"],
                       "spans": runs["traced"]["spans"]}, fh, indent=1)
    else:
        res = runs["run"]
        job = res["passes"][0]["total_s"]
        metrics = {
            "setup_s": res["setup_s"],
            "job_s": job,
            "repeat_s": statistics.median(p["total_s"] for p in res["passes"][2:]),
            "input_mb_s": input_mb(a.workload, data) / job,
        }
        units = END_TO_END
        with open(untraced_log, "a") as fh:
            fh.write(f"{job}\n")
    for f in failures:
        log(f"FAILED {f}")
    log(f"inputs: {json.dumps(facts)}")
    for k, v in metrics.items():
        print(f"{k:28s} {v:14.4f} {units[k]}")
    failed = len(failures)
    print(f"{'failed_frac':28s} {failed / max(attempted, 1):14.4f} ({failed} of {attempted})")
    print(json.dumps({"correct": failed == 0, "attempted": max(attempted, 1), "failed": failed,
                      "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}}))
    sys.exit(0 if failed == 0 else 1)


def trace_metrics(workload, runs, untraced_job):
    traced = runs["traced"]
    m = {k: 0.0 for k in PER_LAYER}
    m.update({k: v for k, v in traced["layers"].items() if k in m})
    m["jvm.session_s"] = traced["session_s"]
    m["jvm.warmup_s"] = traced["setup_s"] - traced["session_s"]
    m["trace.job_s"] = traced["passes"][0]["total_s"]
    m["trace.overhead_s"] = m["trace.job_s"] - untraced_job
    if workload == "anagram_books":
        m["executor.parallel_speedup"] = runs["local1"]["passes"][0]["total_s"] / untraced_job
    return m


if __name__ == "__main__":
    main()
