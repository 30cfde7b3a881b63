#!/usr/bin/env python3
"""The repository benchmark: one command, two workloads, checked outputs.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run in a checkout compiles the engine
and the harness (perfbench/build.sbt) into .bench_build/; later runs reuse the
build while the sources are unchanged. Every run generates its inputs from
the seed, runs one workload in one JVM on local[nproc], checks every output,
and prints the metrics: one line per metric, then one JSON line (last line of
stdout). `--trace 0` reports the end-to-end metrics, `--trace 1` the per-layer
metrics of BENCHMARK.json. The full record of the run (samples, run context,
and with --trace 1 every span) is written to .bench_build/results/.

Workloads (sizes in workloads.json):
  xml_seq_fused  the paper's pipeline as `ExtractorCli --seq` runs it:
                 SequenceFile corpus -> XmlExtraction.run(ExtractInventory)
                 -> text files; every book becomes a row. Each run also
                 checks the graft-xml DSv2 select path (ExtractBook, window
                 pivot) on the first 100 documents; the traced run times its
                 layers.
  curation       oracle-gated queries on seeded tables: two built on
                 graft.operators.Dedup (exact and Jaccard joins), one
                 relational and one XML-synth. Each is checked against
                 DuckDB running its oracle SQL.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import metrics  # noqa: E402

ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
CONFIGS = os.path.join(ROOT, "src", "test", "resources")
JVM_TIMEOUT_S = 165
SETUPS = 3
# A fixed heap and young generation keep peak RSS comparable between runs:
# with adaptive sizing it swings by a quarter from GC timing alone.
HEAP = ["-Xms2g", "-Xmx2g", "-Xmn512m"]
# every JVM this script starts keeps its temporary files inside the checkout
TMP = os.path.join(BUILD, "tmp")
JVM_TMP = [f"-Djava.io.tmpdir={TMP}", "-XX:-UsePerfData"]
# cpu_s leaves out the JIT compiler threads' CPU, summed from /proc in clock
# ticks; a fixed set of compiler threads keeps any from leaving the sum early
JIT_CPU = ["-XX:-UseDynamicNumberOfCompilerThreads",
           f"-Dperfbench.clk_tck={os.sysconf('SC_CLK_TCK')}"]

WORKLOADS = json.load(open(os.path.join(HERE, "workloads.json")))

ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_hash():
    h = hashlib.sha256()
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
                os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")):
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(p[len(ROOT):].encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile once per source state; return the runtime classpath."""
    stamp = source_hash()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "source.sha256")
    if os.path.exists(cp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip(), stamp
    os.makedirs(BUILD, exist_ok=True)
    os.makedirs(TMP, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env["SBT_OPTS"] = " ".join([env.get("SBT_OPTS", "")] + JVM_TMP + [f"-Djna.tmpdir={TMP}"])
    env["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"  # also the launcher's own probes
    log = os.path.join(BUILD, "build.log")
    rc = run_logged(["sbt", "--batch", "-Dsbt.server.autostart=false", "compile",
                     "export Runtime/fullClasspath"], log, 850, cwd=HERE, env=env)
    lines = open(log).read().splitlines()
    if rc != 0 or not lines:
        fail(f"build failed (exit {rc}); see {log}")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp, stamp


def tables_for(seed, spec):
    """Seeded curation tables, generated once per seed and scale."""
    import tables
    d = os.path.join(BUILD, "data", f"tables-{spec['sf']}-{spec['docs']}-{spec['vecs']}-{seed}")
    if not os.path.exists(os.path.join(d, "done")):
        shutil.rmtree(d, ignore_errors=True)
        tables.generate(seed, d, spec["sf"], spec["docs"], spec["vecs"])
        open(os.path.join(d, "done"), "w").close()
    return d


def dir_bytes(d):
    return sum(os.path.getsize(os.path.join(a, f)) for a, _, fs in os.walk(d) for f in fs)


def cpu_steal():
    """(steal ticks, total ticks) from the aggregate cpu line of /proc/stat."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
        return v[7], sum(v)
    except (OSError, IndexError, ValueError):
        return 0, 0


def run_logged(cmd, log, timeout, cwd=ROOT, env=None):
    """Run cmd in its own process group with output to log; on timeout kill
    the whole group and wait for it. Returns the exit code, None on timeout."""
    with open(log, "w") as out:
        p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None


def run_jvm(cp, argv, log):
    os.makedirs(TMP, exist_ok=True)
    cmd = (["java"] + HEAP + JVM_TMP + JIT_CPU + ["-Dspark.ui.enabled=false"]
           + ADD_OPENS + ["-cp", cp, "perfbench.Main"] + argv)
    return run_logged(cmd, log, JVM_TIMEOUT_S)


def git_commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    t0 = time.monotonic()
    phases = {}
    spec = WORKLOADS[a.workload]
    is_xml = a.workload.startswith("xml_")

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("engine sources not found: run from the root of a repository checkout")
    cp, stamp = build()
    phases["build_s"] = time.monotonic() - t0
    cpus = len(os.sched_getaffinity(0))  # what `nproc` reports
    work = os.path.join(BUILD, "work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    raw_file = os.path.join(work, "raw.json")
    argv = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--cpus", str(cpus), "--work", work,
            "--out", raw_file, "--setups", str(SETUPS), "--configs", CONFIGS,
            "--warm-passes", str(spec["warm_passes"])]
    tables_dir = None
    if is_xml:
        argv += ["--docs", str(spec["docs"])]
    else:
        tables_dir = tables_for(a.seed, spec)
        argv += ["--tables", tables_dir, "--queries", ",".join(spec["queries"])]

    phases["inputs_s"] = time.monotonic() - t0 - phases["build_s"]
    steal0 = cpu_steal()
    rc = run_jvm(cp, argv, os.path.join(work, "jvm.log"))
    steal1 = cpu_steal()
    phases["jvm_s"] = time.monotonic() - t0 - phases["build_s"] - phases["inputs_s"]
    if rc != 0 or not os.path.exists(raw_file):
        fail(f"benchmark JVM failed (exit {rc}); see {os.path.join(work, 'jvm.log')}")
    raw = json.load(open(raw_file))
    if "fatal" in raw:
        fail(f"workload aborted: {raw['fatal']}")

    oracle_failures = {}
    if not is_xml:
        import oracle
        raw["input_bytes"] = dir_bytes(tables_dir)
        oracle_failures = oracle.check(tables_dir, os.path.join(work, "results"),
                                       raw["oracle_sql"], raw["verified_rows"])
        oracle_failures.update(raw["verify_errors"])
    phases["check_s"] = time.monotonic() - t0 - sum(phases.values())
    attempted, failed = metrics.attempts(raw, is_xml, oracle_failures)
    n_queries = len(spec.get("queries", []))

    if a.trace == 0:
        e2e = (metrics.xml_end_to_end(raw) if is_xml
               else metrics.curation_end_to_end(raw, n_queries))
        report = {k: (v, u) for k, (v, u, _) in e2e.items()}
        samples = {k: n for k, (_, _, n) in e2e.items()}
    else:
        report = per_layer(raw, a.workload, is_xml, cpus, n_queries)
        samples = {}

    record = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "nproc": cpus, "git_commit": git_commit(), "source_sha256": stamp,
        "jvm_heap": HEAP, "jit_flags": JIT_CPU,
        "error_rate": metrics.error_rate(attempted, failed),
        "steal_ticks": steal1[0] - steal0[0],
        "steal_share": ((steal1[0] - steal0[0]) / (steal1[1] - steal0[1])
                        if steal1[1] > steal0[1] else 0.0),
        "phases_s": phases, "corpus_bytes": raw["input_bytes"],
        "oracle_failures": oracle_failures,
        "query_latency": None if is_xml else metrics.visit_latency(raw),
        "metrics": {k: {"value": v, "unit": u, "samples": samples.get(k)}
                    for k, (v, u) in report.items()},
        "raw": raw,
    }
    os.makedirs(os.path.join(BUILD, "results"), exist_ok=True)
    with open(os.path.join(BUILD, "results",
                           f"{a.workload}-seed{a.seed}-trace{a.trace}.json"), "w") as f:
        json.dump(record, f)

    for k, (v, u) in report.items():
        n = samples.get(k)
        print(f"{k} = {v:.6g} {u}" + (f" (n={n})" if n is not None else ""))
    print(f"error_rate = {record['error_rate']:.4g} ({failed}/{attempted}); "
          f"steal_share = {record['steal_share']:.4f}")
    for q, why in oracle_failures.items():
        print(f"FAILED {q}: {why}"[:300])
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in report.items()}}))


def per_layer(raw, workload, is_xml, cpus, n_queries):
    """Every per-layer metric of BENCHMARK.json; a layer this workload does not
    exercise reads 0."""
    names = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))["per_layer"]
    out = {m["name"]: (0.0, m["unit"]) for m in names}
    spans = raw["spans"]
    out.update(metrics.spark_per_pass(spans, cpus))
    if is_xml:
        out.update(metrics.xml_layers(raw))
    else:
        queries = WORKLOADS[workload]["queries"]
        layers = metrics.query_layers(spans, raw["visits"], queries)
        out.update({k: v for k, v in layers.items() if k in out})
    out["setup.session_s"] = (metrics.median([s["session_s"] for s in raw["setups"]]), "s")
    out["setup.warmup_s"] = (metrics.median([s["warmup_s"] for s in raw["setups"]]), "s")
    out["setup.cold_s"] = (raw["setups"][0]["total_s"], "s")
    out["trace.overhead_s"] = (metrics.trace_overhead(raw, is_xml, n_queries), "s")
    out["jvm.jit_cpu_s"] = (metrics.jit_per_pass(raw, is_xml, n_queries), "s")
    unknown = set(out) - {m["name"] for m in names}
    if unknown:
        fail(f"metrics missing from BENCHMARK.json: {sorted(unknown)}")
    return out


if __name__ == "__main__":
    main()
