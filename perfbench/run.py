#!/usr/bin/env python3
"""Lakehouse benchmark for the graft engine.

Run from the repository root:

    python3 perfbench/run.py --workload stream_ingest --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --selftest

Workloads: stream_ingest, maintain_cycle, scan_serve, corpus_ops (see
BENCHMARK.json for why each exists). `--trace 0` prints the end-to-end
metrics; `--trace 1` prints the per-layer metrics of a traced run and writes
the span dump to perfbench/.work/<workload>/spans.jsonl. The last line of
standard output is one JSON object: correct, attempted, failed, metrics.

The first run compiles the engine from src/main/scala together with the
benchmark's own sources (perfbench/build.sbt, an sbt build of its own), then
launches the JVM directly on the exported class path.
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
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")
WORK = os.path.join(HERE, ".work")
DATA = os.path.join(HERE, "testdata", "sf0.01")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")

# Heap per workload, kept small: the machine is shared.
HEAP = {"stream_ingest": "1g", "maintain_cycle": "640m", "scan_serve": "1g",
        "corpus_ops": "1536m"}

# Per-layer metric prefixes each workload must emit itself in a traced run
# (the rest of the per-layer list reads 0 there). The self-test holds every
# workload to its list.
EXERCISED = {
    "stream_ingest": ["ingest.", "streaming.", "table.manifests_live",
                      "table.versions_live", "table.manifest_read_s",
                      "table.encode_exec_s", "maintain.compact.bins",
                      "maintain.compact.files_", "lineage."],
    "maintain_cycle": ["table.append.", "table.encode_exec_s", "table.write_amp",
                       "table.space_amp", "maintain.compact.exec_s",
                       "maintain.cluster.", "maintain.merge.", "maintain.delete.",
                       "maintain.expire.", "lineage."],
    "scan_serve": ["sql.", "table.input_bytes", "table.rows_pruned_share",
                   "table.bytes_live", "table.scan_tokens_per_s"],
    "corpus_ops": ["ops."],
}

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]

JVM_TIMEOUT_S = 170


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def source_hash():
    h = hashlib.sha256()
    for top in (ENGINE_SRC, os.path.join(HERE, "scala")):
        for d, _, files in sorted(os.walk(top)):
            for name in sorted(files):
                if name.endswith(".scala"):
                    p = os.path.join(d, name)
                    h.update(p[len(ROOT):].encode())
                    with open(p, "rb") as f:
                        h.update(f.read())
    with open(os.path.join(HERE, "build.sbt"), "rb") as f:
        h.update(f.read())
    return h.hexdigest()


def build():
    """Compiles once per source state; returns the run class path."""
    if not os.path.isdir(ENGINE_SRC):
        die(f"no engine sources at {os.path.relpath(ENGINE_SRC, ROOT)}")
    if not os.environ.get("SPARK_HOME") and not shutil.which("spark-submit"):
        die("Spark is not installed: set SPARK_HOME")
    stamp = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath")
    digest = source_hash()
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as f:
            if f.read().strip() == digest:
                with open(cp_file) as g:
                    return g.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if not env.get("SPARK_HOME"):
        env["SPARK_HOME"] = os.path.dirname(os.path.dirname(
            os.path.realpath(shutil.which("spark-submit"))))
    if "-Dsbt.offline" not in env.get("SBT_OPTS", ""):
        env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip()
    log_path = os.path.join(BUILD, "build.log")
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    with open(log_path, "w") as log:
        proc = subprocess.run(
            ["sbt", "-batch", "-Dsbt.log.noformat=true", "-Dsbt.boot.lock=false",
             "-Dsbt.server.autostart=false", "-J-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
             f"-Djna.tmpdir={tmp}", "compile", "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=log, text=True,
            timeout=850, stdin=subprocess.DEVNULL)
        log.write(proc.stdout)
    lines = [l.strip() for l in proc.stdout.splitlines()]
    cps = [l for l in lines if ".jar" in l and not l.startswith("[")]
    if proc.returncode != 0 or not cps:
        sys.stderr.write(proc.stdout[-4000:])
        die(f"build failed, see {os.path.relpath(log_path, ROOT)}")
    with open(cp_file, "w") as f:
        f.write(cps[-1])
    with open(stamp, "w") as f:
        f.write(digest)
    return cps[-1]


def run_jvm(cp, workload, seed, seconds, trace, tiny=False, corrupt=False):
    """Runs one workload in a fresh JVM; returns (result, evidence, work dir)."""
    work = os.path.join(WORK, workload)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    tmp = os.path.join(work + "-tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = [java, f"-Xmx{HEAP[workload]}", "-XX:+UseParallelGC", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp, "perfbench.Main", "--workload", workload, "--seed", str(seed),
            "--seconds", str(seconds), "--trace", "1" if trace else "0",
            "--work", work, "--data", DATA, "--tiny", "1" if tiny else "0",
            "--corrupt", "1" if corrupt else "0"]
    os.makedirs(WORK, exist_ok=True)
    log_path = os.path.join(WORK, f"{workload}.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=log,
                                text=True, start_new_session=True,
                                stdin=subprocess.DEVNULL)
        try:
            out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            die(f"{workload} did not finish in {JVM_TIMEOUT_S} s")
    result = evidence = None
    for line in out.splitlines():
        if line.startswith("PERFBENCH_RESULT "):
            result = json.loads(line[len("PERFBENCH_RESULT "):])
        elif line.startswith("PERFBENCH_EVIDENCE "):
            evidence = json.loads(line[len("PERFBENCH_EVIDENCE "):])
    if proc.returncode != 0 or result is None:
        with open(log_path) as f:
            sys.stderr.write(f.read()[-6000:])
        die(f"{workload} exited with {proc.returncode}, see "
            f"{os.path.relpath(log_path, ROOT)}")
    return result, evidence, work


def oracle_frame(con, sql):
    """DuckDB's answer to `sql` on the fixed testdata. Answers are cached
    under perfbench/.work/oracle, keyed by the SQL text and the data bytes,
    so only the first run of a checkout pays for DuckDB."""
    h = hashlib.sha256(sql.encode())
    for name in sorted(os.listdir(DATA)):
        with open(os.path.join(DATA, name), "rb") as f:
            h.update(name.encode() + f.read())
    path = os.path.join(WORK, "oracle", h.hexdigest() + ".pkl")
    if os.path.exists(path):
        import pandas
        return pandas.read_pickle(path)
    df = con.sql(sql).df()
    os.makedirs(os.path.dirname(path), exist_ok=True)
    df.to_pickle(path + ".tmp")
    os.replace(path + ".tmp", path)
    return df


def oracle_failures(work):
    """corpus_ops: each query's Spark rows against its DuckDB oracle."""
    import duckdb
    out = os.path.join(work, "corpus")
    con = duckdb.connect()
    for name in os.listdir(DATA):
        if name.endswith(".parquet"):
            con.sql(f"CREATE VIEW {name[:-8]} AS SELECT * FROM "
                    f"'{os.path.join(DATA, name)}'")
    with open(os.path.join(out, "oracle_sql.json")) as f:
        oracle = json.load(f)
    bad = []
    for name, sql in sorted(oracle.items()):
        try:
            sp = con.sql(f"SELECT * FROM '{os.path.join(out, name)}/*.parquet'").df()
            du = oracle_frame(con, sql)
        except Exception as e:  # a missing output or a failing oracle both fail
            bad.append(f"{name}: {str(e)[:200]}")
            continue
        cols = sorted(sp.columns)
        if cols != sorted(du.columns):
            bad.append(f"{name}: columns {cols} vs {sorted(du.columns)}")
            continue
        sp = sp[cols].sort_values(by=cols).reset_index(drop=True)
        du = du[cols].sort_values(by=cols).reset_index(drop=True)
        if not sp.equals(du):
            bad.append(f"{name}: {len(sp)} rows differ from the oracle's {len(du)}")
    return bad


def measure(cp, workload, seed, seconds, trace, tiny=False, corrupt=False):
    """One run: the result object as printed, plus the raw metric names the
    JVM emitted."""
    sp = spec()
    t0 = time.time()
    result, evidence, work = run_jvm(cp, workload, seed, seconds, trace, tiny, corrupt)
    evidence["jvm_wall_s"] = round(time.time() - t0, 3)
    if workload == "corpus_ops":
        t0 = time.time()
        bad = oracle_failures(work)
        evidence["oracle_check_s"] = round(time.time() - t0, 3)
        for b in bad:
            print(f"perfbench: oracle mismatch {b}", file=sys.stderr)
        if bad:
            result["failed"] += len(bad)
            result["correct"] = False
            if "ok_op_share" in result["metrics"]:
                result["metrics"]["ok_op_share"] = 1.0 - min(
                    1.0, result["failed"] / result["attempted"])
    raw = result["metrics"]
    declared = sp["per_layer"] if trace else sp["end_to_end"]
    known = {m["name"] for m in declared}
    extra = sorted(set(raw) - known)
    if extra:
        die(f"{workload} emitted undeclared metrics {extra}")
    if not trace:
        missing = sorted(known - set(raw))
        if missing:
            die(f"{workload} did not measure {missing}")
    metrics = {}
    for m in declared:
        v = raw.get(m["name"], 0.0)
        metrics[m["name"]] = {"value": 0.0 if v is None else v, "unit": m["unit"]}
    result["metrics"] = metrics
    shutil.rmtree(os.path.join(work, "corpus"), ignore_errors=True)
    shutil.rmtree(work + "-tmp", ignore_errors=True)
    with open(os.path.join(work, "evidence.json"), "w") as f:
        json.dump(evidence, f, indent=1)
    return result, evidence, set(raw)


def selftest(cp):
    """Tiny runs of every workload: every metric is emitted with its unit, and
    a deliberately corrupted result trips each workload's output check."""
    sp = spec()
    problems = []
    for w in sorted(HEAP):
        res, _, raw = measure(cp, w, 7, 2, False, tiny=True)
        if not res["correct"] or res["failed"]:
            problems.append(f"{w}: checks failed on a clean tiny run")
        for m in sp["end_to_end"]:
            got = res["metrics"][m["name"]]
            if got["unit"] != m["unit"] or not got["value"]:
                problems.append(f"{w}: end-to-end {m['name']} = {got}")
        res, _, raw = measure(cp, w, 7, 2, True, tiny=True)
        for m in sp["per_layer"]:
            if any(m["name"].startswith(p) for p in EXERCISED[w]) and m["name"] not in raw:
                problems.append(f"{w}: per-layer {m['name']} not emitted")
        for name in ("trace.op_p50_s", "trace.ops_per_s"):
            if name not in raw:
                problems.append(f"{w}: {name} not emitted")
        res, _, _ = measure(cp, w, 7, 2, False, tiny=True, corrupt=True)
        if res["correct"] or res["failed"] < 1:
            problems.append(f"{w}: corrupted result passed the output check")
        print(f"selftest {w}: done", file=sys.stderr)
    for p in problems:
        print(f"selftest: {p}", file=sys.stderr)
    print(json.dumps({"selftest": "fail" if problems else "ok",
                      "problems": len(problems)}))
    return 1 if problems else 0


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "BENCHMARK.json")):
        die("run from a checkout that holds BENCHMARK.json")
    cp = build()
    if a.selftest:
        sys.exit(selftest(cp))
    if a.workload not in HEAP:
        die(f"--workload must be one of {sorted(HEAP)}")
    t0 = time.time()
    result, evidence, _ = measure(cp, a.workload, a.seed, a.seconds, bool(a.trace))
    evidence["run_wall_s"] = round(time.time() - t0, 3)
    print("evidence: " + json.dumps(evidence, sort_keys=True))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
