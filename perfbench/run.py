#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <serve_read|catalog_batch>
                             --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the benchmark from source (once per source state),
runs one workload in a fresh JVM, checks every result, prints a table of
every metric with its unit and sample count, and ends with one JSON line:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end ones, with --trace 1 the per-layer ones. See README.md.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = HERE / "target"
WORK = HERE / "work"
ORACLE = HERE / "oracle"
# the sf0.1 fixture (TESTDATA.md); PERFBENCH_DATA names another directory
DATA = Path(os.environ.get("PERFBENCH_DATA", Path.home() / "testdata" / "sf0.1"))
RUN_TIMEOUT_S = 170

WORKLOADS = ("serve_read", "catalog_batch")
SERVING = ("serve_read",)
CLASSES = ("readback", "lookup", "onehop", "vector", "fulltext", "upsert_new", "upsert_recrawl")
ENTRIES = ("x02_pagerank", "x20_strongly_connected", "d08_neardup_cluster_dedup",
           "s13_streaming_live_index")

END_TO_END = ("setup_s", "throughput_ops_s", "latency_ms")


def _per_layer():
    """(metric, workloads it applies to); elsewhere it reads 0: the layer
    does no work there."""
    out = []
    for c in CLASSES:
        out += [(f"server.overhead_ms.{c}", SERVING), (f"cypher.parse_ms.{c}", SERVING)]
        if c.startswith("upsert_"):
            out.append((f"cypher.upsert_ms.{c.removeprefix('upsert_')}", SERVING))
        else:
            out += [(f"cypher.compile_ms.{c}", SERVING), (f"cypher.exec_ms.{c}", SERVING)]
        out += [(f"spark.{m}.{c}", SERVING) for m in
                ("jobs", "stages", "tasks", "shuffle_bytes", "driver_gap_ms")]
    out.append(("spark.executor_busy", WORKLOADS))
    for phase in ("index", "index.after_writes"):
        out += [(f"{phase}.{m}", SERVING) for m in (
            "vector.full_builds", "vector.incremental", "fulltext.full_builds",
            "fulltext.incremental", "compactions", "incremental_ratio")]
    out += [(f"graph.{m}", SERVING) for m in (
        "ingest_s", "store_write_s", "boot_s", "store_read_s", "index_build_s",
        "store_bytes_per_input_byte", "flush_s")]
    out += [(f"serve.{m}", SERVING) for m in ("read_p50_ms", "read_p90_ms")]
    out += [(f"batch.{m}", ("catalog_batch",)) for m in
            ("round_s", "graph_ops_s", "datapipe_ops_s")]
    for e in ENTRIES:
        out += [(f"batch.{e}.{m}", ("catalog_batch",)) for m in
                ("s", "jobs", "stages", "shuffle_bytes", "ms_per_job")]
    out += [("jvm.gc_ms", WORKLOADS), ("jvm.heap_retained_mb", WORKLOADS),
            ("trace.overhead_pct", WORKLOADS)]
    return out


PER_LAYER = _per_layer()


def unit_of(m):
    """The unit a metric is reported in, from its name."""
    if m == "throughput_ops_s":
        return "1/s"
    parts = m.split(".")
    for suffix, unit in (("_ms", "ms"), ("ms_per_job", "ms"), ("_mb", "MiB"), ("_pct", "%"),
                         ("shuffle_bytes", "bytes"), ("ratio", "ratio"),
                         ("busy", "ratio"), ("per_input_byte", "ratio"), ("_s", "s")):
        if any(p.endswith(suffix) for p in parts):
            return unit
    return "s" if parts[-1] == "s" else "count"


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    files = [HERE / "build.sbt", HERE / "project" / "build.properties",
             ROOT / "build.sbt", ROOT / "project" / "build.properties"]
    for d in (HERE / "src", ROOT / "src" / "main"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    return files


def build():
    """Compiles engine + benchmark with sbt when the sources changed;
    returns the runtime classpath."""
    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir() or not (ROOT / "build.sbt").is_file():
        die(f"no engine build and sources under {ROOT}")
    h = hashlib.sha256()
    for f in sources():
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    stamp, cp_file = BUILD / "perfbench.stamp", BUILD / "perfbench.classpath"
    if stamp.exists() and cp_file.exists() and stamp.read_text() == h.hexdigest():
        return cp_file.read_text().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    cmd = ["sbt", "-Dsbt.override.build.repos=true",
           "-Dsbt.repository.config=" + str(Path.home() / ".sbt" / "repositories"),
           "-Dsbt.offline=true", "--batch", "-Dsbt.log.noformat=true",
           "compile", "export Runtime/fullClasspath"]
    p = subprocess.run(cmd, cwd=HERE, env=env, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True, timeout=850)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or "[" in lines[-1][:1]:
        sys.stderr.write(p.stdout[-4000:])
        die("build failed")
    BUILD.mkdir(exist_ok=True)
    cp_file.write_text(lines[-1])
    stamp.write_text(h.hexdigest())
    return lines[-1]


def jvm(classpath, args, work, timeout):
    add_opens = [
        "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
        "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
        "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
        "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
        "java.base/sun.util.calendar"]
    cmd = ["java", "-Xmx3g", f"-Djava.io.tmpdir={work / 'tmp'}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for o in add_opens:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "graft.perfbench.Main"] + args
    with open(work / "jvm.log", "w") as log:
        # Spark's scratch stays in the run's work directory
        env = {k: v for k, v in os.environ.items() if k not in ("SPARK_LOCAL_DIRS", "LOCAL_DIRS")}
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=env,
                             start_new_session=True)
        try:
            rc = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            rc = None
    if rc != 0:
        tail = (work / "jvm.log").read_text(errors="replace")[-4000:]
        sys.stderr.write(tail)
        die("benchmark JVM " + ("timed out" if rc is None else f"exited {rc}"))


FIXTURE_TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
                  "lineitem", "events", "documents", "embeddings")


def duck(data):
    import duckdb
    con = duckdb.connect()
    for t in FIXTURE_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    return con


def oracle_key(sql, data):
    """Identifies an oracle answer: the SQL text and the fixture bytes."""
    h = hashlib.sha256(sql.encode())
    for t in FIXTURE_TABLES:
        h.update((Path(data) / f"{t}.parquet").read_bytes())
    return h.hexdigest()


def oracle_check(work):
    """The catalog results against their DuckDB oracle answers, compared by
    the repository's own script (scripts/check.py). An answer recorded by
    make_oracle.py stands in for its SQL while the SQL and fixture are
    unchanged. Returns (attempted, failures)."""
    out = work / "oracle_out"
    sql = json.loads((out / "oracle_sql.json").read_text())
    keys_file = ORACLE / "keys.json"
    keys = json.loads(keys_file.read_text()) if keys_file.exists() else {}
    stale = [n for n, q in sql.items() if keys.get(n) != oracle_key(q, DATA)]
    for n in stale:
        print(f"# oracle answer for {n} not recorded for this SQL/fixture: running its SQL")
    (out / "oracle_sql.json").write_text(json.dumps(
        {n: q if n in stale else f"SELECT * FROM '{ORACLE / n}.parquet'"
         for n, q in sql.items()}))
    p = subprocess.run([sys.executable, str(ROOT / "scripts" / "check.py"), str(DATA), str(out)],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=300)
    fails = [l for l in p.stdout.splitlines() if l.startswith("FAIL")]
    passes = [l for l in p.stdout.splitlines() if l.startswith("PASS")]
    if not re.search(r"^\d+ pass, \d+ fail$", p.stdout, re.M):
        fails.append("oracle check did not complete: " + p.stdout[-500:])
    return len(passes) + len(fails), fails


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not DATA.is_dir():
        die(f"fixture directory {DATA} not found (set PERFBENCH_DATA)")

    classpath = build()
    work = WORK / a.workload
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    out = work / "result.json"
    t0 = time.time()
    jvm(classpath, ["--workload", a.workload, "--seed", str(a.seed),
                    "--seconds", str(a.seconds), "--trace", str(a.trace),
                    "--data", str(DATA), "--work", str(work), "--out", str(out)],
        work, RUN_TIMEOUT_S - 10)
    res = json.loads(out.read_text())
    attempted, failures = res["attempted"], list(res["failures"])
    failed = res["failed"]
    if a.workload == "catalog_batch":
        n, fails = oracle_check(work)
        attempted += n
        failed += len(fails)
        failures += fails
    got = res["metrics"]

    wanted = END_TO_END if a.trace == 0 else [m for m, _ in PER_LAYER]
    applies = dict(PER_LAYER)
    metrics, rows = {}, []
    for m in wanted:
        u = unit_of(m)
        if m in got:
            v = got[m]
            if v["unit"] != u or v["value"] is None:
                die(f"metric {m} reads {v['value']} {v['unit']}, want a number in {u}")
            metrics[m] = {"value": v["value"], "unit": u}
            rows.append((m, v["value"], u, v["samples"]))
        elif a.trace == 1 and a.workload not in applies[m]:
            metrics[m] = {"value": 0.0, "unit": u}
            rows.append((m, 0.0, u, 0))
        else:
            die(f"{a.workload} did not report metric {m}")

    print(f"# perfbench {a.workload} seed={a.seed} seconds={a.seconds} trace={a.trace} "
          f"wall={time.time() - t0:.1f}s")
    for f in failures[:20]:
        print(f"# FAILED {f}")
    extra = [(m, v["value"], v["unit"], v["samples"]) for m, v in got.items()
             if m not in metrics]
    for m, v, u, n in rows + extra:
        print(f"# {m:48s} {v:>14.4f} {u:6s} n={n}" + ("  (not reported)" if m not in metrics else ""))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
