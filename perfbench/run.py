#!/usr/bin/env python3
"""Run one benchmark workload and print the result line.

    python3 perfbench/run.py --workload <name|all> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the harness and the
library with sbt (perfbench/build.sbt) and caches the classpath under
.bench_build/; later runs rebuild only when a source file changed. The
first run after a build also writes a class-data sharing archive of the
classes the JVM loaded, which later runs map instead of loading each class
again (JVM start-up is a third of a run otherwise). The JVM
(graft.perfbench.Main) generates the seeded inputs, measures the workload
and checks its outputs; for query_mix this script adds the DuckDB oracle
check. The last line on stdout is one JSON object with
`correct`, `attempted`, `failed` and `metrics`: the end-to-end metrics
of BENCHMARK.json with --trace 0, its per-layer metrics with --trace 1.
The exit code is non-zero when a check failed or the run broke.
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
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
JARS = os.path.join(BUILD, "jars")
CDS_ARCHIVE = os.path.join(BUILD, "classes.jsa")
JVM_TIMEOUT_S = 150  # a run, oracle checks included, must end within 180 s
BUILD_TIMEOUT_S = 800

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_digest():
    """Digest of every file the build reads, to detect a stale build."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_proc(cmd, cwd, env, timeout, stdout):
    """Run `cmd` in its own process group; kill the group on timeout."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=stdout,
                         stderr=sys.stderr, start_new_session=True)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def pack_classes(cp_file):
    """The classpath with each class directory packed into a jar: class-data
    sharing archives only classes that come from jars."""
    with open(cp_file) as f:
        entries = f.read().strip().split(os.pathsep)
    shutil.rmtree(JARS, ignore_errors=True)
    os.makedirs(JARS)
    out = []
    for i, e in enumerate(entries):
        if os.path.isdir(e):
            jar = os.path.join(JARS, f"classes{i}.jar")
            with zipfile.ZipFile(jar, "w") as z:
                for d, _, fs in os.walk(e):
                    for name in sorted(fs):
                        z.write(os.path.join(d, name), os.path.relpath(os.path.join(d, name), e))
            e = jar
        out.append(e)
    return os.pathsep.join(out)


def ensure_build():
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        log("no library sources (src/main/scala) next to perfbench/: nothing to build")
        sys.exit(2)
    os.makedirs(BUILD, exist_ok=True)
    stamp = os.path.join(BUILD, "build.stamp")
    cp = os.path.join(BUILD, "classpath.txt")
    run_cp = os.path.join(BUILD, "run_classpath.txt")
    digest = source_digest()
    if os.path.exists(stamp) and os.path.exists(run_cp):
        with open(stamp) as f:
            if f.read().strip() == digest:
                return run_cp
    log("building harness and library with sbt")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    rc = run_proc(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                  HERE, env, BUILD_TIMEOUT_S, sys.stderr)
    if rc != 0 or not os.path.exists(cp):
        log(f"build failed (exit {rc})")
        sys.exit(2)
    with open(run_cp, "w") as f:
        f.write(pack_classes(cp))
    if os.path.exists(CDS_ARCHIVE):
        os.remove(CDS_ARCHIVE)  # it names the old jars
    with open(stamp, "w") as f:
        f.write(digest)
    return run_cp


def bench_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def canon(v):
    """One cell in the oracle rule's value domain: floats compare as
    floats, everything else by its string form."""
    if v is None:
        return "None"
    if isinstance(v, float):
        return "nan" if v != v else repr(v)
    if hasattr(v, "item"):
        return canon(v.item())
    return str(v)


def table_digest(df):
    """(rows, order-insensitive hash) of a pandas frame, columns by name."""
    import numpy as np
    cols = sorted(df.columns)
    rows = []
    for rec in df[cols].itertuples(index=False, name=None):
        cells = []
        for c, v in zip(cols, rec):
            if isinstance(v, (float, np.floating)):
                cells.append(canon(float(v)))
            elif isinstance(v, (np.ndarray, list)):
                cells.append(str(list(v)))
            else:
                cells.append(canon(v))
        rows.append("\x1f".join(cells))
    rows.sort()
    h = hashlib.sha256("\x1e".join(rows).encode()).hexdigest()
    return len(rows), h, cols


def oracle_checks(work, result):
    """query_mix: each query's Spark output against its DuckDB oracle on
    the same generated parquet; rows and an order-insensitive hash. A
    query without an oracle, or with one too slow for a run
    (QueryMix.RowsOnly), is checked on rows only."""
    import glob
    import duckdb
    import pyarrow.parquet as pq
    meta_path = os.path.join(work, "oracle.json")
    if not os.path.exists(meta_path):
        return
    with open(meta_path) as f:
        meta = json.load(f)
    con = duckdb.connect()
    for t in meta["tables"]:
        files = sorted(glob.glob(os.path.join(meta["data"], f"{t}.parquet", "*.parquet")))
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet({files!r})")
    for q, info in meta["queries"].items():
        files = sorted(glob.glob(os.path.join(info["out"], "*.parquet")))
        name = f"oracle {q}"
        if not files:
            result["checks"].append({"name": name, "ok": False, "detail": "no spark output"})
            continue
        spark_df = pq.read_table(files).to_pandas()
        if info["sql"] is None:
            ok = len(spark_df) == info["rows"] and len(spark_df) > 0
            result["checks"].append({"name": f"rows {q}", "ok": ok,
                                     "detail": "" if ok else f"{len(spark_df)} rows"})
            continue
        try:
            t0 = time.time()
            duck_df = con.sql(info["sql"]).df()
            log(f"oracle {q}: {time.time() - t0:.1f}s")
        except Exception as e:  # an oracle that cannot run is a failure
            result["checks"].append({"name": name, "ok": False, "detail": f"oracle error: {e}"})
            continue
        a, b = table_digest(spark_df), table_digest(duck_df)
        ok = a == b
        result["checks"].append({"name": name, "ok": ok, "detail": "" if ok else
                                 f"spark rows={a[0]} cols={a[2]} vs oracle rows={b[0]} cols={b[2]}"})


def add_overhead(cache, workload, seed, traced, layer):
    """Tracing overhead: the traced run's end-to-end numbers minus an
    untraced run's, on the same seed when one was run in this checkout,
    else the latest untraced run of the workload."""
    same = os.path.join(cache, f"{workload}-{seed}.json")
    cands = [same] if os.path.exists(same) else sorted(
        (os.path.join(cache, f) for f in os.listdir(cache) if f.startswith(workload + "-")),
        key=os.path.getmtime)[-1:]
    if not cands:
        log("no untraced run of this workload yet: tracing overhead not measured")
        return
    with open(cands[0]) as f:
        base = json.load(f)
    log(f"tracing overhead against {os.path.relpath(cands[0], ROOT)}")
    for k in ("latency_p50_ms", "work_s"):
        if k in base and k in traced:
            layer[f"trace.overhead.{k}"] = traced[k] - base[k]


def run_one(workload, seed, seconds, trace, spec, cp):
    started = time.time()
    work = os.path.join(BUILD, "work", f"{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(work, "result.json")
    with open(cp) as f:
        classpath = f.read().strip()
    mem = os.environ.get("SPARK_DRIVER_MEM", "3g")
    cmd = ["java"]
    dump = f"{CDS_ARCHIVE}.{os.getpid()}"
    if os.path.exists(CDS_ARCHIVE):
        cmd.append(f"-XX:SharedArchiveFile={CDS_ARCHIVE}")
    else:
        cmd.append(f"-XX:ArchiveClassesAtExit={dump}")
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Xmx{mem}", f"-Djava.io.tmpdir={work}/tmp",
            f"-Dspark.local.dir={work}/spark-local", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC", "-cp", classpath,
            "graft.perfbench.Main", "--workload", workload, "--seed", str(seed),
            "--seconds", str(seconds), "--trace", str(trace),
            "--work", work, "--out", out]
    env = dict(os.environ)
    # Spark prefers these over spark.local.dir; keep its files in the run
    env["SPARK_LOCAL_DIRS"] = f"{work}/spark-local"
    env.pop("LOCAL_DIRS", None)
    rc = run_proc(cmd, ROOT, env, JVM_TIMEOUT_S, sys.stderr)
    if os.path.exists(dump):
        if rc == 0 and not os.path.exists(CDS_ARCHIVE):
            os.replace(dump, CDS_ARCHIVE)
        else:
            os.remove(dump)
    result = {"attempted": 1, "failed": 1, "checks": [], "e2e": {}, "layer": {}, "spans": []}
    if os.path.exists(out):
        with open(out) as f:
            result = json.load(f)
    if rc != 0:
        result["checks"].append({"name": "jvm exit", "ok": False, "detail": f"exit {rc}"})
    if workload == "query_mix" and rc == 0:
        t0 = time.time()
        oracle_checks(work, result)
        log(f"oracle checks took {time.time() - t0:.1f}s")
    bad = [c for c in result["checks"] if not c["ok"]]
    # a failed check counts one failed unit unless the JVM already did
    jvm_failed = sum(1 for c in result["checks"] if not c["ok"] and not c["name"].startswith(("oracle ", "rows ")))
    failed = int(result["failed"]) + (len(bad) - jvm_failed)
    attempted = max(int(result["attempted"]), 1)
    for c in bad:
        log(f"CHECK FAILED {c['name']}: {c['detail']}")
    log(f"{len(result['checks']) - len(bad)}/{len(result['checks'])} checks passed")

    layer = dict(result["layer"])
    layer["failed_share"] = failed / attempted
    cache = os.path.join(BUILD, "results")
    os.makedirs(cache, exist_ok=True)
    if not trace and failed == 0:
        with open(os.path.join(cache, f"{workload}-{seed}.json"), "w") as f:
            json.dump(result["e2e"], f)
    if trace:
        add_overhead(cache, workload, seed, result["e2e"], layer)
        os.makedirs(os.path.join(BUILD, "traces"), exist_ok=True)
        spans = os.path.join(BUILD, "traces", f"{workload}-{seed}.jsonl")
        with open(spans, "w") as f:
            f.writelines(s + "\n" for s in result["spans"])
        log(f"{len(result['spans'])} spans written to {os.path.relpath(spans, ROOT)}")
    decl = spec["per_layer"] if trace else spec["end_to_end"]
    src = layer if trace else result["e2e"]
    metrics = {}
    for m in decl:
        v = src.get(m["name"])
        if v is None:
            if not trace:
                failed += 1  # an end-to-end number the run did not produce
                log(f"missing end-to-end metric {m['name']}")
            v = 0.0  # per-layer: the workload does not exercise this layer
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    for name, m in metrics.items():
        print(f"{workload} {name} = {m['value']:.6g} {m['unit']}")
    if trace:
        extra = sorted(k for k in layer if k not in metrics)
        for k in extra:
            print(f"{workload} (layer) {k} = {layer[k]:.6g}")
    shutil.rmtree(work, ignore_errors=True)
    log(f"{workload} seed {seed} done in {time.time() - started:.1f}s")
    correct = failed == 0 and rc == 0
    return {"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    spec = bench_spec()
    kept = [w["name"] for w in spec["workloads"]]
    ap.add_argument("--workload", required=True, choices=kept + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=spec["run_seconds"])
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    cp = ensure_build()
    names = kept if a.workload == "all" else [a.workload]
    results = [run_one(w, a.seed, a.seconds, a.trace, spec, cp) for w in names]
    for r in results:
        print(json.dumps(r), flush=True)
    sys.exit(0 if all(r["correct"] for r in results) else 1)


if __name__ == "__main__":
    main()
