#!/usr/bin/env python3
"""graft benchmark: one closed-loop run of one workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run compiles the engine
(src/main/scala) together with the harness (perfbench/src) with the Scala
compiler that ships in the Spark jar directory into a jar under
.bench_build (or $CARGO_TARGET_DIR), and records a class-data sharing
archive for it; later runs reuse both while the sources are unchanged.
Each run then generates its inputs (the query tables are fixed; the seed
permutes the query mix's op order and drives the ClickUp generator),
starts one JVM with Spark local[nproc], and measures whole cycles of the
workload's ops, at least three and at least --seconds. Every op's output
is checked: the query workloads compare each query's result with its
DuckDB oracle (tools/check_correctness.py's typed, exact compare), the
sync workload compares the warehouse and every read with a model of the
generated inputs.

The last line of stdout is the result JSON. With --trace 0 its metrics are
the end-to-end metrics of BENCHMARK.json; with --trace 1 the per-layer
metrics, and the run also writes its traced artifact (spans, counters,
per-query breakdown, tracing overhead, host context) under
<build>/traces/.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# the Spark installation's jars: $SPARK_HOME, else the one spark-submit runs
SPARK_JARS = os.path.join(os.environ.get("SPARK_HOME") or os.path.dirname(
    os.path.dirname(os.path.realpath(shutil.which("spark-submit") or "."))), "jars")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
ENGINE_RES = os.path.join(ROOT, "src", "main", "resources")
BENCH_SRC = os.path.join(HERE, "src", "main", "scala")
DEADLINE_S = 170  # every run must end within 180 s

# scale factor of the generated tables per workload (None: no tables)
SCALE = {"query_mix": 0.01, "clickup_sync": None}
SMOKE_SCALE = 0.001
# the tables are the same in every run; --seed only permutes the op order
TABLE_SEED = 1
JVM_FLAGS = ["-Xmx4g", "-Xss8m", "-XX:+UseG1GC", "-XX:-UsePerfData",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"] + [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")]


def fail(msg: str, code: int = 2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def build_dir() -> str:
    d = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


def _files(top: str, suffix: str = "") -> list:
    out = []
    for d, _, fs in os.walk(top):
        out += [os.path.join(d, f) for f in fs if f.endswith(suffix)]
    return sorted(out)


def build() -> str:
    """Compiles engine + harness once per source state into a jar, and
    records a class-data sharing archive from a training run over every
    workload's warm-up (it halves JVM and Spark start-up). Returns the
    jar."""
    if not os.path.isdir(ENGINE_SRC):
        fail(f"engine sources not found at {ENGINE_SRC}")
    if not os.path.isdir(SPARK_JARS):
        fail(f"Spark jars not found at {SPARK_JARS}")
    srcs = _files(ENGINE_SRC, ".scala") + _files(BENCH_SRC, ".scala")
    res = _files(ENGINE_RES)
    h = hashlib.sha256()
    for f in srcs + res:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    classes = os.path.join(build_dir(), "classes")
    jar = classes + ".jar"
    stamp = classes + ".stamp"
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return jar
    for f in (stamp, jar, cds_archive()):
        if os.path.exists(f):
            os.remove(f)
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    jars = sorted(os.path.join(SPARK_JARS, j) for j in os.listdir(SPARK_JARS)
                  if j.endswith(".jar"))
    scalac_cp = [j for j in jars if os.path.basename(j).startswith(
        ("scala-compiler-", "scala-library-", "scala-reflect-"))]
    argfile = os.path.join(build_dir(), "scalac.args")
    with open(argfile, "w") as fh:
        fh.write("\n".join(["-nowarn", "-d", classes, "-cp", ":".join(jars)] + srcs))
    r = subprocess.run(["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", ":".join(scalac_cp),
                        "scala.tools.nsc.Main", "@" + argfile],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        fail("compile failed:\n" + r.stdout[-4000:])
    for f in res:
        dst = os.path.join(classes, os.path.relpath(f, ENGINE_RES))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copy(f, dst)
    with zipfile.ZipFile(jar, "w", zipfile.ZIP_STORED) as z:
        for f in _files(classes):
            z.write(f, os.path.relpath(f, classes))
    shutil.rmtree(classes)
    train = os.path.join(build_dir(), "train")
    shutil.rmtree(train, ignore_errors=True)
    os.makedirs(train)
    try:
        sys.path.insert(0, HERE)
        import gen_tables
        gen_tables.write(os.path.join(train, "data"), SMOKE_SCALE, TABLE_SEED)
        run_jvm(jar, {"workload": "train", "seed": 1, "seconds": 0, "trace": 0,
                      "data": os.path.join(train, "data"), "t0": int(time.time() * 1000)},
                train, time.time() + 600, [f"-XX:ArchiveClassesAtExit={cds_archive()}"])
    finally:
        shutil.rmtree(train, ignore_errors=True)
    with open(stamp, "w") as fh:
        fh.write(h.hexdigest())
    return jar


def cds_archive() -> str:
    return os.path.join(build_dir(), "classes.jsa")


def host_context() -> dict:
    mem = {}
    with open("/proc/meminfo") as fh:
        for line in fh:
            k, v = line.split(":", 1)
            mem[k] = int(v.split()[0])
    return {"nproc": len(os.sched_getaffinity(0)), "loadavg": list(os.getloadavg()),
            "mem_available_mb": mem.get("MemAvailable", 0) // 1024,
            "mem_total_mb": mem.get("MemTotal", 0) // 1024}


def run_jvm(jar: str, args: dict, work: str, deadline: float, flags=()) -> dict:
    out = os.path.join(work, "result.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cds = [f"-XX:SharedArchiveFile={cds_archive()}"] if os.path.exists(cds_archive()) else []
    cmd = ["java"] + JVM_FLAGS + cds + list(flags) + [
        f"-Djava.io.tmpdir={tmp}", "-cp", f"{jar}:{SPARK_JARS}/*", "perfbench.Harness"]
    for k, v in args.items():
        cmd += [f"--{k}", str(v)]
    cmd += ["--work", work, "--out", out]
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as fh:
        p = subprocess.Popen(cmd, stdout=fh, stderr=subprocess.STDOUT, cwd=work,
                             start_new_session=True)
        try:
            p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            fail("run exceeded its time limit", 3)
        finally:
            # also on SIGTERM / Ctrl-C: never leave the JVM behind
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
    if p.returncode != 0 or (args["workload"] != "train" and not os.path.exists(out)):
        with open(log) as fh:
            lines = [x for x in fh if "[cds]" not in x]
        sys.stderr.write("".join(lines)[-4000:])
        fail(f"harness exited with {p.returncode}", 3)
    if args["workload"] == "train":
        return {}
    with open(out) as fh:
        return json.load(fh)


def oracle_check(data: str, check: dict, inject_wrong: str) -> dict:
    """Typed, exact compare of every query result with its DuckDB oracle;
    queries without an oracle get a recorded result hash. Returns the
    mismatches ({name: error}) under "failed" and the hashes under
    "hashes"."""
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    import check_correctness as cc
    import duckdb
    import pandas as pd
    con = duckdb.connect()
    for t in cc.TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    with open(os.path.join(check["dir"], "oracle_sql.json")) as fh:
        oracle = json.load(fh)
    bad, hashes = dict(check["errors"]), {}
    for name in check["names"]:
        if name in bad:
            continue
        got = pd.read_parquet(os.path.join(check["dir"], name))
        if name not in oracle:
            hashes[name] = hashlib.sha256(repr(cc.canon(got)).encode()).hexdigest()
            continue
        exp = con.sql(oracle[name]).df()
        if name == inject_wrong:
            exp = exp.rename(columns={exp.columns[0]: exp.columns[0] + "_wrong"})
        if sorted(exp.columns) != sorted(got.columns):
            bad[name] = f"columns {sorted(got.columns)} vs oracle {sorted(exp.columns)}"
        elif len(exp) != len(got):
            bad[name] = f"rows {len(got)} vs oracle {len(exp)}"
        else:
            probs = cc.type_mismatches(con, oracle[name], os.path.join(check["dir"], name))
            if probs:
                bad[name] = "type mismatch: " + "; ".join(probs)
            elif cc.canon(exp) != cc.canon(got):
                bad[name] = "values differ"
    return {"failed": bad, "hashes": hashes}


def unit(metric: str) -> str:
    if metric.endswith("_pct"):
        return "%"
    return "1/s" if metric.endswith("_per_s") else "s"


def spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(SCALE))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "smoke"), default="full")
    ap.add_argument("--inject-wrong", default="",
                    help="op whose expected result is deliberately corrupted "
                         "(the smoke test's failure-accounting check)")
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    deadline = time.time() + DEADLINE_S
    bench = spec()
    host = {"before": host_context()}
    jar = build()
    t0 = time.time()
    deadline = max(deadline, t0 + DEADLINE_S - 20)
    work = os.path.join(build_dir(), "work", f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        data = os.path.join(work, "data")
        sf = SCALE[a.workload]
        if sf is not None:
            sys.path.insert(0, HERE)
            import gen_tables
            gen_tables.write(data, SMOKE_SCALE if a.size == "smoke" else sf, TABLE_SEED)
        t_jvm = time.time()
        res = run_jvm(jar, {"workload": a.workload, "seed": a.seed,
                                "seconds": a.seconds, "trace": a.trace, "size": a.size,
                                "data": data, "t0": int(t0 * 1000),
                                "inject-wrong": a.inject_wrong or "-"}, work, deadline)
        t_check = time.time()
        host["after"] = host_context()
        host["jvm_flags"] = res["jvm_flags"]
        ops = res["ops"]
        timed = [o for o in ops if not o["traced"]] if a.trace else ops
        if sf is not None:
            chk = oracle_check(data, res["checks"], a.inject_wrong)
            wrong = chk["failed"]
            attempted = len(timed) + len(res["checks"]["names"])
            failed = len(wrong) + sum(1 for o in timed
                                      if o["error"] or o["name"] in wrong)
        else:
            chk = res["checks"]
            wrong = chk["errors"]
            attempted = len(timed) + chk["warmup_ops"]
            failed = len(wrong) + sum(1 for o in timed if o["error"])
        errors = {o["name"]: o["error"] for o in timed if o["error"]}
        errors.update(wrong)
        m = dict(res["metrics"], setup_s=res["setup_s"])
        key = "per_layer" if a.trace else "end_to_end"
        src = res["per_layer"] if a.trace else m
        metrics = {x["name"]: {"value": src[x["name"]], "unit": x["unit"]}
                   for x in bench[key]}
        by_op = {}
        for o in timed:
            by_op.setdefault(o["name"], []).append(o["s"])
        summary = {"workload": a.workload, "seed": a.seed, "ops": len(timed),
                   "op_p50_s": {k: round(statistics.median(v), 4) for k, v in by_op.items()},
                   "cycles": res["cycles"], "setup_phases": res["setup_phases"],
                   "runner_s": {"inputs": round(t_jvm - t0, 3), "jvm": round(t_check - t_jvm, 3),
                                "check": round(time.time() - t_check, 3)},
                   "warmup_s": res["checks"].get("warmup_s", {}),
                   "failed_frac": failed / max(1, attempted),
                   "end_to_end": {k: {"value": v, "unit": unit(k)} for k, v in m.items()
                                  if k not in ("attempted", "failed")},
                   "errors": errors, "host": host}
        if a.trace:
            overhead = {k: res["traced_metrics"][k] - res["metrics"][k]
                        for k in res["metrics"]}
            summary["tracing_overhead"] = overhead
            art_dir = os.path.join(build_dir(), "traces")
            os.makedirs(art_dir, exist_ok=True)
            art = os.path.join(art_dir, f"{a.workload}-seed{a.seed}.json")
            with open(art, "w") as fh:
                json.dump({"summary": summary, "untraced": res["metrics"],
                           "traced": res["traced_metrics"], "per_layer": res["per_layer"],
                           "counters": res["counters"], "breakdown": res["breakdown"],
                           "spans": res["spans"], "ops": ops,
                           "result_hashes": chk.get("hashes", {})}, fh)
            summary["artifact"] = os.path.relpath(art, ROOT)
        print(json.dumps(summary))
        print(json.dumps({"correct": failed == 0, "attempted": attempted,
                          "failed": failed, "metrics": metrics}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
