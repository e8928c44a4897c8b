#!/usr/bin/env python3
"""Benchmark of the pipeline, its reports and the graph query, end to end
and per layer.

Usage (from the root of a checkout):
  python3 perfbench/run.py --workload etl_paper|queries --seed N \
      --seconds S --trace 0|1

Builds the program and the benchmark from source (sbt, offline) into
.bench_build/ on first use, generates the workload's inputs from the seed
(perfbench/gen.py), runs one JVM (perfbench.Main) that measures and checks
the program, compares query results with DuckDB running the program's own
oracle SQL, and prints one JSON object as the last line of stdout. With
--trace 0 it holds the end-to-end metrics, with --trace 1 the per-layer
metrics of a separately traced run. See perfbench/README.md.
"""
import argparse
import hashlib
import importlib.util
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402

WORKLOADS = {
    # name -> (input generator, size)
    "etl_paper": ("dopi", 18000),
    "queries": ("tpch", 0.01),
}
GEN_REPEATS = 3
JVM_HEAP = "3g"
RUN_LIMIT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]
TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem"]


def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def tree_hash(top: str) -> str:
    h = hashlib.sha256()
    for d, dirs, files in os.walk(top):
        dirs.sort()
        for f in sorted(files):
            p = os.path.join(d, f)
            h.update(p[len(top):].encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def source_stamp(root: str) -> str:
    """Hash of everything the build compiles: the program's sources, the
    benchmark's own sources and its build files."""
    parts = [tree_hash(os.path.join(root, "src", "main", "scala")),
             tree_hash(os.path.join(HERE, "src", "main", "scala"))]
    for f in ("build.sbt", os.path.join("project", "build.properties")):
        with open(os.path.join(HERE, f), "rb") as fh:
            parts.append(hashlib.sha256(fh.read()).hexdigest())
    return hashlib.sha256("".join(parts).encode()).hexdigest()


def build(root: str, work: str) -> list[str]:
    """Compile with sbt (offline) unless the sources are unchanged since the
    last build; returns the runtime classpath."""
    stamp_file = os.path.join(work, "build.stamp")
    cp_file = os.path.join(work, "classpath.txt")
    stamp = source_stamp(root)
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().split(os.pathsep)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = env.get("SBT_OPTS", "")
    if "-Dsbt.offline=true" not in opts:
        env["SBT_OPTS"] = (opts + " -Dsbt.offline=true").strip()
    log = os.path.join(work, "build.log")
    with open(log, "w") as out:
        rc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, timeout=840).returncode
    with open(log) as f:
        lines = [ln.strip() for ln in f if "sbt-target" in ln and os.pathsep in ln]
    if rc != 0 or not lines:
        fail(f"build failed (exit {rc}); see {log}")
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1].split(os.pathsep)


def generate(kind: str, size, seed: int, base: str) -> tuple[str, float]:
    """Generate the inputs GEN_REPEATS times into fresh directories and keep
    the last; returns its path and the median generation time."""
    times = []
    for i in range(GEN_REPEATS):
        d = os.path.join(base, f"inputs-{i}")
        subprocess.run(["rm", "-rf", d], check=True)
        t0 = time.monotonic()
        if kind == "dopi":
            gen.write_dopi(d, size, seed)
        else:
            gen.write_tpch(d, size, seed)
        times.append(time.monotonic() - t0)
    return d, statistics.median(times)


def run_jvm(cp: list[str], args: list[str], work: str, log: str, limit: float) -> None:
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        f"-Xmx{JVM_HEAP}", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
        "-cp", os.pathsep.join(cp), "perfbench.Main"] + args
    with open(log, "w") as out:
        p = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
        try:
            rc = p.wait(timeout=limit)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"run exceeded {limit:.0f} s; see {log}")
    if rc != 0:
        fail(f"benchmark JVM exited with {rc}; see {log}")


def oracle_failures(root: str, inputs: str, out: str, oracle: list[dict]) -> dict:
    """Compare each query's result with DuckDB running the program's oracle
    SQL over the same tables, using the comparison of tools/check.py."""
    if not oracle:
        return {}
    import duckdb
    spec = importlib.util.spec_from_file_location(
        "check", os.path.join(root, "tools", "check.py"))
    check = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(check)
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{inputs}/{t}.parquet'")
    bad = {}
    for q in oracle:
        name = q["name"]
        try:
            spark_df = con.sql(f"SELECT * FROM '{out}/results/{name}/*.parquet'").df()
            problems = check.compare(name, spark_df, con.sql(q["sql"]).df())
        except Exception as e:  # missing result or oracle error
            problems = [repr(e)]
        if problems:
            bad[name] = problems
    return bad


def failed_ratio(failed: int, attempted: int) -> float:
    """Failed or wrong operations over operations attempted."""
    if attempted <= 0 or not 0 <= failed <= attempted:
        raise ValueError(f"failed={failed} attempted={attempted}")
    return failed / attempted


def count_failed(result: dict, oracle_bad: dict) -> int:
    """An operation fails if it raised, if its query's result disagrees with
    the oracle, or if any output check of the run failed."""
    if not all(c["ok"] for c in result["checks"]):
        return result["attempted"]
    return sum(1 for op in result["ops"] if not op["ok"] or op["name"] in oracle_bad)


def history_path(work: str, workload: str) -> str:
    return os.path.join(work, "state", f"history-{workload}.jsonl")


def untraced_run_s(work: str, workload: str) -> list[float]:
    try:
        with open(history_path(work, workload)) as f:
            return [json.loads(ln)["run_s"] for ln in f if ln.strip()]
    except FileNotFoundError:
        return []


def record_history(work: str, workload: str, seed: int, r: dict) -> None:
    with open(history_path(work, workload), "a") as f:
        f.write(json.dumps({"seed": seed, "run_s": r["metrics"]["run_s"]}) + "\n")


def one_run(root, work, cp, workload, seed, seconds, trace, deadline) -> dict:
    kind, size = WORKLOADS[workload]
    base = os.path.join(work, "runs", f"{workload}-{seed}-{'traced' if trace else 'plain'}")
    subprocess.run(["rm", "-rf", base], check=True)
    os.makedirs(base)
    inputs, gen_s = generate(kind, size, seed, base)
    out = os.path.join(base, "out")
    # outputs are compared with earlier runs on byte-identical inputs only
    state = os.path.join(work, "state", f"{workload}-{tree_hash(inputs)[:16]}")
    spawn_ms = time.time() * 1000
    run_jvm(cp, [workload, str(seed), str(seconds), "1" if trace else "0", inputs, out, state],
            work, os.path.join(base, "jvm.log"), deadline - time.monotonic())
    with open(os.path.join(out, "result.json")) as f:
        result = json.load(f)
    result["setup_s"] = gen_s + (result["measure_from_ms"] - spawn_ms) / 1000
    result["oracle_bad"] = oracle_failures(root, inputs, out, result.get("oracle", []))
    result["failed"] = count_failed(result, result["oracle_bad"])
    return result


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        fail("no program sources under src/main/scala/graft; run from the root of a checkout")
    work = os.path.join(root, ".bench_build")
    os.makedirs(os.path.join(work, "state"), exist_ok=True)
    cp = build(root, work)
    deadline = time.monotonic() + RUN_LIMIT_S

    if a.trace and not untraced_run_s(work, a.workload):
        # the tracing overhead is measured against an untraced run
        untraced = one_run(root, work, cp, a.workload, a.seed, a.seconds, False, deadline)
        record_history(work, a.workload, a.seed, untraced)
    r = one_run(root, work, cp, a.workload, a.seed, a.seconds, bool(a.trace), deadline)
    if not a.trace:
        record_history(work, a.workload, a.seed, r)

    m = r["metrics"]
    for c in r["checks"]:
        print(f"check {c['name']}: {'ok' if c['ok'] else 'FAILED'} {c['detail']}")
    for name, problems in r["oracle_bad"].items():
        print(f"oracle {name}: FAILED {problems}")
    tail = r.get("query_tail")
    print(f"workload={a.workload} seed={a.seed} units={len(r['units'])} "
          f"ops={r['attempted']} failed_ratio={failed_ratio(r['failed'], r['attempted'])} "
          f"tail={'p%d=%.4f s' % (tail['p'], tail['s']) if tail else 'n/a (fewer than 20 ops)'}")
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        declared = json.load(f)
    if a.trace:
        values = dict(r["layers"], **{"jvm.peak_rss_mb": m["peak_rss_mb"]})
        values["tracing.overhead_s"] = r["units"][0] - statistics.median(
            untraced_run_s(work, a.workload))
        wanted = declared["per_layer"]
    else:
        values = dict(m, setup_s=r["setup_s"])
        wanted = declared["end_to_end"]
    names = {w["name"] for w in wanted}
    for k in sorted(set(values) - names):
        print(f"{k}={values[k]} (not a declared metric of this mode)")
    # a layer this workload does not exercise did no work: it reads 0
    metrics = {w["name"]: {"value": values.get(w["name"], 0.0), "unit": w["unit"]}
               for w in wanted}
    print(json.dumps({"correct": r["failed"] == 0, "attempted": r["attempted"],
                      "failed": r["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
