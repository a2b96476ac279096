#!/usr/bin/env python3
"""Store-lifecycle benchmark of graft.core.Datastream.

Run from the root of a checkout of the program:

    python3 perfbench/run.py --workload ingest_plain --seed 1 --seconds 30 --trace 0

It builds the program and the benchmark from source (sbt, offline), runs the
workload in one JVM at local[N] with N = the CPUs this process may use, checks
the store's outputs against an independent reference, and prints as its last
line one JSON object: {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are the end-to-end metrics of BENCHMARK.json, with
--trace 1 its per-layer metrics. See perfbench/README.md.

Events come from the sf0.1 test tables: $SPARK_GRAFT_SF_DIR if set, else
~/testdata/sf0.1. Traced runs also run three operator queries on the sf0.01
tables: $SPARK_GRAFT_OPS_SF_DIR if set, else ~/testdata/sf0.01.
"""
import argparse
import hashlib
import glob
import json
import math
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ("ingest_plain", "serve_derived")
DEADLINE_S = 170  # a run must end within 180 s; the build has its own limit
BUILD_TIMEOUT_S = 600
JAVA_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def run_group(cmd, timeout, **kw):
    """Run `cmd` in a process group of its own and wait for it. On timeout,
    or if this process is interrupted, kill the whole group and wait, so
    no process outlives the benchmark. Returns (exit code, stdout)."""
    p = subprocess.Popen(cmd, start_new_session=True, stdin=subprocess.DEVNULL,
                         **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
        return p.returncode, out
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def sources():
    """Every file the build reads, in a fixed order."""
    out = []
    for rel in ("build.sbt", "project/build.properties",
                "perfbench/build.sbt", "perfbench/project/build.properties"):
        out.append(os.path.join(ROOT, rel))
    for top in ("src/main", "perfbench/src"):
        for d, _, fs in sorted(os.walk(os.path.join(ROOT, top))):
            out.extend(os.path.join(d, f) for f in sorted(fs))
    return out


def fingerprint():
    h = hashlib.sha256()
    for p in sources():
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.override.build.repos=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts.append(f"-Dsbt.repository.config={repos}")
    env["SBT_OPTS"] = " ".join(opts)
    return env


def build():
    """Compile the program and the benchmark; return the runtime classpath.
    Skipped when no source changed since the last build in this checkout."""
    os.makedirs(STATE, exist_ok=True)
    stamp = os.path.join(STATE, "build.stamp")
    cp_file = os.path.join(STATE, "classpath.txt")
    fp = fingerprint()
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as f:
            if f.read() == fp:
                with open(cp_file) as g:
                    return g.read()
    log = os.path.join(STATE, "build.log")
    with open(log, "w") as out:
        try:
            code, _ = run_group(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                 "export Runtime/fullClasspath"],
                BUILD_TIMEOUT_S, cwd=HERE, env=sbt_env(), stdout=out,
                stderr=subprocess.STDOUT)
        except subprocess.TimeoutExpired:
            die("build timed out", 1)
    with open(log) as f:
        lines = f.read().splitlines()
    cps = [l for l in lines if ".jar" in l and os.pathsep in l
           and not l.startswith("[")]
    if code != 0 or not cps:
        sys.stderr.write("\n".join(lines[-30:]) + "\n")
        die("build failed", 1)
    with open(cp_file, "w") as f:
        f.write(cps[-1])
    with open(stamp, "w") as f:
        f.write(fp)
    return cps[-1]


def write_points(sf, path):
    """The workloads' source points: events of one (user, type) stream
    summed per second, in (second, stream) order."""
    import duckdb
    con = duckdb.connect()
    try:
        rows = con.sql(f"""
            SELECT user_id || ':' || event_type AS key, user_id,
                   CAST(floor(epoch(ts)) AS BIGINT) AS sec, sum(value) AS v
            FROM read_parquet('{sf}/events.parquet')
            GROUP BY ALL ORDER BY sec, key""").fetchall()
    finally:
        con.close()
    with open(path, "w") as f:
        for k, u, sec, v in rows:
            f.write(f"{k}\t{u}\t{sec}\t{v!r}\n")


TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def oracle_diff(got, gcols, exp, ecols):
    """Why a query result differs from its oracle's, or None. The rules of
    the repo's oracle gate: columns compared by sorted name, rows in order,
    values equal except floats, which may differ by a relative 1e-9."""
    if sorted(gcols) != sorted(ecols):
        return f"columns {gcols} vs {ecols}"
    gp = [gcols.index(c) for c in sorted(gcols)]
    ep = [ecols.index(c) for c in sorted(ecols)]
    if len(got) != len(exp):
        return f"{len(got)} rows vs {len(exp)}"
    for i, (rg, re_) in enumerate(zip(got, exp)):
        for a, b in zip((rg[j] for j in gp), (re_[j] for j in ep)):
            if a == b:
                continue
            if isinstance(a, float) and isinstance(b, float):
                if math.isnan(a) and math.isnan(b):
                    continue
                if abs(a - b) <= 1e-9 * max(abs(a), abs(b), 1e-300):
                    continue
            return f"row {i}: {a!r} vs {b!r}"
    return None


def check_ops(ops_dir, sf):
    """Each operator query's parquet output against its oracle SQL in
    DuckDB, then the same check with one value perturbed, which must fail.
    Returns (mismatch descriptions, self-test outcome)."""
    import duckdb
    con = duckdb.connect()
    bad, self_test = [], None
    try:
        con.sql("SET TimeZone='UTC'")
        for t in TABLES:
            if os.path.exists(f"{sf}/{t}.parquet"):
                con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")
        for sql_file in sorted(glob.glob(os.path.join(ops_dir, "*.sql"))):
            name = os.path.basename(sql_file)[:-4]
            files = glob.glob(os.path.join(ops_dir, name, "*.parquet"))
            if not files:
                bad.append(f"{name}: no output")
                continue
            r = con.sql(f"SELECT * FROM read_parquet({files!r})")
            gcols, got = [d[0] for d in r.description], r.fetchall()
            with open(sql_file) as f:
                e = con.sql(f.read())
            ecols, exp = [d[0] for d in e.description], e.fetchall()
            why = oracle_diff(got, gcols, exp, ecols)
            if why:
                bad.append(f"{name}: {why}")
            elif self_test is None and got:
                # fault injection: one value of the first row changed
                row = list(got[0])
                v = row[0]
                row[0] = (v * (1 + 1e-6) + 1e-3 if isinstance(v, float)
                          else None if v is not None else 0)
                self_test = oracle_diff([tuple(row)] + got[1:], gcols,
                                        exp, ecols) is not None
    finally:
        con.close()
    return bad, self_test


def git_provenance():
    """Commit and dirty flag, or why there is none (an exported checkout)."""
    def git(*args):
        return subprocess.run(["git", "-C", ROOT, *args], capture_output=True,
                              text=True, timeout=30)
    try:
        r = git("rev-parse", "HEAD")
        d = git("status", "--porcelain")
    except (OSError, subprocess.TimeoutExpired) as e:
        return {"sha": None, "dirty": None, "git_error": str(e)}
    if r.returncode != 0 or d.returncode != 0:
        err = (r.stderr if r.returncode != 0 else d.stderr).strip()
        return {"sha": None, "dirty": None,
                "git_error": (err.splitlines() or ["?"])[-1]}
    return {"sha": r.stdout.strip(), "dirty": bool(d.stdout.strip())}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # a terminated run still unwinds, so its child processes are killed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.exists(os.path.join(ROOT, "src/main/scala/graft/core/Datastream.scala")) \
            or not os.path.exists(os.path.join(ROOT, "build.sbt")):
        die(f"no program sources under {ROOT}: run from a checkout of the program")
    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(spec_path):
        die("BENCHMARK.json not found at the checkout root")
    with open(spec_path) as f:
        spec = json.load(f)
    sf = os.environ.get("SPARK_GRAFT_SF_DIR",
                        os.path.expanduser("~/testdata/sf0.1"))
    if not os.path.exists(os.path.join(sf, "events.parquet")):
        die(f"test tables not found in {sf} (set SPARK_GRAFT_SF_DIR)")
    ops_sf = os.environ.get("SPARK_GRAFT_OPS_SF_DIR",
                            os.path.expanduser("~/testdata/sf0.01"))
    if a.trace and not os.path.exists(os.path.join(ops_sf, "documents.parquet")):
        die(f"test tables not found in {ops_sf} (set SPARK_GRAFT_OPS_SF_DIR)")

    cp = build()
    cores = len(os.sched_getaffinity(0))
    work = os.path.join(STATE, "runs", f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    points = os.path.join(work, "points.tsv")
    write_points(sf, points)
    cmd = ["java"]
    for p in JAVA_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    # client compiler only (see README); its default 48 MB code cache fills
    # with the classes Spark generates per query, after which the JVM
    # flushes and recompiles code, or stops compiling, for the rest of the
    # run: later batches then ran slower than earlier ones and process CPU
    # rose by a third, so the cache is sized to hold a whole run
    cmd += ["-Xmx3g", "-XX:TieredStopAtLevel=1",
            "-XX:ReservedCodeCacheSize=256m", f"-Djava.io.tmpdir={work}/tmp",
            "-Dspark.sql.session.timeZone=UTC", "-cp", cp,
            "graft.perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--points", points, "--work", work, "--cores", str(cores),
            "--ops-sf", ops_sf]
    log = os.path.join(STATE, f"jvm-{a.workload}-{a.seed}-{a.trace}.log")
    try:
        with open(log, "w") as err:
            try:
                code, stdout = run_group(cmd, DEADLINE_S, stdout=subprocess.PIPE,
                                         stderr=err, text=True)
            except subprocess.TimeoutExpired:
                die("run exceeded its time limit", 1)
        spans = os.path.join(work, "spans.jsonl")
        if a.trace and os.path.exists(spans):
            shutil.copy(spans, os.path.join(STATE, f"spans-{a.workload}-{a.seed}.jsonl"))
        ops_bad, ops_self_test = (check_ops(os.path.join(work, "ops"), ops_sf)
                                  if a.trace and code == 0 else ([], None))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in stdout.splitlines() if l.startswith("{")]
    if code != 0 or not lines:
        with open(log) as f:
            sys.stderr.write("".join(f.readlines()[-30:]))
        die(f"benchmark process failed (exit {code})", 1)
    res = json.loads(lines[-1])
    if a.trace:
        # every query that differs from its oracle is a failed operation,
        # and a check that misses its injected fault makes the run incorrect
        for b in ops_bad[:5]:
            print(f"perfbench: operator query mismatch: {b}", file=sys.stderr)
        res["failed"] = min(res["attempted"], res["failed"] + len(ops_bad))
        res["correct"] = res["correct"] and not ops_bad and ops_self_test is True
        res["info"]["self_tests"]["operator_queries"] = ops_self_test

    key = "end_to_end" if a.trace == 0 else "per_layer"
    metrics, missing = {}, []
    for m in spec[key]:
        got = res["metrics"].get(m["name"])
        if got is None or got["value"] is None:
            missing.append(m["name"])
        else:
            metrics[m["name"]] = {"value": got["value"], "unit": m["unit"]}
    if missing:
        die(f"metrics not measured: {', '.join(missing)}", 1)

    info = res.get("info", {})
    provenance = dict(git_provenance(), nproc=cores, master=f"local[{cores}]",
                      sf_dir=sf, seed=a.seed, workload=a.workload,
                      trace=a.trace, seconds=a.seconds,
                      spark=info.get("spark"), jvm=info.get("jvm"))
    record = {"provenance": provenance, "info": info, "metrics": res["metrics"],
              "correct": res["correct"], "attempted": res["attempted"],
              "failed": res["failed"]}
    os.makedirs(os.path.join(STATE, "results"), exist_ok=True)
    with open(os.path.join(STATE, "results",
                           f"{a.workload}-{a.seed}-trace{a.trace}.json"), "w") as f:
        json.dump(record, f, indent=1)
    print("provenance " + json.dumps(provenance))
    print("info " + json.dumps(info))
    if a.trace:
        # tracing overhead: this traced run minus the untraced run at the
        # same workload and seed, when one ran in this checkout
        base = os.path.join(STATE, "results", f"{a.workload}-{a.seed}-trace0.json")
        if os.path.exists(base):
            with open(base) as f:
                b = json.load(f)["metrics"]
            over = {m["name"]: res["metrics"][f"traced.{m['name']}"]["value"]
                    - b[m["name"]]["value"] for m in spec["end_to_end"]
                    if f"traced.{m['name']}" in res["metrics"] and m["name"] in b}
            print("tracing_overhead " + json.dumps(over))
    print(json.dumps({"correct": bool(res["correct"]),
                      "attempted": int(res["attempted"]),
                      "failed": int(res["failed"]), "metrics": metrics}))


if __name__ == "__main__":
    main()
