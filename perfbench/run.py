#!/usr/bin/env python3
"""Benchmark launcher.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Builds the program and the harness from
source with sbt when the sources changed since the last build (under
``$CARGO_TARGET_DIR``, default ``.bench_build``), runs one workload in a
fresh JVM, checks the outputs, and prints one JSON object as the last
line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones, with ``--trace 1``
the per-layer ones. A full artifact (host stamp, samples, check notes,
spans) is written to ``<build>/out/``. See perfbench/README.md.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PROGRAM = os.path.join(ROOT, "src", "main")
WORKLOADS = ["daemon_fleet", "catalog"]
HEAP = "2g"
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def build_dir():
    return os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or os.path.join(ROOT, ".bench_build"))


def source_digest():
    h = hashlib.sha256()
    roots = [PROGRAM, os.path.join(HERE, "src", "main")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def spark_jars():
    """The Spark installation's jars: $SPARK_HOME/jars, else those of the
    first spark-submit on PATH that sits in an installation with jars."""
    homes = [os.environ.get("SPARK_HOME", "")]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        f = os.path.join(d, "spark-submit")
        if os.path.isfile(f):
            homes.append(os.path.dirname(os.path.dirname(os.path.realpath(f))))
    for home in homes:
        if home and os.path.isdir(os.path.join(home, "jars")):
            return os.path.join(home, "jars")
    raise SystemExit("no Spark installation found: set SPARK_HOME")


def classes_dir():
    return os.path.join(HERE, "target", "scala-2.13", "classes")


def build(deadline):
    """Compile with sbt unless the recorded digest matches the sources."""
    digest = source_digest()
    stamp = os.path.join(build_dir(), "build.digest")
    if os.path.isdir(classes_dir()) and os.path.exists(stamp) and open(stamp).read() == digest:
        return digest, False
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts = ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"] + opts
        env["SBT_OPTS"] = " ".join(opts)
    log("building with sbt")
    r = subprocess.run(["sbt", f"-Dperfbench.sparkJars={spark_jars()}", "--batch",
                        "-Dsbt.log.noformat=true", "compile"], cwd=HERE,
                       env=env, stdout=sys.stderr, stderr=sys.stderr,
                       timeout=max(60, deadline - time.time()))
    if r.returncode != 0:
        raise SystemExit(f"build failed with code {r.returncode}")
    os.makedirs(build_dir(), exist_ok=True)
    with open(stamp, "w") as fh:
        fh.write(digest)
    return digest, True


def git_commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def run_jvm(args, work, artifact, stamp, extra, deadline):
    """Run the harness JVM; returns (last stdout line, peak RSS in MB)."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
              f"-Dspark.local.dir={tmp}", f"-Djava.io.tmpdir={tmp}",
              f"-Dderby.system.home={work}",
              f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
              "-cp", classes_dir() + os.pathsep + os.path.join(spark_jars(), "*"),
              "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--work", work, "--data", os.path.join(HERE, "data", "sf0.001"),
              "--artifact", artifact,
              "--stamp", ",".join(f"{k}={v}" for k, v in stamp.items())] + extra)
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=sys.stderr,
                            start_new_session=True)

    def kill(*_):
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass

    def stop(signum, _):
        kill()
        try:
            os.waitpid(proc.pid, 0)
        except ChildProcessError:
            pass
        raise SystemExit(128 + signum)

    # the JVM runs in its own process group: pass a stop on to it, and wait
    for sig in (signal.SIGTERM, signal.SIGINT):
        signal.signal(sig, stop)
    timer = threading.Timer(max(1.0, deadline - time.time()), kill)
    timer.start()
    try:
        out = proc.stdout.read().decode("utf-8", "replace")
        _, status, usage = os.wait4(proc.pid, 0)
    finally:
        timer.cancel()
        kill()
    code = os.waitstatus_to_exitcode(status)
    proc.returncode = code
    if code != 0:
        raise SystemExit(f"benchmark JVM exited with code {code}")
    lines = [l for l in out.splitlines() if l.strip()]
    if not lines:
        raise SystemExit("benchmark JVM printed no result")
    return json.loads(lines[-1]), usage.ru_maxrss / 1024.0


def duck_digest(con, src):
    """Row count, sorted column names and two order-independent row-hash
    sums of a relation, with every numeric column rendered canonically
    (integers through HUGEINT, other numbers through DOUBLE) so the engine's
    parquet and the oracle's SQL compare whatever their numeric types."""
    rel = con.sql(f"SELECT * FROM ({src}) LIMIT 0")
    cols = sorted(rel.columns)
    types = {c: str(t) for c, t in zip(rel.columns, rel.types)}

    def field(c):
        t = types[c]
        if t.startswith(("TINYINT", "SMALLINT", "INTEGER", "BIGINT", "HUGEINT", "UTINYINT",
                         "USMALLINT", "UINTEGER", "UBIGINT")):
            v = f'CAST(CAST("{c}" AS HUGEINT) AS VARCHAR)'
        elif t.startswith(("DECIMAL", "FLOAT", "DOUBLE")):
            v = f'CAST(CAST("{c}" AS DOUBLE) AS VARCHAR)'
        else:
            v = f'CAST("{c}" AS VARCHAR)'
        return f"COALESCE(CAST(length({v}) AS VARCHAR) || ':' || {v}, chr(1))"

    row = "concat_ws('|', " + ", ".join(field(c) for c in cols) + ")"
    n, a, b = con.execute(
        f"SELECT COUNT(*), COALESCE(SUM(hash({row}) >> 1), 0), "
        f"COALESCE(SUM(hash({row} || '#2') >> 1), 0) FROM ({src})").fetchone()
    return {"rows": int(n), "columns": cols, "sum1": str(int(a)), "sum2": str(int(b))}


def engine_digests(out_dir, names):
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads=2")
    got = {}
    for q in names:
        files = sorted(glob.glob(os.path.join(out_dir, q, "*.parquet")))
        got[q] = (duck_digest(con, "SELECT * FROM read_parquet([" +
                              ", ".join(f"'{f}'" for f in files) + "])") if files else None)
    con.close()
    return got


def expected():
    with open(os.path.join(HERE, "expected.json")) as fh:
        return json.load(fh)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], required=True)
    args = ap.parse_args()
    start = time.time()

    if not os.path.isdir(os.path.join(PROGRAM, "scala", "graft")):
        log(f"no program sources under {PROGRAM}; run from the root of a full checkout")
        return 2
    digest, built = build(start + 840)
    deadline = start + (880 if built else 175)

    exp = expected()
    extra = []
    if args.workload == "catalog":
        # the catalog's traced run also runs one streaming curation pass
        extra = ["--expect-delivered", str(exp["stream_curation"]["delivered"]),
                 "--expect-sigs", str(exp["stream_curation"]["sigs"])]
    stamp = {"commit": git_commit() or f"source-sha256:{digest[:16]}", "xmx": HEAP,
             "data_tier": "sf0.001" if args.workload == "catalog" else "synthetic"}
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    work = os.path.join(build_dir(), "work", f"{tag}-{os.getpid()}")
    artifact = os.path.join(build_dir(), "out", f"{tag}.json")
    shutil.rmtree(work, ignore_errors=True)
    try:
        res, rss_mb = run_jvm(args, work, artifact, stamp, extra, deadline)
        notes = []
        if args.workload == "catalog":
            with open(artifact) as fh:
                report = json.load(fh)["report"]
            ops = report["ops_per_query"]
            got = engine_digests(report["outputs"], sorted(exp["catalog"]))
            for q, want in sorted(exp["catalog"].items()):
                if got.get(q) != want:
                    res["failed"] += max(1, ops.get(q, 0))
                    notes.append(f"{q}: output {got.get(q)} differs from expected {want}")
            res["correct"] = res["failed"] == 0
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for n in notes:
        log(f"check: {n}")
    with open(artifact) as fh:
        art = json.load(fh)
    art["metrics"] = res["metrics"]
    art["peak_rss_mb"] = rss_mb
    art["check"]["notes"] += notes
    art["result"] = {k: res[k] for k in ("correct", "attempted", "failed")}
    with open(artifact, "w") as fh:
        json.dump(art, fh, indent=1, sort_keys=True)
    log(f"artifact {os.path.relpath(artifact, ROOT)}; {time.time() - start:.1f} s")
    print(json.dumps({k: res[k] for k in ("correct", "attempted", "failed", "metrics")},
                     sort_keys=True))
    return 0


if __name__ == "__main__":
    sys.exit(main())
