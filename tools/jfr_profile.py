#!/usr/bin/env python3
"""Summarise a JFR recording of the engine: process starts and CPU samples.

    python3 tools/jfr_profile.py <recording.jfr> [--top 15]

Reads the recording with the JDK's `jfr print --stack-depth 400 --json`
(one pass per event type, streamed, so a long recording never sits in
memory whole) and prints:

- process starts (`jdk.ProcessStart`) by command, by the first Hadoop
  frames that are not `org.apache.hadoop.util.Shell` (what asked for the
  fork) and by the first engine (`graft.`) frame;
- execution samples (`jdk.ExecutionSample`) per thread group (job threads
  of the daemon's pool, executor task threads, the scheduler's threads,
  main, other), bucketed by the first engine frame and the phase named by
  the innermost frame a phase rule knows (engine code, hadoop fs, parquet,
  codegen, analysis, optimizer, planning, catalog, generated code, ...).

Record a benchmark run with (build first: the options reach every JVM,
sbt's included):

    JAVA_TOOL_OPTIONS="-XX:FlightRecorderOptions=stackdepth=400 \\
      -XX:StartFlightRecording=filename=<out>.jfr,settings=profile,dumponexit=true" \\
      python3 perfbench/run.py --workload daemon_fleet --seed <n> --seconds 30 --trace 0
"""
import argparse
import collections
import json
import re
import subprocess
import sys

GROUPS = [
    ("job", re.compile(r"pool-\d+-thread-\d+$")),
    ("executor", re.compile(r"Executor task launch worker")),
    ("scheduler", re.compile(r"dag-scheduler|task-result-getter|dispatcher-|spark-listener-group|"
                             r"driver-heartbeater|executor-heartbeater|netty-rpc")),
    ("main", re.compile(r"main$")),
]

# innermost match wins: the phase is what the thread was doing right then
PHASES = [
    ("engine", ("graft.",)),
    ("fork", ("java.lang.ProcessBuilder", "java.lang.ProcessImpl")),
    ("hadoop fs", ("org.apache.hadoop.fs.",)),
    ("parquet", ("org.apache.parquet.",)),
    ("codegen", ("org.apache.spark.sql.catalyst.expressions.codegen.", "org.codehaus.janino.")),
    ("generated code", ("org.apache.spark.sql.catalyst.expressions.GeneratedClass",)),
    ("analysis", ("org.apache.spark.sql.catalyst.analysis.",)),
    ("optimizer", ("org.apache.spark.sql.catalyst.optimizer.",)),
    ("planning", ("org.apache.spark.sql.execution.SparkStrategies", "org.apache.spark.sql.catalyst.planning.",
                  "org.apache.spark.sql.execution.adaptive.", "org.apache.spark.sql.execution.QueryExecution")),
    ("catalog", ("org.apache.spark.sql.catalyst.catalog.", "org.apache.spark.sql.internal.CatalogImpl")),
    ("file write", ("org.apache.spark.sql.execution.datasources.",)),
    ("scheduling", ("org.apache.spark.scheduler.", "org.apache.spark.rpc.")),
    ("task", ("org.apache.spark.executor.",)),
    ("serialization", ("org.apache.spark.serializer.", "com.esotericsoftware.kryo.")),
]


def events(path, event_type):
    """Yield the `values` of every event of one type, decoding the JSON
    array element by element as `jfr print` writes it."""
    proc = subprocess.Popen(["jfr", "print", "--stack-depth", "400", "--json",
                             "--events", event_type, path],
                            stdout=subprocess.PIPE, text=True, bufsize=1 << 20)
    dec = json.JSONDecoder()
    sep = re.compile(r"[\s,]*")
    buf, pos, eof = "", -1, False

    def more():
        nonlocal buf, pos, eof
        chunk = proc.stdout.read(1 << 20)
        eof = not chunk
        buf, pos = buf[max(pos, 0):] + chunk, 0 if pos >= 0 else -1

    while pos < 0:
        more()
        i = buf.find('"events": [')
        if i >= 0:
            pos = i + len('"events": [')
        elif eof:
            break
        else:
            buf = buf[-16:]
    while pos >= 0:
        pos = sep.match(buf, pos).end()
        if buf.startswith("]", pos):
            break
        try:
            obj, pos = dec.raw_decode(buf, pos)
        except json.JSONDecodeError:
            if eof:
                raise SystemExit(f"jfr print: cannot decode the {event_type} events")
            more()
            continue
        yield obj["values"]
    proc.stdout.close()
    if proc.wait() != 0:
        raise SystemExit(f"jfr print exited {proc.returncode}")


def frames(values):
    """The sample's frames, innermost first, as `class.method`."""
    out = []
    for f in ((values.get("stackTrace") or {}).get("frames") or []):
        m = f.get("method") or {}
        cls = ((m.get("type") or {}).get("name") or "?").replace("/", ".")
        out.append(f"{cls}.{m.get('name', '?')}")
    return out


def engine_frame(fs):
    return next((f for f in fs if f.startswith("graft.")), "(none)")


def phase(fs):
    for f in fs:
        for name, prefixes in PHASES:
            if f.startswith(prefixes):
                return name
    return "other"


def group(thread):
    name = (thread or {}).get("javaName") or ""
    return next((g for g, rx in GROUPS if rx.search(name)), "other")


def table(counter, total, top, indent="  "):
    for key, n in counter.most_common(top):
        print(f"{indent}{n:>7} {100.0 * n / max(total, 1):5.1f}%  {key}")
    rest = sum(counter.values()) - sum(n for _, n in counter.most_common(top))
    if rest:
        print(f"{indent}{rest:>7} {100.0 * rest / max(total, 1):5.1f}%  (the rest)")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("recording")
    ap.add_argument("--top", type=int, default=15, help="rows per table")
    args = ap.parse_args()

    by_cmd, by_caller, by_engine, by_thread = (collections.Counter() for _ in range(4))
    for v in events(args.recording, "jdk.ProcessStart"):
        fs = frames(v)
        by_cmd[(v.get("command") or "?").split(" ")[0]] += 1
        hadoop = [f for f in fs if f.startswith("org.apache.hadoop.")
                  and not f.startswith("org.apache.hadoop.util.Shell")]
        by_caller[" < ".join(hadoop[:2]) or "(no hadoop frame)"] += 1
        by_engine[engine_frame(fs)] += 1
        by_thread[group(v.get("eventThread"))] += 1
    starts = sum(by_cmd.values())
    print(f"process starts: {starts}")
    for title, counter in (("by command", by_cmd), ("by thread group", by_thread),
                           ("by hadoop caller", by_caller), ("by engine frame", by_engine)):
        print(f" {title}:")
        table(counter, starts, args.top)

    samples = collections.defaultdict(collections.Counter)
    phases = collections.defaultdict(collections.Counter)
    for v in events(args.recording, "jdk.ExecutionSample"):
        fs = frames(v)
        g = group(v.get("sampledThread"))
        p = phase(fs)
        samples[g][(engine_frame(fs), p)] += 1
        phases[g][p] += 1
    total = sum(sum(c.values()) for c in samples.values())
    print(f"\nexecution samples: {total}")
    for g in [name for name, _ in GROUPS] + ["other"]:
        n = sum(samples[g].values())
        if not n:
            continue
        print(f" {g} threads: {n} samples ({100.0 * n / max(total, 1):.1f}%)")
        print("  by phase:")
        table(phases[g], n, args.top, indent="   ")
        print("  by engine frame / phase:")
        table(collections.Counter({f"{e}  [{p}]": c for (e, p), c in samples[g].items()}),
              n, args.top, indent="   ")


if __name__ == "__main__":
    sys.exit(main())
