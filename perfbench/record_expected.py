#!/usr/bin/env python3
"""Record the expected outputs the benchmark checks against.

    python3 perfbench/record_expected.py

Writes perfbench/expected.json:
  - catalog: for each query of the catalog workload, the row count, column
    names and row-hash sums of the DuckDB oracle's result over the bundled
    tables. The engine's result must already agree, or nothing is written.
    Queries without an oracle (sketches) record the engine's own digest.
  - stream_curation: the curated and signature-history row counts of the
    streaming pass the catalog's traced run makes, which it must reproduce.

Run it from the root of a checkout when the catalog list, the bundled data
or a query's defined result changes.
"""
import json
import os
import shutil
import sys
import time
from types import SimpleNamespace

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events",
          "documents", "embeddings"]


def jvm(workload, work, extra=(), trace=0):
    args = SimpleNamespace(workload=workload, seed=0, seconds=1, trace=trace)
    artifact = os.path.join(work, "artifact.json")
    res, _ = run.run_jvm(args, work, artifact, {"commit": "record"}, list(extra),
                         time.time() + 600)
    with open(artifact) as fh:
        return res, json.load(fh)


def main():
    digest, _ = run.build(time.time() + 840)
    work = os.path.join(run.build_dir(), "work", "record")
    shutil.rmtree(work, ignore_errors=True)
    data = os.path.join(run.HERE, "data", "sf0.001")
    out = {}
    try:
        # traced, so the run also makes its streaming pass
        _, art = jvm("catalog", os.path.join(work, "catalog"),
                     ["--expect-delivered", "-1", "--expect-sigs", "-1"], trace=1)
        report = art["report"]
        names = sorted(report["ops_per_query"])
        got = run.engine_digests(report["outputs"], names)
        oracle = report["oracle_sql"]
        import duckdb
        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
        out["catalog"] = {}
        for q in names:
            if got[q] is None:
                raise SystemExit(f"{q}: the engine produced no output")
            if q in oracle:
                want = run.duck_digest(con, oracle[q])
                if want != got[q]:
                    raise SystemExit(f"{q}: engine {got[q]} differs from oracle {want}")
                print(f"{q}: oracle and engine agree on {want['rows']} rows", file=sys.stderr)
            else:
                want = got[q]
                print(f"{q}: no oracle, engine digest recorded", file=sys.stderr)
            out["catalog"][q] = want
        con.close()
        passes = report["stream"]["passes"]
        counts = {(p["delivered"], p["sigs"]) for p in passes}
        if len(counts) != 1:
            raise SystemExit(f"stream passes disagree: {passes}")
        d, s = counts.pop()
        out["stream_curation"] = {"delivered": d, "sigs": s}
    finally:
        shutil.rmtree(work, ignore_errors=True)
    with open(os.path.join(run.HERE, "expected.json"), "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print(f"recorded expected.json at sources {digest[:16]}", file=sys.stderr)


if __name__ == "__main__":
    main()
