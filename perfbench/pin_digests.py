#!/usr/bin/env python3
"""Re-pins perfbench/digests.json: the DuckDB-oracle result digest of every
gate named in perfbench/workloads/, on the benchmark's fixture.

Usage: python3 perfbench/pin_digests.py

Each gate's oracle SQL comes from `SparkEntry.oracleSql` (dumped by the
harness); DuckDB runs it over the fixture's parquet files and the result is
digested exactly as run.py digests the engine's output: sorted column
names, row count and tools/driver_compare.py's canonical hash. Run it only
when the fixture or a gate's specified result changes.
"""
import json
import time

import duckdb

import run


def main():
    gates = sorted({g for f in (run.HERE / "workloads").glob("*.txt")
                    for g in run.read_workload(f.stem)})
    classpath, _ = run.build(run.spark_jars())
    _, oracle = run.run_jvm(classpath, ["--dump-oracle", ",".join(gates)],
                            run.BUILD / "logs" / "pin.log", time.time() + 300)
    dc = run.driver_compare()
    con = duckdb.connect()
    for t in dc.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{run.FIXTURE / t}.parquet')")
    digests = {}
    for g in gates:
        if not oracle.get(g):
            raise SystemExit(f"{g} has no oracle SQL; it cannot be pinned")
        df = con.execute(oracle[g]).df()
        digests[g] = {"cols": sorted(df.columns), "rows": len(df), "hash": dc.canon_hash(df)}
        print(f"{g}: {len(df)} rows {digests[g]['hash'][:12]}")
    (run.HERE / "digests.json").write_text(json.dumps(digests, indent=1, sort_keys=True) + "\n")


if __name__ == "__main__":
    main()
