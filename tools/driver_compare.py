#!/usr/bin/env python3
"""Faithful emulator of the driver's correctness gate (CORRECTNESS_r{N}.json):
loads the Spark parquet dump and the DuckDB oracle result as *pandas*
DataFrames, sorts columns by name, sorts rows by all columns, and compares a
per-cell stringified hash. This reproduces the pandas dtype coercions a
fetchall-based comparison would hide (DuckDB HUGEINT -> float64,
arrays -> unhashable numpy.ndarray, etc.).

Usage: driver_compare.py <sfDir> <verifyOutDir> [query ...]
       driver_compare.py --bench <old_bench.json> <new_bench.json>

The --bench mode mechanically adjudicates a round-over-round bench pair of
SPARK_GRAFT_BENCH_OUT artifacts: carried-query (present in BOTH files)
median sums and their ratio, the per-family split, host load stamps, the
top per-query regressions, and every gate whose rows_read or shuffle_bytes
fingerprint moved (gates known to drift on identical code marked `~`) — the
self-adjudicating comparison the r11 verdict asked for in place of prose
co-tenancy arguments.
"""
import glob
import hashlib
import json
import os
import sys

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon_hash(df: pd.DataFrame):
    df = df.reindex(sorted(df.columns), axis=1)
    df = df.sort_values(by=list(df.columns), kind="mergesort")
    h = hashlib.sha256()
    for row in df.itertuples(index=False):
        for v in row:
            if isinstance(v, float):
                h.update(repr(round(v, 9)).encode())
            else:
                h.update(str(v).encode())
            h.update(b"|")
        h.update(b"\n")
    return h.hexdigest()


def main(sf_dir, out_dir, only, json_out=None):
    results = {}

    def rec(name, **kw):
        row = {"rows_match": False, "schema_match": False,
               "hash_match": False, "spark_rows": None, "oracle_rows": None,
               "err": None}
        row.update(kw)
        results[name] = row

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            # driver fixtures are flat files; AmplifySf fixtures are
            # Spark-written directories of part files — glob those
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet"
            + ("/*.parquet')" if os.path.isdir(f"{sf_dir}/{t}.parquet") else "')"))
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    names = sorted(d.split("/")[-1] for d in glob.glob(f"{out_dir}/*")
                   if not d.endswith(".json"))
    if only:
        names = [n for n in names if n in only]
    n_ok = n_bad = n_noora = 0
    for name in names:
        try:
            spark_df = con.execute(
                f"SELECT * FROM read_parquet('{out_dir}/{name}/*.parquet')").df()
        except Exception as e:
            print(f"FAIL {name}: spark read error {e}")
            rec(name, err=f"spark read error {e}")
            n_bad += 1
            continue
        if name not in oracle:
            # driver still sorts the spark side for the rows-only record
            try:
                canon_hash(spark_df)
                n_noora += 1
                rec(name, spark_rows=len(spark_df), err="no_oracle")
            except Exception as e:
                print(f"FAIL {name}: (no oracle) spark side unsortable: {e}")
                rec(name, err=f"no_oracle unsortable: {e}")
                n_bad += 1
            continue
        try:
            want_df = con.execute(oracle[name]).df()
        except Exception as e:
            print(f"FAIL {name}: oracle exec error {e}")
            rec(name, spark_rows=len(spark_df), err=f"oracle exec error {e}")
            n_bad += 1
            continue
        try:
            gh = canon_hash(spark_df)
            wh = canon_hash(want_df)
        except Exception as e:
            print(f"FAIL {name}: canon error: {e}")
            rec(name, spark_rows=len(spark_df), oracle_rows=len(want_df),
                err=f"canon error: {e}")
            n_bad += 1
            continue
        base = dict(spark_rows=len(spark_df), oracle_rows=len(want_df),
                    rows_match=len(spark_df) == len(want_df),
                    schema_match=sorted(spark_df.columns) == sorted(want_df.columns),
                    hash_match=gh == wh)
        rec(name, **base)
        if sorted(spark_df.columns) != sorted(want_df.columns):
            print(f"FAIL {name}: cols {sorted(spark_df.columns)} vs {sorted(want_df.columns)}")
            n_bad += 1
        elif len(spark_df) != len(want_df):
            print(f"FAIL {name}: rows {len(spark_df)} vs {len(want_df)}")
            n_bad += 1
        elif gh != wh:
            n_bad += 1
            s = spark_df.reindex(sorted(spark_df.columns), axis=1).sort_values(
                by=sorted(spark_df.columns), kind="mergesort").reset_index(drop=True)
            w = want_df.reindex(sorted(want_df.columns), axis=1).sort_values(
                by=sorted(want_df.columns), kind="mergesort").reset_index(drop=True)
            print(f"FAIL {name}: hash mismatch; dtypes spark={dict(s.dtypes.astype(str))} "
                  f"oracle={dict(w.dtypes.astype(str))}")
            diff = 0
            for i in range(len(s)):
                if tuple(map(str, s.iloc[i])) != tuple(map(str, w.iloc[i])):
                    if diff < 3:
                        print(f"  row {i}: spark={list(s.iloc[i])} oracle={list(w.iloc[i])}")
                    diff += 1
            print(f"  {diff} differing rows")
        else:
            n_ok += 1
    print(f"OK={n_ok} NO_ORACLE={n_noora} BAD={n_bad}")
    if json_out:
        with open(json_out, "w") as f:
            json.dump(results, f, indent=1, sort_keys=True)
        print(f"wrote {json_out} ({len(results)} entries)")
    return 1 if n_bad else 0


# Gates whose fingerprints differ between two Bench runs of identical code
# (ROADMAP Direction 4): at sf0.1 between bench_r20c and bench_r21_base, and
# at sf0.01 between two REPS=1 runs of each of two commits; d26's
# shuffle_bytes at sf0.01 depend on the gates run before it in a pass
# (64452 when run alone on either of two commits, 66197 in one Bench pass).
# A fingerprint diff on one of these is not evidence of a plan change.
DRIFTING = {"c04", "d06", "d14", "d22", "d25", "d26", "d28", "e01", "e03",
            "e08", "e13", "e14", "e21", "e24", "g18", "q73", "q98", "v09",
            "v11"}


def fingerprint_diffs(old, new):
    """Prints every carried gate whose rows_read or shuffle_bytes differs,
    plan changes first, then the known-drifting gates marked `~`."""
    fields = ("rows_read", "shuffle_bytes")
    oq, nq = old.get("queries", {}), new.get("queries", {})
    diffs = []
    for q in sorted(set(oq) & set(nq)):
        o, n = oq[q], nq[q]
        if not (isinstance(o, dict) and isinstance(n, dict)):
            continue
        moved = [f"{f} {o[f]} -> {n[f]}" for f in fields
                 if f in o and f in n and o[f] != n[f]]
        if moved:
            diffs.append((q.split("_")[0] in DRIFTING, q, moved))
    print(f"fingerprint diffs (rows_read, shuffle_bytes): {len(diffs)} gates, "
          f"{sum(1 for d in diffs if d[0])} of them known to drift (~)")
    for drift, q, moved in sorted(diffs):
        print(f"  {'~' if drift else ' '} {q:32s} {'; '.join(moved)}")


def bench_compare(old_path, new_path):
    old = json.load(open(old_path))
    new = json.load(open(new_path))

    def medians(b):
        # accepts the SPARK_GRAFT_BENCH_OUT artifact (values are
        # {"median_sec": ...} dicts), a bare {"queries": {name: sec}}
        # map, or the driver's BENCH_r{N}.json stdout-capture wrapper
        # (salvages per-query seconds from the truncated "tail": query
        # times are the only floats keyed by gate names there)
        import re
        if "queries" not in b and "tail" in b:
            # Seconds are the only FLOAT values keyed by gate names in the
            # tail; integer maps there (rows_read, shuffle_bytes) must NOT
            # be salvaged as seconds, so the decimal point is load-bearing.
            # When truncation cut the float map entirely (seen in
            # BENCH_r12.json), say so loudly instead of reporting a
            # meaningless "carried: 0" comparison.
            got = {q: float(v) for q, v in re.findall(
                r'"([a-z]\d+[a-z0-9_]*)":([0-9]+\.[0-9]+)', b["tail"])}
            if not got:
                print("WARNING: tail-format artifact yielded 0 per-query "
                      "seconds (the float map was truncated away; the "
                      "surviving integer maps are row counts, not seconds) "
                      "— no per-query comparison is possible against it",
                      file=sys.stderr)
            return got
        out = {}
        for q, v in b["queries"].items():
            if isinstance(v, dict) and "median_sec" in v:
                out[q] = v["median_sec"]
            elif isinstance(v, (int, float)):
                out[q] = float(v)
        return out

    om, nm = medians(old), medians(new)
    carried = sorted(set(om) & set(nm))
    osum = sum(om[q] for q in carried)
    nsum = sum(nm[q] for q in carried)
    print(f"old: {old_path} reps={old.get('reps')} sf={old.get('sf')} "
          f"load={old.get('load_avg_before')}->{old.get('load_avg_after')}")
    print(f"new: {new_path} reps={new.get('reps')} sf={new.get('sf')} "
          f"load={new.get('load_avg_before')}->{new.get('load_avg_after')}")
    print(f"carried queries: {len(carried)}  "
          f"sum_median old={osum:.2f}s new={nsum:.2f}s "
          f"ratio={nsum / osum if osum else float('nan'):.3f}")
    def family(q):
        # legacy tail-format artifacts have no "queries" map at all
        for b in (new, old):
            v = b.get("queries", {}).get(q)
            if isinstance(v, dict) and "family" in v:
                return v["family"]
        return "batch"

    for fam in ("batch", "streaming"):
        oc = [q for q in carried if family(q) == fam]
        fo = sum(om[q] for q in oc)
        fn = sum(nm[q] for q in oc)
        print(f"  {fam:9s} carried={len(oc):4d} old={fo:7.2f}s "
              f"new={fn:7.2f}s ratio={fn / fo if fo else float('nan'):.3f}")
    added = sorted(set(nm) - set(om))
    if added:
        print(f"added ({len(added)}): sum_median="
              f"{sum(nm[q] for q in added):.2f}s  {', '.join(added)}")
    dropped = sorted(set(om) - set(nm))
    if dropped:
        print(f"dropped ({len(dropped)}): {', '.join(dropped)}")
    regressions = sorted(
        ((nm[q] / om[q], q) for q in carried if om[q] > 0.2),
        reverse=True)[:10]
    print("top carried regressions (queries >0.2s in old):")
    for r, q in regressions:
        print(f"  {q:32s} {om[q]:6.2f}s -> {nm[q]:6.2f}s  x{r:.2f}")

    def compiles(b):
        # per-gate Janino compile counts (artifacts since the field was added)
        return {q: v["compiles"] for q, v in b.get("queries", {}).items()
                if isinstance(v, dict) and "compiles" in v}

    fingerprint_diffs(old, new)

    oc, nc = compiles(old), compiles(new)
    if oc or nc:
        def total(c, fam):
            n = sum(v for q, v in c.items() if family(q) == fam)
            return f"{n:6d}" if c else "     -"
        print("compiles (Janino classes in each gate's last rep):")
        for fam in ("batch", "streaming"):
            print(f"  {fam:9s} old={total(oc, fam)} new={total(nc, fam)}")
        print("  top gates in new: " + ", ".join(
            f"{q} {n}" for n, q in sorted(((n, q) for q, n in nc.items()),
                                          reverse=True)[:10]))
    return 0


if __name__ == "__main__":
    if sys.argv[1] == "--bench":
        sys.exit(bench_compare(sys.argv[2], sys.argv[3]))
    args = sys.argv[1:]
    json_out = None
    if "--json" in args:
        i = args.index("--json")
        json_out = args[i + 1]
        args = args[:i] + args[i + 2:]
    sys.exit(main(args[0], args[1], set(args[2:]), json_out))
