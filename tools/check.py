#!/usr/bin/env python3
"""Dev-only local mirror of the driver's t2 gate (NOT part of the engine).

Runs graft.Verify output against DuckDB oracles: for each query named in
the out dir's status.json or oracle_sql.json, executes oracle_sql.json[name]
in DuckDB over the same sf dir, sorts columns by name, sorts rows, and
compares values. A query Verify reported as failed, a missing output dir,
and a stale one (an output dir status.json does not list as ok, i.e. not
written by the Verify run that wrote status.json) all count as FAIL.

Usage: python3 tools/check.py <sfDir> <verifyOutDir>
"""
import json, math, sys
from pathlib import Path

import duckdb


def canon(rows, cols):
    """column-name-sorted, row-sorted, EXACT canonical form (no float
    tolerance — all engine/oracle pairs are bitwise-identical by design:
    cent-exact money sums, round-before-rank similarity scores)"""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(repr(r[i]) for i in order) for r in rows)


def main(sf_dir, out_dir):
    oracle = json.loads(Path(out_dir, "oracle_sql.json").read_text())
    con = duckdb.connect()
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    status_file = Path(out_dir, "status.json")
    status = json.loads(status_file.read_text()) if status_file.exists() else {}
    n_ok = n_bad = n_noracle = 0
    for name in sorted(set(status) | set(oracle)):
        if name not in status:
            print(f"FAIL {name}: not run (stale or missing output)")
            n_bad += 1
            continue
        if status[name] != "ok":
            print(f"FAIL {name}: verify error: {status[name]}")
            n_bad += 1
            continue
        if not Path(out_dir, name).is_dir():
            print(f"FAIL {name}: missing output")
            n_bad += 1
            continue
        got_rel = con.sql(f"SELECT * FROM read_parquet('{out_dir}/{name}/*.parquet')")
        got = canon(got_rel.fetchall(), [c.lower() for c in got_rel.columns])
        if name not in oracle:
            print(f"  (rows-only) {name}: {len(got)} rows")
            n_noracle += 1
            continue
        try:
            exp_rel = con.sql(oracle[name])
            # The driver fetches through Arrow, where HUGEINT/DECIMAL become
            # float/decimal128 and hash-mismatch integer Spark columns even
            # though fetchall() would hide it. Fail loudly here instead.
            bad_types = [(c, str(t)) for c, t in zip(exp_rel.columns, exp_rel.types)
                         if str(t) in ("HUGEINT", "UHUGEINT") or str(t).startswith("DECIMAL")]
            if bad_types:
                print(f"FAIL {name}: oracle emits Arrow-lossy types {bad_types} "
                      f"— CAST to BIGINT/DOUBLE in the oracle SQL")
                n_bad += 1
                continue
            exp = canon(exp_rel.fetchall(), [c.lower() for c in exp_rel.columns])
        except Exception as e:
            print(f"FAIL {name}: oracle error: {e}")
            n_bad += 1
            continue
        if got == exp:
            print(f"  ok {name}: {len(got)} rows")
            n_ok += 1
        else:
            print(f"FAIL {name}: got {len(got)} rows vs oracle {len(exp)}")
            for g, e in list(zip(got, exp))[:3]:
                if g != e:
                    print(f"    got {g}\n    exp {e}")
            if not got and exp:
                print(f"    exp[0] {exp[0]}")
            if got and not exp:
                print(f"    got[0] {got[0]}")
            n_bad += 1
    print(f"== {n_ok} ok, {n_bad} fail, {n_noracle} rows-only")
    return 1 if n_bad else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
