#!/usr/bin/env python3
"""Local dev mimic of the driver's correctness gate (NOT shipped library code).

Runs DuckDB on oracle_sql.json against the fixture parquet and compares with
the Spark results that graft.Verify dumped. Columns sorted by name; rows
compared in produced order and as sorted multisets (reported separately).

Usage: python3 tools/local_check.py <sfDir> <verifyOutDir>
"""
import json
import math
import os
import re
import sys

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

COMPARE_LINE = re.compile(r"(OK|FAIL|WARN)\s+(\S+?):\s*(.*)")


def parse_compare_lines(stdout):
    """Parse this script's OK/FAIL/WARN compare lines into
    {name: {status, detail}} — the ONE parser both round gates
    (sf01_gate.py, ladder_gate.py) import, so the line format and the
    WARN-means-fail semantics cannot drift between their copies
    (round-19 review finding)."""
    results = {}
    for line in stdout.splitlines():
        m = COMPARE_LINE.match(line)
        if not m:
            continue
        status, name, detail = m.groups()
        results[name] = {"status": "ok" if status == "OK" else "fail",
                         "detail": detail.strip() if status != "WARN"
                         else "ORDER differs (rows equal as multiset): "
                              f"{detail.strip()}"}
    return results


def account_for_suite(results, out_dir, check):
    """Close a round gate's vacuous passes over `results` (parsed compare
    lines) in place, and return it. The ONE copy of the guards both
    full-suite gates (sf01_gate.py, nullgrid_gate.py) apply to a Verify
    dump in `out_dir` and the local_check run `check` (a
    subprocess.CompletedProcess):
     1. every oracle_sql.json key must have produced a compare line — if
        local_check crashed before (or partway through) its compare loop,
        the queries it never reached FAIL instead of vanishing;
     2. Verify's errors.json is folded in, so a query that threw fails;
     3. a dumped query with no oracle is recorded 'no-oracle' with its
        row count (rows-only evidence), not silently dropped."""
    oracle_keys = set(json.load(open(f"{out_dir}/oracle_sql.json")))
    for name in sorted(oracle_keys - set(results)):
        results[name] = {
            "status": "fail",
            "detail": "no compare line emitted (local_check rc="
                      f"{check.returncode}; crashed or exited early — "
                      f"stderr tail: {check.stderr[-300:]!r})"}
    try:
        errors = json.load(open(f"{out_dir}/errors.json"))
    except Exception:
        errors = {}
    for name, err in errors.items():
        results[name] = {"status": "fail", "detail": f"verify error: {err}"}
    con = duckdb.connect()
    dumped = sorted(d for d in os.listdir(out_dir)
                    if os.path.isdir(os.path.join(out_dir, d)))
    for name in dumped:
        if name in results:
            continue
        try:
            n = con.execute(
                f"SELECT count(*) FROM read_parquet('{out_dir}/{name}/*.parquet')"
            ).fetchone()[0]
            results[name] = {"status": "no-oracle",
                             "detail": f"rows-only check: {n} rows"}
        except Exception as e:
            results[name] = {"status": "fail",
                             "detail": f"no oracle and dump unreadable: {e}"}
    return results


def norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return round(v, 9)
    return v


def main(sf_dir, out_dir):
    con = duckdb.connect()
    for t in TABLES:
        # driver fixtures are single parquet FILES; Spark-staged fixtures
        # (tools/ScaleFixture replica corpora) are part-file DIRECTORIES
        path = f"{sf_dir}/{t}.parquet"
        src = f"{path}/*.parquet" if os.path.isdir(path) else path
        # Partial fixtures are legitimate: ScaleFixture stages only the 5
        # tables the ladder queries read, so a view over a missing file
        # must not abort the whole compare (it crashed ladder_gate on a
        # fresh machine — the prior machine had a stale full-table dir).
        # An oracle that actually references an absent table still FAILS
        # its own query with a clear error; strictness is preserved.
        if not os.path.exists(path):
            continue
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{src}')")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    ok = fail = 0
    for name, sql in sorted(oracle.items()):
        # Check the Spark dump FIRST: a filtered Verify run (dev loop /
        # scaled-fixture spot checks) dumps only a few queries, and running
        # the other ~175 oracles against a large staged corpus before
        # discovering there is nothing to compare burned an hour of DuckDB
        # (round 16). A missing dump still COUNTS AS FAIL (the full gate
        # stays strict; no skip semantics) — it just no longer costs an
        # oracle replay, so dev flows `grep -v "spark output missing"` and
        # read the filtered queries' lines.
        try:
            sdf = con.execute(
                f"SELECT * FROM read_parquet('{out_dir}/{name}/*.parquet')"
            ).fetch_arrow_table()
        except Exception as e:
            print(f"FAIL {name}: spark output missing: {e}")
            fail += 1
            continue
        try:
            odf = con.execute(sql).fetch_arrow_table()
        except Exception as e:
            print(f"FAIL {name}: oracle error: {e}")
            fail += 1
            continue
        ocols, scols = sorted(odf.column_names), sorted(sdf.column_names)
        if ocols != scols:
            print(f"FAIL {name}: columns differ: oracle={ocols} spark={scols}")
            fail += 1
            continue
        otypes = {c: str(odf.schema.field(c).type) for c in ocols}
        stypes = {c: str(sdf.schema.field(c).type) for c in scols}
        orows = [tuple(norm(v) for v in row)
                 for row in zip(*[odf.column(c).to_pylist() for c in ocols])]
        srows = [tuple(norm(v) for v in row)
                 for row in zip(*[sdf.column(c).to_pylist() for c in scols])]
        if len(orows) != len(srows):
            print(f"FAIL {name}: rowcount oracle={len(orows)} spark={len(srows)}")
            fail += 1
            continue
        if orows == srows:
            note = "" if otypes == stypes else f"  [type diff: {({c: (otypes[c], stypes[c]) for c in ocols if otypes[c] != stypes[c]})}]"
            print(f"OK   {name}: {len(orows)} rows{note}")
            ok += 1
        elif sorted(map(repr, orows)) == sorted(map(repr, srows)):
            print(f"WARN {name}: rows equal as multiset but ORDER differs")
            fail += 1
        else:
            diff = [(a, b) for a, b in zip(orows, srows) if a != b][:3]
            print(f"FAIL {name}: value diff, first mismatches: {diff}")
            fail += 1
    print(f"== {ok} ok, {fail} fail")
    return 1 if fail else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
