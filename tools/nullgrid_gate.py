#!/usr/bin/env python3
"""Per-round NULL-grid oracle gate (NOT shipped library code — dev/driver
tooling like sf01_gate.py). Round 19 session 2 found 41 real engine
divergences (24 events + 16 relational + 1 dims) by replaying the suite
over fixtures whose rows carry NULLs in every nullable column — the class
of bug the all-non-null driver fixtures can structurally never fire
(Spark ASC sorts NULLs FIRST where DuckDB sorts them LAST; DuckDB's ASOF
reads a NULL probe ts as after-everything; a plain === on a nullable
group key silently drops the NULL group; the staged-JSON drift guard
raised on a legitimate NULL). The fixes live in the NULL-EVENT /
NULL-RELATIONAL contracts (NullEventsSpec / NullRelationalSpec); this
gate keeps the WHOLE suite replayed against the combined NULL corpus as a
recorded per-round artifact so a new query or oracle edit cannot
reintroduce the class silently.

What it does:
 1. stages /tmp/graft_nullgrid (idempotent marker): sf0.001 copies with a
    deterministic NULL grid appended to events (every nullable column x
    every load-bearing event_type), orders/lineitem/customer/part/
    supplier (each nullable column incl. join/window/group keys), and
    region/nation,
 2. runs graft.Verify over it (ALL queries) and replays every DuckDB
    oracle via tools/local_check.py (ORDER-divergence WARN = fail, the
    driver-compare semantics),
 3. writes CORRECTNESS_r{N}_nullgrid.json through
    local_check.account_for_suite: a query that THREW on NULLs (the old
    ingest guard shape) or that local_check never reached fails loudly
    instead of vanishing.

Usage: python3 tools/nullgrid_gate.py <round>
(~5 min: one sf0.001-sized Verify + compare; don't run concurrently with
another sbt/Spark job.)
"""
import json
import os
import shutil
import subprocess
import sys
import time

import duckdb

from local_check import (account_for_suite, fresh_artifact_store,
                         parse_compare_lines)

SRC = "/root/testdata/sf0.001"
FIXTURE = "/tmp/graft_nullgrid"
MARKER_VERSION = "nullgrid-v7"  # v2: + NaN/±Infinity rows (the non-finite
# contract — Tables.centsSql's guard and the isfinite oracle mirrors)
# v3 (VERDICT r20 #4 + ADVICE r19): poisoned embeddings (NULL vector,
# NaN/±Inf/NULL COMPONENTS — the Similarity.finiteEmbSql reader contract)
# and JOIN-REACHABLE NULL dim attributes (a purchase event hitting the
# NULL-mktsegment customer, a lineitem hitting the NULL-brand part) so
# enrichment/join queries actually see a NULL dim attribute and the
# asc_nulls_first pins fire.
# v4 (round 20, the Unicode/empty-text axis the replay method had never
# probed): pathological documents — empty/whitespace-only text, astral
# emoji, combining marks, CJK, RTL, case-folding traps (İ/ß — fired the
# normFp lower() divergence, now ASCII-fold translate), zero-width
# spaces, a 5000-char single token, a multibyte char STRADDLING the
# 32-byte frame boundary (fired the mm frame char-vs-byte slice
# divergence, now md5-over-hex) — plus NULL text/lang/source/n_chars
# rows, previously spec-only.
# v5 (round 20, the magnitude axis): ±1e18 finite values in every
# money/measure double and a 1e12 embedding component — out-of-range for
# the BIGINT/DECIMAL(9,0)/micro-unit casts, where Spark's non-ANSI cast
# clamps/NULLs and DuckDB's errors. Contracts: Tables.centsSql's
# abs > 9e16 bound (subsumes Infinity), TRY_CAST in the DECIMAL(9,0)
# oracles, Similarity.finiteEmbSql's abs > 1e9 component bound.
# v6 (round 20): a full dim chain reaching the NULL-NAME region
# (lineitem 9200001 → order → customer 9000005 → nation 903 → region
# 901) so r_name-grouped joins see a NULL group (an_sql_revenue's
# NULLS FIRST pin), and a 5e16 l_extendedprice — passes the 9e16
# measure guard yet overflows DECIMAL(18,2), firing the TRY_CAST
# mirror of Spark's NULL-on-overflow decimal cast.
# v7: the pre-1970 axis — events at 1969-12-31 22:00, 23:59:59.9995,
# 1 us before the epoch and one week before that, per load-bearing event
# type. Truncating division puts them in the wrong ms/second/hour/day/
# week bucket (hour-of-day -2 at 22:00); graft.EpochTime floors on both
# engines, and these rows compare its Spark forms with its DuckDB text.

EVENT_TYPES = ["'view'", "'purchase'", "'click'", "NULL"]
PRE_EPOCH_TS = ["1969-12-31 22:00:00", "1969-12-31 23:59:59.9995",
                "1969-12-31 23:59:59.999999", "1969-12-24 23:59:59.999999"]


def stage():
    marker = f"{FIXTURE}/_STAGED"
    if os.path.exists(marker) and open(marker).read() == MARKER_VERSION:
        print(f"[nullgrid_gate] {FIXTURE} already staged")
        return
    shutil.rmtree(FIXTURE, ignore_errors=True)
    os.makedirs(FIXTURE)
    con = duckdb.connect()
    # v4 pathological documents (doc_id, text, lang, source); n_chars is
    # appended as the python code-point length. NULL-field rows carry
    # explicit None. The straddler (9000015) puts an emoji's 4 bytes across
    # the 32-byte frame boundary — the case no char slice can express.
    doc_rows = [
        (9000001, "", "en", "src0"),
        (9000002, "   ", "en", "src1"),
        (9000003, "\t\n\r\n", "en", "src2"),
        (9000004, "\U0001F600\U0001F680\U0001F916", "en", "src3"),
        (9000005, "café naïve résumé", "fr", "src4"),
        (9000006, "你好世界 日本語テスト", "zh", "src5"),
        (9000007, "مرحبا بالعالم", "ar", "src6"),
        (9000008, "a" * 5000, "en", "src7"),
        (9000009, "word " * 200 + "énd", "en", "src8"),
        (9000010, "MiXeD CaSe STRASSE ß İstanbul", "de", "src9"),
        (9000011, "tab\tsep\tvals and  double  spaces", "en", "src10"),
        (9000012, "​​zero​width​", "en", "src11"),
        (9000013, "emoji \U0001F600 mixed ascii", "en", "src12"),
        (9000014, "ein kleines deutsches dokument mit ein paar worten", "de", "src13"),
        (9000015, "a" * 31 + "\U0001F600" + " tail across the frame boundary " + "b" * 80,
         "en", "src14"),
        (9000016, None, "en", "src15"),
        (9000017, "null lang document body", None, "src16"),
        (9000018, "null source document body", "en", None),
        (9000019, None, None, None),
    ]
    con.execute(f"CREATE TABLE doc_aug AS SELECT * FROM '{SRC}/documents.parquet' LIMIT 0")
    con.executemany("INSERT INTO doc_aug VALUES (?,?,?,?,?)",
                    [(d, t, l, s, len(t) if t is not None else None)
                     for (d, t, l, s) in doc_rows])
    con.execute(f"""COPY (SELECT * FROM '{SRC}/documents.parquet'
      UNION ALL SELECT * FROM doc_aug)
      TO '{FIXTURE}/documents.parquet' (FORMAT PARQUET)""")

    def aug(table, cols, rows):
        vals = ",\n      ".join(rows)
        con.execute(f"""COPY (SELECT * FROM '{SRC}/{table}.parquet'
          UNION ALL SELECT * FROM (VALUES {vals}) v({cols}))
          TO '{FIXTURE}/{table}.parquet' (FORMAT PARQUET)""")

    # events: for each load-bearing event_type, one row per NULLed column
    # (ts, user_id, value, props), plus the all-NULL row — event_ids pinned
    # so spec/debug output is stable across rounds.
    ev_rows, eid = [], 9000001
    for et in EVENT_TYPES:
        for null_col in range(4):
            # layout: ts, user_id, event_type, value, props — NULL one of
            # ts(0)/user_id(1)/value(3)/props(4); event_type comes from et
            v = ["TIMESTAMP '2024-01-02 03:04:05'", "17", et, "7.75",
                 "'{\"k\": 7}'"]
            v[[0, 1, 3, 4][null_col]] = "NULL"
            ev_rows.append(f"({eid}, {v[0]}, {v[1]}, {v[2]}, {v[3]}, {v[4]})")
            eid += 1
    ev_rows.append(f"({eid}, NULL, NULL, NULL, NULL, NULL)")
    # non-finite measures (the Tables.centsSql contract: NaN/Inf -> NULL)
    ev_rows += [
        "(9100001, TIMESTAMP '2024-01-02 05:00:00', 19, 'view', 'NaN'::DOUBLE, '{\"k\": 7}')",
        "(9100002, TIMESTAMP '2024-01-02 05:01:00', 19, 'purchase', 'inf'::DOUBLE, '{\"k\": 7}')",
        "(9100003, TIMESTAMP '2024-01-02 05:02:00', 19, 'click', '-inf'::DOUBLE, '{\"k\": 7}')",
        # v5: out-of-range finite measures (the magnitude axis)
        "(9100004, TIMESTAMP '2024-01-02 05:03:00', 19, 'view', 1e18::DOUBLE, '{\"k\": 7}')",
        "(9100005, TIMESTAMP '2024-01-02 05:04:00', 19, 'purchase', -1e18::DOUBLE, '{\"k\": 7}')"]
    # v3: a purchase that JOINS the NULL-mktsegment customer (9000004), so
    # enrichment rollups carry a NULL segment group (the st_enrich_segment
    # asc_nulls_first pin's firing row — ADVICE r19).
    ev_rows.append(
        "(9200001, TIMESTAMP '2024-01-02 06:00:00', 9000004, 'purchase', 5.5, '{\"k\": 7}')")
    # v7: pre-1970 events for one user, every load-bearing event_type
    eid = 9300001
    for ts in PRE_EPOCH_TS:
        for et in EVENT_TYPES:
            ev_rows.append(
                f"({eid}, TIMESTAMP '{ts}', 17, {et}, 7.75, '{{\"k\": 7}}')")
            eid += 1
    aug("events", "event_id, ts, user_id, event_type, value, props", ev_rows)

    aug("orders", "o_orderkey,o_custkey,o_orderstatus,o_totalprice,o_orderdate,o_orderpriority", [
        "(9000001, NULL, 'O', 100.5, TIMESTAMP '1995-06-01 00:00:00', '1-URGENT')",
        "(9000002, 7, NULL, 100.5, TIMESTAMP '1995-06-01 00:00:00', '1-URGENT')",
        "(9000003, 7, 'O', NULL, TIMESTAMP '1995-06-02 00:00:00', '2-HIGH')",
        "(9000004, 7, 'O', 100.5, NULL, '2-HIGH')",
        "(9000005, 7, 'O', 100.5, TIMESTAMP '1995-06-03 00:00:00', NULL)",
        "(9000006, NULL, NULL, NULL, NULL, NULL)",
        "(9100001, 9, 'O', 'NaN'::DOUBLE, TIMESTAMP '1995-07-01 00:00:00', '1-URGENT')",
        "(9100002, 9, 'O', 'inf'::DOUBLE, TIMESTAMP '1995-07-02 00:00:00', '2-HIGH')",
        "(9100003, 9, 'O', 1e18::DOUBLE, TIMESTAMP '1995-07-03 00:00:00', '3-MEDIUM')",
        # v6: order owned by the NULL-name-region chain's customer
        "(9200001, 9000005, 'O', 100.5, TIMESTAMP '1995-08-01 00:00:00', '1-URGENT')"])
    aug("lineitem", "l_orderkey,l_partkey,l_suppkey,l_linenumber,l_quantity,"
        "l_extendedprice,l_discount,l_tax,l_returnflag,l_linestatus,l_shipdate", [
        "(9000001, NULL, 3, 1, 10.0, 1000.5, 0.05, 0.02, 'N', 'O', TIMESTAMP '1995-06-05 00:00:00')",
        "(9000001, 5, NULL, 2, 10.0, 1000.5, 0.05, 0.02, 'N', 'O', TIMESTAMP '1995-06-05 00:00:00')",
        "(9000002, 5, 3, 1, NULL, 1000.5, 0.05, 0.02, 'N', 'O', TIMESTAMP '1995-06-05 00:00:00')",
        "(9000002, 5, 3, 2, 10.0, NULL, 0.05, 0.02, 'N', 'O', TIMESTAMP '1995-06-06 00:00:00')",
        "(9000003, 5, 3, 1, 10.0, 1000.5, NULL, NULL, NULL, NULL, TIMESTAMP '1995-06-06 00:00:00')",
        "(9000003, 5, 3, 2, 10.0, 1000.5, 0.05, 0.02, 'R', 'F', NULL)",
        "(NULL, 5, 3, 3, 10.0, 1000.5, 0.05, 0.02, 'A', 'F', TIMESTAMP '1995-06-07 00:00:00')",
        # v3: a lineitem that JOINS the NULL-brand part (9000002), so
        # part-grouped joins carry a NULL p_brand group (the an_salted_join
        # asc_nulls_first pin's firing row — ADVICE r19).
        "(9000005, 9000002, 3, 1, 10.0, 1000.5, 0.05, 0.02, 'N', 'O', TIMESTAMP '1995-06-08 00:00:00')",
        "(9100001, 5, 3, 1, 'NaN'::DOUBLE, 1000.5, 0.05, 0.02, 'N', 'O', TIMESTAMP '1995-07-05 00:00:00')",
        "(9100001, 5, 3, 2, 10.0, 'NaN'::DOUBLE, 0.05, 0.02, 'N', 'O', TIMESTAMP '1995-07-05 00:00:00')",
        "(9100002, 5, 3, 1, 10.0, 'inf'::DOUBLE, 0.05, 0.02, 'R', 'F', TIMESTAMP '1995-07-06 00:00:00')",
        "(9100003, 5, 3, 1, 1e18::DOUBLE, -1e18::DOUBLE, 0.05, 0.02, 'N', 'O', TIMESTAMP '1995-07-07 00:00:00')",
        # v6: rides the NULL-name-region chain; 5e16 passes the 9e16 guard
        # but overflows DECIMAL(18,2) (NULL both sides via TRY_CAST mirror)
        "(9200001, 5, 3, 1, 10.0, 5e16::DOUBLE, 0.05, 0.02, 'N', 'O', TIMESTAMP '1995-08-02 00:00:00')"])
    aug("customer", "c_custkey,c_name,c_nationkey,c_acctbal,c_mktsegment", [
        "(9000001, NULL, 3, 500.25, 'BUILDING')",
        "(9000002, 'Customer#9000002', NULL, 500.25, 'BUILDING')",
        "(9000003, 'Customer#9000003', 3, NULL, 'AUTOMOBILE')",
        "(9000004, 'Customer#9000004', 3, 500.25, NULL)",
        "(9100001, 'Customer#9100001', 3, 'NaN'::DOUBLE, 'BUILDING')",
        "(9100002, 'Customer#9100002', 3, 1e18::DOUBLE, 'BUILDING')",
        "(9000005, 'Customer#9000005', 903, 500.25, 'BUILDING')"])
    aug("part", "p_partkey,p_name,p_brand,p_type,p_size,p_retailprice", [
        "(9000001, NULL, 'Brand#13', 'SMALL PLATED', 5, 900.75)",
        "(9000002, 'violet chocolate part', NULL, 'SMALL PLATED', 5, 900.75)",
        "(9000003, 'olive almond part', 'Brand#13', NULL, NULL, 900.75)",
        "(9000004, 'navy linen part', 'Brand#13', 'SMALL PLATED', 5, NULL)",
        "(9100001, 'amber quartz part', 'Brand#13', 'SMALL PLATED', 5, 'NaN'::DOUBLE)",
        "(9100002, 'copper steel part', 'Brand#13', 'SMALL PLATED', 5, 1e18::DOUBLE)"])
    aug("supplier", "s_suppkey,s_name,s_nationkey,s_acctbal", [
        "(9000001, NULL, 3, 700.5)",
        "(9000002, 'Supplier#9000002', NULL, 700.5)",
        "(9000003, 'Supplier#9000003', 3, NULL)",
        "(9100001, 'Supplier#9100001', 3, 'NaN'::DOUBLE)",
        "(9100002, 'Supplier#9100002', 3, -1e18::DOUBLE)"])
    # v3: poisoned embeddings — a NULL vector plus vectors with one
    # NaN / +Inf / -Inf / NULL COMPONENT. The Similarity.finiteEmbSql
    # reader contract must drop all five in BOTH engines; without it a NaN
    # component reaches the micro-unit quantization casts where Spark's
    # non-ANSI CAST injects 0 and DuckDB's cast errors (VERDICT r20 #4).
    def poison(bad):
        return ("list_transform(range(64), i -> CASE WHEN i = 3 THEN "
                f"{bad} ELSE 0.1::FLOAT END)")
    aug("embeddings", "vec_id, embedding, label", [
        "(9000001, NULL::FLOAT[], 5)",
        "(9000002, " + poison("'NaN'::FLOAT") + ", 5)",
        "(9000003, " + poison("'inf'::FLOAT") + ", 5)",
        "(9000004, " + poison("'-inf'::FLOAT") + ", 5)",
        "(9000005, " + poison("NULL::FLOAT") + ", NULL)",
        "(9000006, " + poison("1e12::FLOAT") + ", 5)"])
    aug("region", "r_regionkey, r_name", [
        "(901, NULL)", "(NULL, 'NULLKEY REGION')"])
    aug("nation", "n_nationkey, n_name, n_regionkey", [
        "(901, NULL, 0)", "(902, 'NATION_NULLREG', NULL)",
        "(NULL, 'NULLKEY NATION', 1)",
        "(903, 'NATION_TO_NULLREGION', 901)"])
    with open(marker, "w") as f:
        f.write(MARKER_VERSION)
    print(f"[nullgrid_gate] staged {FIXTURE}")


def main():
    rnd = sys.argv[1] if len(sys.argv) > 1 else "dev"
    out_json = f"CORRECTNESS_r{rnd}_nullgrid.json"
    vout = "/tmp/vout_nullgrid"
    stage()
    shutil.rmtree(vout, ignore_errors=True)
    t0 = time.time()
    with fresh_artifact_store() as env:
        subprocess.run(["sbt", "-batch", f"runMain graft.Verify {FIXTURE} {vout}"],
                       check=True, env=env)
    verify_s = time.time() - t0
    t0 = time.time()
    chk = subprocess.run(["python3", "tools/local_check.py", FIXTURE, vout],
                         capture_output=True, text=True)
    # Missing compare lines fail, Verify errors fail, unoracled dumps are
    # recorded 'no-oracle' (local_check.account_for_suite — the same
    # guards as sf01_gate).
    results = account_for_suite(parse_compare_lines(chk.stdout), vout, chk)
    n_ok = sum(1 for v in results.values() if v["status"] == "ok")
    n_no_oracle = sum(1 for v in results.values() if v["status"] == "no-oracle")
    artifact = {
        "round": rnd,
        "fixture": FIXTURE,
        "marker": MARKER_VERSION,
        "note": ("ENTIRE suite oracle-replayed over the combined NULL-grid "
                 "corpus (every nullable column of every fixture table "
                 "NULLed in at least one row, plus NaN/±Infinity rows in "
                 "every money/measure double, plus v3's poisoned embedding "
                 "vectors — NULL vector and NaN/±Inf/NULL components — and "
                 "join-reachable NULL dim attributes, plus v7's pre-1970 "
                 "events) — the "
                 "engine-divergence classes (NULL sort direction, NULL "
                 "group keys, NULL window keys, ASOF NULL probes; Spark's "
                 "non-ANSI non-finite casts vs DuckDB's erroring casts, "
                 "now including the embedding micro-unit quantization "
                 "path) the clean fixtures cannot fire"),
        "n_queries": len(results),
        "n_ok": n_ok,
        "n_no_oracle": n_no_oracle,
        "verify_wall_s": round(verify_s, 1),
        "compare_wall_s": round(time.time() - t0, 1),
        "queries": dict(sorted(results.items())),
        "ok": len(results) > 0 and n_ok + n_no_oracle == len(results),
    }
    with open(out_json, "w") as f:
        json.dump(artifact, f, indent=1)
    print(f"[nullgrid_gate] wrote {out_json}: {n_ok}/{len(results)} ok "
          f"(verify {verify_s:.1f}s)")
    sys.exit(0 if artifact["ok"] else 1)


if __name__ == "__main__":
    main()
