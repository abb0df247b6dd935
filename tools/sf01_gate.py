#!/usr/bin/env python3
"""Full-suite oracle gate at sf0.1 (NOT shipped library code — dev/driver
tooling like ladder_gate.py). VERDICT r17 #5: the per-round gate runs at
sf0.01; round 15 showed the capped pair-skeleton family only diverges where
the cap actually fires (sf0.1) — that round spot-checked 35 queries there,
leaving the other ~145 with an sf0.01-only record. This runs the ENTIRE
registered suite at sf0.1 once and records a per-query artifact:

 1. graft.Verify /root/testdata/sf0.1 (all queries, no filter),
 2. tools/local_check.py replays every DuckDB oracle at sf0.1
    (row-for-row in produced order, columns sorted — the driver's compare),
 3. writes CORRECTNESS_r{N}_sf01.json: per-query status + detail.

Usage: python3 tools/sf01_gate.py <round>
(Don't run concurrently with another sbt/Spark job.)
"""
import json
import shutil
import subprocess
import sys
import time

from local_check import account_for_suite, parse_compare_lines


def main():
    rnd = sys.argv[1] if len(sys.argv) > 1 else "dev"
    sf_dir = "/root/testdata/sf0.1"
    vout = "/tmp/vout_sf01"
    out_json = f"CORRECTNESS_r{rnd}_sf01.json"

    # Wipe the reused out dir: graft.Verify only overwrites CURRENTLY
    # registered queries, so a stale dump dir from a renamed/deregistered
    # query would otherwise be folded in below as green 'no-oracle'
    # evidence forever (round-19 review finding).
    shutil.rmtree(vout, ignore_errors=True)

    t0 = time.time()
    subprocess.run(["sbt", "-batch", f"runMain graft.Verify {sf_dir} {vout}"],
                   check=True)
    verify_wall = round(time.time() - t0, 1)

    t1 = time.time()
    chk = subprocess.run(["python3", "tools/local_check.py", sf_dir, vout],
                         capture_output=True, text=True)
    # Missing compare lines fail, Verify errors fail, unoracled dumps are
    # recorded 'no-oracle' (local_check.account_for_suite).
    results = account_for_suite(parse_compare_lines(chk.stdout), vout, chk)

    n_ok = sum(1 for v in results.values() if v["status"] == "ok")
    n_no_oracle = sum(1 for v in results.values() if v["status"] == "no-oracle")
    artifact = {
        "round": rnd,
        "sf": sf_dir,
        "note": ("full registered suite oracle-replayed at sf0.1 — one "
                 "decade past the per-round sf0.01 gate, the scale where "
                 "the capped pair skeletons first diverge from fixture "
                 "shapes (the band ladders themselves still need the 10x "
                 "fixture: CORRECTNESS_r{N}_ladder.json)"),
        "n_queries": len(results),
        "n_ok": n_ok,
        "n_no_oracle": n_no_oracle,
        "verify_wall_s": verify_wall,
        "compare_wall_s": round(time.time() - t1, 1),
        "queries": results,
        # no-oracle rows are recorded evidence, not failures — the gate
        # passes iff nothing FAILED and the suite was non-empty.
        "ok": len(results) > 0 and n_ok + n_no_oracle == len(results),
    }
    with open(out_json, "w") as f:
        json.dump(artifact, f, indent=1)
    print(f"[sf01_gate] wrote {out_json}: {n_ok}/{len(results)} ok, "
          f"{n_no_oracle} no-oracle "
          f"(verify {verify_wall}s, compare {artifact['compare_wall_s']}s)")
    sys.exit(0 if artifact["ok"] else 1)


if __name__ == "__main__":
    main()
