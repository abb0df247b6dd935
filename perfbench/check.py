"""Correctness checks, run after the timed window.

- star_elt: each star table the ELT wrote must match the DuckDB oracle
  (the registered StarQueries SQL over the staged inputs) in row count and
  in an order-insensitive digest; every timed build must report the
  oracle's row counts.
- warehouse_queries: each query's result (written by the warm-up pass) must
  equal its registered DuckDB oracle: columns compared by name, rows in
  order, floats to 9 decimals.
- corpus_release: every release's manifest must carry the counts derived
  from the DuckDB oracles over the staged corpus, with no near-duplicate
  pair surviving.
"""
import hashlib
import json
import math
import os

import duckdb
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents"]
STAR_ORACLES = {"songplays": "songplays_build", "users": "users_build",
                "songs": "songs_build", "artists": "artists_build", "time": "time_build"}


def _src(path):
    return f"{path}/*.parquet" if os.path.isdir(path) else path


def input_stats(data):
    """(rows, bytes) per staged table."""
    out = {}
    for name in sorted(os.listdir(data)):
        if not name.endswith(".parquet"):
            continue
        path = os.path.join(data, name)
        files = ([os.path.join(path, f) for f in sorted(os.listdir(path))]
                 if os.path.isdir(path) else [path])
        out[name[:-len(".parquet")]] = (
            sum(pq.ParquetFile(f).metadata.num_rows for f in files),
            sum(os.path.getsize(f) for f in files))
    return out


def _connect(data):
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        path = os.path.join(data, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{_src(path)}')")
    return con


def _digest(con, sql):
    """(row count, order-insensitive digest) of a query's rows. Timestamps
    are compared as epoch micros so the parquet timestamp flavour a writer
    picks does not matter."""
    cols = con.execute(f"DESCRIBE SELECT * FROM ({sql})").fetchall()
    exprs = [f"epoch_us(\"{c}\")" if "TIMESTAMP" in t else f"CAST(\"{c}\" AS VARCHAR)"
             for c, t, *_ in sorted(cols)]
    return con.execute(
        f"SELECT count(*), coalesce(sum(hash({', '.join(exprs)})::HUGEINT), 0) "
        f"FROM ({sql})").fetchone()


def check_star(data, res):
    con = _connect(data)
    lines, failed = [], 0
    oracle = res["oracle_sql"]
    counts = {}
    for table, q in STAR_ORACLES.items():
        want = _digest(con, oracle[q].rsplit("ORDER BY", 1)[0])
        got = _digest(con, f"SELECT * FROM read_parquet('{res['star_dir']}/{table}/*.parquet')")
        counts[table] = want[0]
        ok = want == got
        failed += not ok
        lines.append(f"{'OK  ' if ok else 'FAIL'} {table}: rows={got[0]} oracle_rows={want[0]}"
                     + ("" if ok else f" digest {got[1]} != {want[1]}"))
    bad_builds = sum(1 for b in res["table_rows"] if b != counts)
    if bad_builds:
        lines.append(f"FAIL {bad_builds} builds reported row counts other than the oracle's")
    # A wrong table digest fails the build that wrote it, the last one.
    return {"ok": failed == 0 and bad_builds == 0,
            "failed": bad_builds or (1 if failed else 0), "lines": lines}


def _norm(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else round(v, 9)
    return v


def check_warehouse(data, res):
    con = _connect(data)
    lines, failed = [], 0
    results = res["results_dir"]
    threw = 0
    for s in res["warmup"]:
        name = s["name"]
        sql = res["oracle_sql"].get(name)
        why = None
        if not s["ok"]:
            threw += 1
            lines.append(f"FAIL {name}: query failed: {s['error']}")
            continue
        if sql is None:
            why = "no oracle"
        else:
            try:
                got = con.execute(
                    f"SELECT * FROM read_parquet('{results}/{name}/*.parquet')").fetch_arrow_table()
                want = con.execute(sql).fetch_arrow_table()
                gc, wc = sorted(got.column_names), sorted(want.column_names)
                if gc != wc:
                    why = f"columns differ: {wc} vs {gc}"
                else:
                    rows = lambda t: [tuple(_norm(v) for v in r) for r in
                                      zip(*[t.column(c).to_pylist() for c in wc])]
                    g, w = rows(got), rows(want)
                    if len(g) != len(w):
                        why = f"rowcount oracle={len(w)} spark={len(g)}"
                    elif g != w:
                        why = "value or order differs: " + repr(
                            [(x, y) for x, y in zip(w, g) if x != y][:2])[:300]
            except Exception as e:  # an oracle or read error is a failed check
                why = f"check error: {e}"[:300]
        if why:
            failed += 1
            lines.append(f"FAIL {name}: {why}")
    n_ok = len(res["warmup"]) - threw - failed
    lines.append(f"{n_ok}/{len(res['warmup'])} query results match their oracle")
    # Queries that threw are already failed operations; `failed` counts
    # the wrong results among the rest.
    return {"ok": n_ok == len(res["warmup"]), "failed": failed, "lines": lines}


MANIFEST_KEYS = ["n_input", "n_clean", "n_decontam_dropped", "n_eval_held_out",
                 "n_sampled", "splits", "n_packed", "n_surviving_neardup_pairs"]
EVAL_SOURCE = "src0"


def _md5_prefix48(doc_id):
    """The engine's md5_prefix48(CAST(doc_id AS STRING))."""
    return int(hashlib.md5(str(doc_id).encode()).hexdigest()[:12], 16)


def expected_manifest(data, res):
    """The release counts the corpus pipeline must report, from DuckDB: the
    registered oracles give the cleaned keep-set (dd_clean_corpus) and each
    document's shingles shared with the eval source (dd_decontaminate);
    the mixture draw and the train/val/test split are restated from the
    engine's hash rules (TextStats.mixtureRates, sampleByThreshold and
    withSplit) over the surviving documents."""
    con = _connect(data)
    oracle = res["oracle_sql"]
    source = dict(con.execute("SELECT doc_id, source FROM documents").fetchall())
    clean = [d for (d,) in con.execute(oracle["dd_clean_corpus"]).fetchall()]
    shared = dict((d, n) for d, n, _ in con.execute(oracle["dd_decontaminate"]).fetchall())
    eval_held = [d for d in clean if source[d] == EVAL_SOURCE]
    released = [d for d in clean if source[d] != EVAL_SOURCE
                and shared.get(d, 0) < res["min_shingles"]]
    per_source = {}
    for d in released:
        per_source[source[d]] = per_source.get(source[d], 0) + 1
    weight = {s: int(math.floor(math.sqrt(float(n)) * 1000.0)) for s, n in per_source.items()}
    sw, nd = sum(weight.values()), sum(per_source.values())
    thresh = {s: (((nd // 5) * weight[s]) // sw) * 4294967296 // per_source[s]
              for s in per_source}
    splits = {}
    n_sampled = 0
    for d in released:
        h = _md5_prefix48(d)
        if h // 65536 < thresh[source[d]]:
            n_sampled += 1
            h16 = h % 65536
            s = "val" if h16 < 3276 else "test" if h16 < 6553 else "train"
            splits[s] = splits.get(s, 0) + 1
    return {
        "n_input": len(source),
        "n_clean": len(clean),
        "n_eval_held_out": len(eval_held),
        "n_decontam_dropped": len(clean) - len(eval_held) - len(released),
        "n_sampled": n_sampled,
        "n_packed": n_sampled,
        "splits": splits,
        "n_surviving_neardup_pairs": 0,
    }


def check_corpus(data, res):
    want = expected_manifest(data, res)
    lines, failed = [], 0
    for i, m in enumerate(res["manifests"]):
        diff = {k: (m.get(k), want[k]) for k in MANIFEST_KEYS if m.get(k) != want[k]}
        if diff:
            failed += 1
            lines.append(f"FAIL release {i}: (got, expected) {diff}")
    lines.append(f"{len(res['manifests']) - failed}/{len(res['manifests'])} release manifests "
                 f"match the oracle-derived counts {json.dumps(want, sort_keys=True)}")
    return {"ok": failed == 0, "failed": failed, "lines": lines}


def verify(workload, data, res):
    return {"star_elt": check_star, "warehouse_queries": check_warehouse,
            "corpus_release": check_corpus}[workload](data, res)
