"""Seeded input generators for the benchmark workloads.

Every table is a pure function of (seed, size parameters): the same seed
writes byte-identical parquet, a different seed writes different values with
the same row counts. Schemas and value domains follow the warehouse fixture
the engine's queries are written against (TPC-H-like tables plus `events`
and `documents`), so every registered query and its DuckDB oracle run
unchanged on them.

Three input sets:

- ``warehouse(out, seed, sf)``: the eight tables the warehouse query mix
  reads, at scale factor ``sf`` (sf 0.1 = 600k lineitem rows).
- ``star(out, seed, replicas)``: the star ELT's inputs. ``events`` is an
  sf0.1-sized base stream replicated ``replicas`` times, each replica with
  disjoint ``event_id``, ``user_id`` and ``ts`` ranges, so the songplays,
  users and time tables all grow with the replica count. ``part`` and
  ``supplier`` feed the songs and artists dimensions.
- ``corpus(out, seed, replicas)``: the fixture-shaped 5,000-document
  corpus replicated ``replicas`` times with replica-disjoint content.

Usage: python3 gen.py {warehouse|star|corpus} <out_dir> <seed> <size>
"""
import hashlib
import os
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DAY_US = 86_400_000_000
EPOCH_1995 = 788_918_400_000_000      # 1995-01-01T00:00:00 in epoch micros
EPOCH_2024 = 1_704_067_200_000_000    # 2024-01-01T00:00:00 in epoch micros
EVENT_SPAN_US = 30 * DAY_US

EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
P_ADJ = ["blue", "cold", "hot", "large", "old", "red", "small"]
P_NOUN = ["anvil", "bolt", "gear", "plate", "ring", "rod", "widget", "nut", "cog"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
DOC_WORDS = ("spark window merge table column vector stream value data small "
             "join filter big group hash customer sort order slow line part "
             "fast row the agg key query a scan batch").split()
N_SOURCES = 20


def _rng(seed, stream):
    """Independent generator per (seed, table) so adding a table never
    shifts another table's values."""
    return np.random.default_rng([int(seed), stream])


def _pick(rng, values, n):
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)],
                    pa.string())


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(micros):
    return pa.array(micros.astype(np.int64), pa.timestamp("us"))


def _write(table, path, files=1):
    """One parquet file, or a directory of `files` part files."""
    if files == 1:
        pq.write_table(table, path)
        return
    os.makedirs(path)
    bounds = np.linspace(0, table.num_rows, files + 1).astype(int)
    for i in range(files):
        pq.write_table(table.slice(bounds[i], bounds[i + 1] - bounds[i]),
                       os.path.join(path, f"part-{i:05d}.parquet"))


def digest(out):
    """sha256 over every staged file's relative path and bytes."""
    h = hashlib.sha256()
    for d, dirs, files in sorted(os.walk(out)):
        dirs.sort()
        for f in sorted(files):
            path = os.path.join(d, f)
            h.update(os.path.relpath(path, out).encode())
            with open(path, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def _fresh(out):
    if os.path.exists(out):
        shutil.rmtree(out)
    os.makedirs(out)


def _small_tables(out, seed, sf):
    n_sup = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    r = _rng(seed, 1)
    _write(pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}),
        f"{out}/region.parquet")
    _write(pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32())}),
        f"{out}/nation.parquet")
    sk = np.arange(n_sup)
    _write(pa.table({
        "s_suppkey": pa.array(sk, pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in sk],
        "s_nationkey": pa.array(r.integers(0, 25, n_sup), pa.int32()),
        "s_acctbal": _money(r, -999.99, 9999.99, n_sup)}),
        f"{out}/supplier.parquet")
    pk = np.arange(n_part)
    names = [f"{a} {b}" for a in P_ADJ for b in P_NOUN]
    _write(pa.table({
        "p_partkey": pa.array(pk, pa.int64()),
        "p_name": _pick(r, names, n_part),
        "p_brand": pa.array([f"Brand#{i}" for i in r.integers(1, 26, n_part)]),
        "p_type": _pick(r, P_TYPES, n_part),
        "p_size": pa.array(r.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 2)}),
        f"{out}/part.parquet")
    return n_sup, n_part


def _events(seed, n, n_users, stream):
    """The fixture's event stream shape: ids in ts order over 30 days,
    five uniform event types, exponential values, `{"k": n}` props."""
    r = _rng(seed, stream)
    ts = np.sort(EPOCH_2024 + r.integers(0, EVENT_SPAN_US, n))
    return {
        "event_id": np.arange(n, dtype=np.int64),
        "ts": ts,
        "user_id": r.integers(0, n_users, n).astype(np.int64),
        "event_type": r.integers(0, len(EVENT_TYPES), n),
        "value": np.round(r.exponential(50.0, n), 2),
        "k": r.integers(0, 100, n),
    }


def _events_table(ev):
    props = np.asarray([f'{{"k": {k}}}' for k in range(100)], dtype=object)
    return pa.table({
        "event_id": pa.array(ev["event_id"], pa.int64()),
        "ts": _ts(ev["ts"]),
        "user_id": pa.array(ev["user_id"], pa.int64()),
        "event_type": pa.array(np.asarray(EVENT_TYPES, dtype=object)[ev["event_type"]],
                               pa.string()),
        "value": ev["value"],
        "props": pa.array(props[ev["k"]], pa.string()),
    })


def _doc_text(r, n_tok):
    return " ".join(np.asarray(DOC_WORDS, dtype=object)[r.integers(0, len(DOC_WORDS), n_tok)])


def _documents(seed, n_doc):
    """The fixture's document shape: 10-100 tokens over a 30-word
    vocabulary, a sprinkle of `dup` markers and a few exact copies. With
    so small a vocabulary, 3-token shingles recur corpus-wide: at 5,000
    documents a non-eval document shares a median of about 19 distinct
    shingles with the 250 `src0` documents."""
    r = _rng(seed, 6)
    texts = [_doc_text(r, int(n)) for n in r.integers(10, 101, n_doc)]
    for i in np.flatnonzero(r.random(n_doc) < 0.05):
        texts[i] = texts[i] + " dup"
    for i in r.choice(np.arange(1, n_doc), max(2, n_doc // 600), replace=False):
        texts[i] = texts[int(r.integers(0, i))]
    return {
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": _pick(r, LANGS, n_doc),
        "source": pa.array([f"src{i}" for i in r.integers(0, N_SOURCES, n_doc)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64())}


def warehouse(out, seed, sf):
    _fresh(out)
    n_sup, n_part = _small_tables(out, seed, sf)
    n_cust = max(100, int(150_000 * sf))
    n_ord = max(1000, int(1_500_000 * sf))
    n_li = 4 * n_ord
    n_ev = max(1000, int(1_000_000 * sf))
    n_doc = max(100, int(50_000 * sf))

    r = _rng(seed, 2)
    ck = np.arange(n_cust)
    _write(pa.table({
        "c_custkey": pa.array(ck, pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in ck],
        "c_nationkey": pa.array(r.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(r, -999.99, 9999.99, n_cust),
        "c_mktsegment": _pick(r, SEGMENTS, n_cust)}),
        f"{out}/customer.parquet")

    r = _rng(seed, 3)
    days = (EPOCH_1995 + r.integers(0, 2404, n_ord) * DAY_US)
    _write(pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(r.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": _pick(r, ["F", "O", "P"], n_ord),
        "o_totalprice": _money(r, 1000.0, 500000.0, n_ord),
        "o_orderdate": _ts(days),
        "o_orderpriority": _pick(r, PRIORITIES, n_ord)}),
        f"{out}/orders.parquet")

    r = _rng(seed, 4)
    qty = r.integers(1, 51, n_li).astype(np.float64)
    _write(pa.table({
        "l_orderkey": pa.array(r.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(r.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(r.integers(0, n_sup, n_li), pa.int64()),
        "l_linenumber": pa.array(r.integers(1, 8, n_li), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * r.uniform(900.0, 2100.0, n_li), 2),
        "l_discount": r.integers(0, 11, n_li) / 100.0,
        "l_tax": r.integers(0, 9, n_li) / 100.0,
        "l_returnflag": _pick(r, ["A", "N", "R"], n_li),
        "l_linestatus": _pick(r, ["F", "O"], n_li),
        "l_shipdate": _ts(EPOCH_1995 + r.integers(1, 2500, n_li) * DAY_US)}),
        f"{out}/lineitem.parquet")

    _write(_events_table(_events(seed, n_ev, max(10, int(15_000 * sf)), 5)),
           f"{out}/events.parquet")

    _write(pa.table(_documents(seed, n_doc)), f"{out}/documents.parquet")


STAR_BASE_EVENTS = 100_000
STAR_BASE_USERS = 1_500


def star(out, seed, replicas):
    _fresh(out)
    _small_tables(out, seed, 0.1)
    base = _events(seed, STAR_BASE_EVENTS, STAR_BASE_USERS, 7)
    rep = np.repeat(np.arange(replicas, dtype=np.int64), STAR_BASE_EVENTS)
    ev = {k: np.tile(v, replicas) for k, v in base.items()}
    ev["event_id"] = ev["event_id"] + rep * STAR_BASE_EVENTS
    ev["user_id"] = ev["user_id"] + rep * STAR_BASE_USERS
    ev["ts"] = ev["ts"] + rep * EVENT_SPAN_US
    # A directory of part files, as a landed event stream would be: the
    # scan splits across files instead of running on one core.
    _write(_events_table(ev), f"{out}/events.parquet", files=max(1, min(replicas, 8)))


# ---- corpus -------------------------------------------------------------

CORPUS_BASE_DOCS = 5_000
ID_STRIDE = 10_000_000


def corpus(out, seed, replicas, base_docs=CORPUS_BASE_DOCS):
    """The fixture's document shape (`_documents`, 5,000 documents as in
    the sf0.1 fixture) replicated `replicas` times with disjoint content,
    the way the engine's ScaleFixture builds its 10x corpus: replica r
    prefixes every token with `r<r>` and shifts `doc_id` by r * 10^7.
    Exact-copy, near-duplicate and eval-overlap structure is the same in
    every replica, and no shingle crosses replicas, so every stage's work
    grows linearly with the replica count."""
    _fresh(out)
    base = _documents(seed, base_docs)
    toks = [t.split(" ") for t in base["text"]]
    texts = [" ".join(f"r{r}{w}" for w in t) for r in range(replicas) for t in toks]
    rep = np.repeat(np.arange(replicas, dtype=np.int64), base_docs)
    tile = lambda a: pa.concat_arrays([a] * replicas)
    _write(pa.table({
        "doc_id": pa.array(np.tile(np.arange(base_docs), replicas) + rep * ID_STRIDE, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": tile(base["lang"]),
        "source": tile(base["source"]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64())}),
        f"{out}/documents.parquet")


if __name__ == "__main__":
    kind, out, seed, size = sys.argv[1], sys.argv[2], int(sys.argv[3]), sys.argv[4]
    {"warehouse": lambda: warehouse(out, seed, float(size)),
     "star": lambda: star(out, seed, int(size)),
     "corpus": lambda: corpus(out, seed, int(size))}[kind]()
