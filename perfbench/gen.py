"""Seeded inputs for the benchmark.

Two families, both a pure function of the seed (numpy PCG64):

* the ten gate tables (`region` .. `embeddings`) in the shape of the
  sf0.01 TPC-H-ish set the gates were written against: same columns,
  same parquet types, one row group per file, same row counts, key
  coverage and value ranges (`fidelity.py` compares the two; the one
  deliberate difference is the customers without orders, below);
* the GISAID import fixtures: a base `existing` table and a series of
  JSON-lines feeds, each mixing new, changed, unchanged, invalid and
  absent ids against that base. Sequences stay aligned to the 32-nt
  demo reference (a misaligned one aborts the import, see CHANGES.md).
"""
import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REFERENCE = "ACGTACGTACGTACGTACGTACGTACGTACGT"  # GisaidImport.demoReference

SF001 = dict(customer=1500, supplier=100, part=2000, orders=15000,
             lineitem=60000, events=10000, users=150, embeddings=500)

VOCAB = ("a the data query table row column key value join group agg sort "
         "merge filter scan hash window stream batch spark line part order "
         "customer vector small big fast slow").split()


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, row_group_size=max(1, table.num_rows))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start, span, n):
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span + 1, n).astype("timedelta64[D]").astype("timedelta64[us]")


def gate_tables(seed: int, out: str, n_docs: int = 500) -> None:
    rng = np.random.Generator(np.random.PCG64(seed))
    n = SF001
    os.makedirs(out, exist_ok=True)
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    ts = pa.timestamp("us")

    _write(pa.table({
        "r_regionkey": pa.array(range(5), i32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}),
        f"{out}/region.parquet")
    _write(pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{k}" for k in range(25)],
        "n_regionkey": pa.array([k % 5 for k in range(25)], i32)}),
        f"{out}/nation.parquet")

    c = n["customer"]
    _write(pa.table({
        "c_custkey": pa.array(np.arange(c), i64),
        "c_name": [f"Customer#{k:09d}" for k in range(c)],
        "c_nationkey": pa.array(rng.integers(0, 25, c), i32),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, c), f64),
        "c_mktsegment": pa.array(rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], c), s)}),
        f"{out}/customer.parquet")

    m = n["supplier"]
    _write(pa.table({
        "s_suppkey": pa.array(np.arange(m), i64),
        "s_name": [f"Supplier#{k:09d}" for k in range(m)],
        "s_nationkey": pa.array(rng.integers(0, 25, m), i32),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, m), f64)}),
        f"{out}/supplier.parquet")

    p = n["part"]
    adj = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
    noun = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
    _write(pa.table({
        "p_partkey": pa.array(np.arange(p), i64),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in
                   zip(rng.integers(0, 8, p), rng.integers(0, 8, p))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, p)],
        "p_type": pa.array(rng.choice(
            ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], p), s),
        "p_size": pa.array(rng.integers(1, 51, p), i32),
        "p_retailprice": pa.array((9000 + np.arange(p) % 1000) / 10.0, f64)}),
        f"{out}/part.parquet")

    # Unlike sf0.01, where every customer has orders, every 30th customer
    # has none, so the anti-join gate (q_j6_anti_join) returns rows its
    # check can compare; the other gates' oracle row counts do not change.
    o = n["orders"]
    ordering = np.arange(c)[np.arange(c) % 30 != 0]
    _write(pa.table({
        "o_orderkey": pa.array(np.arange(o), i64),
        "o_custkey": pa.array(rng.choice(ordering, o), i64),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], o), s),
        "o_totalprice": pa.array(_money(rng, 1000, 500000, o), f64),
        "o_orderdate": pa.array(_days(rng, "1995-01-01", 2404, o), ts),
        "o_orderpriority": pa.array(rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], o), s)}),
        f"{out}/orders.parquet")

    li = n["lineitem"]
    _write(pa.table({
        "l_orderkey": pa.array(rng.integers(0, o, li), i64),
        "l_partkey": pa.array(rng.integers(0, p, li), i64),
        "l_suppkey": pa.array(rng.integers(0, m, li), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, li), i32),
        "l_quantity": pa.array(rng.integers(1, 51, li).astype(np.float64), f64),
        "l_extendedprice": pa.array(_money(rng, 900, 105000, li), f64),
        "l_discount": pa.array(rng.integers(0, 11, li) / 100.0, f64),
        "l_tax": pa.array(rng.integers(0, 9, li) / 100.0, f64),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], li), s),
        "l_linestatus": pa.array(rng.choice(["F", "O"], li), s),
        "l_shipdate": pa.array(_days(rng, "1995-01-02", 2498, li), ts)}),
        f"{out}/lineitem.parquet")

    e = n["events"]
    month_us = 30 * 86400 * 10**6
    offs = np.sort(rng.integers(0, month_us, e))
    _write(pa.table({
        "event_id": pa.array(np.arange(e), i64),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + offs.astype("timedelta64[us]"), ts),
        "user_id": pa.array(rng.integers(0, n["users"], e), i64),
        "event_type": pa.array(rng.choice(
            ["click", "error", "purchase", "signup", "view"], e), s),
        "value": pa.array(np.maximum(np.round(rng.exponential(50, e), 2), 0.01), f64),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)]}),
        f"{out}/events.parquet")

    texts = []
    for d in range(n_docs):
        if d > 10 and rng.random() < 0.05:  # near-duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, d))] + " dup" * int(rng.integers(1, 3)))
        else:
            texts.append(" ".join(rng.choice(VOCAB, int(rng.integers(10, 100)))))
    langs = rng.choice(["en", "de", "es", "fr", "zh"], n_docs,
                       p=[0.44, 0.14, 0.14, 0.14, 0.14])
    _write(pa.table({
        "doc_id": pa.array(np.arange(n_docs), i64),
        "text": pa.array(texts, s),
        "lang": pa.array(langs, s),
        "source": [f"src{d % 20}" for d in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], i64)}),
        f"{out}/documents.parquet")

    v = n["embeddings"]
    x = rng.standard_normal((v, 64))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    _write(pa.table({
        "vec_id": pa.array(np.arange(v), i64),
        "embedding": pa.array(list(x), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, v), i32)}),
        f"{out}/embeddings.parquet")


# --- GISAID import fixtures ---------------------------------------------

N_BASE = 3000          # ids EPI_ISL_1 .. EPI_ISL_3000 in the base table
NEW_POOL = 2000        # new ids are drawn from EPI_ISL_3001 .. 5000
NEW_PER_FEED = 600
# share of base ids per feed: absent (deleted), changed, invalid
# (empty sequence: counted failed, kept), the rest unchanged
P_ABSENT, P_CHANGED, P_INVALID = 0.05, 0.25, 0.01
LINEAGES = ["B.1.1.7", "BA.1", "BA.2", "B.1.617.2", "XBB.1.5"]
LOCATIONS = ["Europe / ch / Zurich / Zurich", "Europe / Swizterland / Bern",
             "Europe / Germany / Bavaria / Munich", "Asia / Japan"]


def _seq(rng) -> str:
    s = np.array(list(REFERENCE))
    k = int(rng.integers(0, 5))
    pos = rng.choice(32, k, replace=False)
    s[pos] = rng.choice(list("ACGTN-"), k)
    return "".join(s)


def _record(rng, num: int) -> dict:
    ours = rng.random() < 0.2
    strain = (f"Switzerland/ZH-ETHZ-{200000 + num}/2021" if ours
              else f"Germany/BY-{num}/2021")
    day = int(rng.integers(1, 29))
    date = [f"2021-03-{day:02d}", "2021-03", "2021", "2021-03-XX"][int(rng.integers(0, 4))]
    age = "?" if rng.random() < 0.1 else str(int(rng.integers(0, 95)))
    return {"covv_accession_id": f"EPI_ISL_{num}", "covv_virus_name": strain,
            "covv_collection_date": date,
            "covv_location": LOCATIONS[int(rng.integers(0, len(LOCATIONS)))],
            "covv_patient_age": age, "covv_gender": "Male",
            "covv_lineage": LINEAGES[int(rng.integers(0, len(LINEAGES)))],
            "covv_subm_date": "2021-04-01", "sequence": _seq(rng)}


def _base_date(rec: dict):
    """The import's normalizeImpreciseDate for the date forms above."""
    d = rec["covv_collection_date"]
    if d.endswith("XX") or len(d) == 7:
        d = d[:7] + "-01"
    elif len(d) == 4:
        d = d + "-01-01"
    return dt.date.fromisoformat(d)


def import_fixtures(seed: int, out: str, n_feeds: int) -> None:
    """`out/base.parquet` plus `out/feeds/feed-<k>.json`, k < n_feeds."""
    os.makedirs(f"{out}/feeds", exist_ok=True)
    rng = np.random.Generator(np.random.PCG64([seed, 7]))
    base = {num: _record(rng, num) for num in range(1, N_BASE + 1)}
    _write(pa.table({
        "gisaid_epi_isl": [r["covv_accession_id"] for r in base.values()],
        "strain": [r["covv_virus_name"] for r in base.values()],
        "date": pa.array([_base_date(r) for r in base.values()], pa.date32()),
        "pango_lineage": [r["covv_lineage"] for r in base.values()],
        "seq_aligned": [r["sequence"] for r in base.values()]}),
        f"{out}/base.parquet")
    for k in range(n_feeds):
        lines = []
        for num, rec in base.items():
            u = rng.random()
            if u < P_ABSENT:
                continue
            r = dict(rec)
            if u < P_ABSENT + P_CHANGED:
                field = int(rng.integers(0, 3))
                if field == 0:
                    r["covv_lineage"] = "OLD." + r["covv_lineage"]
                elif field == 1:
                    r["sequence"] = _seq(rng)
                else:
                    r["covv_collection_date"] = "2021-02-01"
            elif u < P_ABSENT + P_CHANGED + P_INVALID:
                r["sequence"] = ""
            lines.append(r)
        for num in rng.choice(NEW_POOL, NEW_PER_FEED, replace=False) + N_BASE + 1:
            lines.append(_record(rng, int(num)))
        order = rng.permutation(len(lines))
        with open(f"{out}/feeds/feed-{k}.json", "w") as f:
            f.write("\n".join(json.dumps(lines[j], separators=(",", ":")) for j in order))
