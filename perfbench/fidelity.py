#!/usr/bin/env python3
"""Compares the generated gate tables with a reference table set.

    python3 perfbench/fidelity.py <reference dir> [--seeds 1-10] [--oracle FILE]

`gen.gate_tables` stands in for the sf0.01 tables the gates were
written against, so that a run needs nothing outside the checkout. This
prints, as a markdown table, the properties that decide what the gates
do (row counts, key coverage, fan-outs, value ranges, cohort spread)
for the reference directory and for the tables generated from each
seed (min..max over the seeds). With `--oracle` (the `oracle_sql.json`
a serve-gates run writes to `.bench_build/work/serve-gates/`) it also
prints each gate's oracle row count on both, since a gate whose oracle
returns no rows checks nothing.
"""
import argparse
import json
import os
import shutil
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import check  # noqa: E402
import gen  # noqa: E402

PROPS = [
    ("customer rows", "SELECT count(*) FROM customer"),
    ("supplier rows", "SELECT count(*) FROM supplier"),
    ("part rows", "SELECT count(*) FROM part"),
    ("orders rows", "SELECT count(*) FROM orders"),
    ("lineitem rows", "SELECT count(*) FROM lineitem"),
    ("events rows", "SELECT count(*) FROM events"),
    ("documents rows", "SELECT count(*) FROM documents"),
    ("embeddings rows", "SELECT count(*) FROM embeddings"),
    ("customers with no orders",
     "SELECT count(*) FROM customer WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)"),
    ("orders per ordering customer, max",
     "SELECT max(n) FROM (SELECT count(*) n FROM orders GROUP BY o_custkey)"),
    ("orders with no lineitem",
     "SELECT count(*) FROM orders WHERE o_orderkey NOT IN (SELECT l_orderkey FROM lineitem)"),
    ("lineitems per order, max",
     "SELECT max(n) FROM (SELECT count(*) n FROM lineitem GROUP BY l_orderkey)"),
    ("distinct l_partkey", "SELECT count(DISTINCT l_partkey) FROM lineitem"),
    ("distinct p_name", "SELECT count(DISTINCT p_name) FROM part"),
    ("o_orderdate span, days",
     "SELECT datediff('day', min(o_orderdate), max(o_orderdate)) FROM orders"),
    ("l_shipdate span, days",
     "SELECT datediff('day', min(l_shipdate), max(l_shipdate)) FROM lineitem"),
    ("o_totalprice p50", "SELECT round(median(o_totalprice), -3) FROM orders"),
    ("l_extendedprice p50", "SELECT round(median(l_extendedprice), -3) FROM lineitem"),
    ("c_acctbal < 0", "SELECT count(*) FROM customer WHERE c_acctbal < 0"),
    ("users", "SELECT count(DISTINCT user_id) FROM events"),
    ("events per user, min", "SELECT min(n) FROM (SELECT count(*) n FROM events GROUP BY user_id)"),
    ("events per user, max", "SELECT max(n) FROM (SELECT count(*) n FROM events GROUP BY user_id)"),
    ("event ts span, days", "SELECT datediff('day', min(ts), max(ts)) FROM events"),
    ("first-event weeks (ev4 cohorts)",
     "SELECT count(DISTINCT date_trunc('week', f)) FROM (SELECT min(ts) f FROM events GROUP BY user_id)"),
    ("activity weeks", "SELECT count(DISTINCT date_trunc('week', ts)) FROM events"),
    ("event value p50", "SELECT round(median(value)) FROM events"),
    ("distinct words in documents",
     "SELECT count(DISTINCT w) FROM (SELECT unnest(string_split(text, ' ')) w FROM documents)"),
    ("words per document, mean",
     "SELECT round(avg(len(string_split(text, ' ')))) FROM documents"),
    ("documents in 'en'", "SELECT count(*) FROM documents WHERE lang = 'en'"),
    ("embedding dims", "SELECT max(len(embedding)) FROM embeddings"),
    ("embedding labels", "SELECT count(DISTINCT label) FROM embeddings"),
]


def seeds_arg(s):
    lo, _, hi = s.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def profile(data, oracle):
    con = duckdb.connect()
    for t in check.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    out = {name: con.execute(sql).fetchone()[0] for name, sql in PROPS}
    for gate, sql in sorted(oracle.items()):
        out[f"{gate} oracle rows"] = len(con.execute(sql).fetchall())
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("reference")
    ap.add_argument("--seeds", type=seeds_arg, default=seeds_arg("1-10"))
    ap.add_argument("--oracle")
    args = ap.parse_args()
    oracle = json.load(open(args.oracle)) if args.oracle else {}

    ref = profile(args.reference, oracle)
    tmp = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                       ".bench_build", "fidelity")
    gens = []
    for seed in args.seeds:
        shutil.rmtree(tmp, ignore_errors=True)
        gen.gate_tables(seed, tmp)
        gens.append(profile(tmp, oracle))
    shutil.rmtree(tmp, ignore_errors=True)

    print(f"| property | reference | generated, seeds {args.seeds[0]}..{args.seeds[-1]} |")
    print("|---|---|---|")
    for k, v in ref.items():
        vals = [g[k] for g in gens]
        lo, hi = min(vals), max(vals)
        print(f"| {k} | {v:g} | {lo:g}" + ("" if lo == hi else f"..{hi:g}") + " |")


if __name__ == "__main__":
    main()
