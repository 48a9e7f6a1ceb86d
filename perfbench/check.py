"""Correctness checks for the benchmark, made apart from graft.

* Gate results: each distinct result a gate returned in the run is
  compared with DuckDB's evaluation of that gate's oracle SQL over the
  same parquet, by the rules of `tools/selfcheck.py` (columns ordered by
  name, rows sorted, floats equal within rel_tol 1e-9). An oracle that
  returns no rows fails the check, since it could not tell a correct
  result from one with every row dropped. DuckDB answers are cached,
  keyed by the SQL and the bytes of the input tables.
* Import outputs: the three committed tables are recomputed here, in
  plain Python, from the generated base, the cycle's feed and the state
  the previous cycle left, following the import's documented steps.
* Views: every view is present, no `.staging` directory or
  `_swap_intent` is left behind, and `spectrum_sequence_public_meta`
  equals a DuckDB recomputation from the tables the refresh read.
"""
import datetime as dt
import glob
import hashlib
import json
import math
import os
import re
from collections import Counter

import duckdb
import pandas as pd
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]

# --- gate results (tools/selfcheck.py rules) ----------------------------


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    if len(df):
        df = df.sort_values(by=list(df.columns), ignore_index=True)
    return df


def cmp_cell(a, b) -> bool:
    if a is None and b is None:
        return True
    try:
        if pd.isna(a) and pd.isna(b):
            return True
    except (TypeError, ValueError):
        pass
    if isinstance(a, float) and isinstance(b, float):
        if a == b:
            return True
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-12)
    return a == b or str(a) == str(b)


def compare_frames(got: pd.DataFrame, exp: pd.DataFrame):
    """None when equal under the selfcheck rules, else the first difference."""
    got, exp = canon(got), canon(exp)
    if list(got.columns) != list(exp.columns):
        return f"columns differ: graft={list(got.columns)} duckdb={list(exp.columns)}"
    if len(got) != len(exp):
        return f"row count: graft={len(got)} duckdb={len(exp)}"
    for c in got.columns:
        for i, (a, b) in enumerate(zip(got[c].tolist(), exp[c].tolist())):
            if not cmp_cell(a, b):
                return f"col {c} row {i}: graft={a!r} duckdb={b!r}"
    return None


def _input_sig(data_dir: str) -> str:
    h = hashlib.sha256()
    for t in TABLES:
        with open(f"{data_dir}/{t}.parquet", "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def check_gates(work: str, data_dir: str, cache_dir: str) -> dict:
    """{"<gate>/<hash>": None | reason} for every result dumped in `work/results`."""
    oracle = json.load(open(f"{work}/oracle_sql.json"))
    sig = _input_sig(data_dir)
    os.makedirs(cache_dir, exist_ok=True)
    con = None
    verdicts = {}
    for path in sorted(glob.glob(f"{work}/results/*/*")):
        gate, h = path.split(os.sep)[-2:]
        sql = oracle.get(gate)
        if sql is None:
            verdicts[f"{gate}/{h}"] = "gate has no oracle SQL"
            continue
        key = hashlib.sha256((sql + "\0" + sig).encode()).hexdigest()[:32]
        cached = f"{cache_dir}/{key}.pkl"
        if os.path.exists(cached):
            exp = pd.read_pickle(cached)
        else:
            if con is None:
                con = duckdb.connect()
                for t in TABLES:
                    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
            try:
                exp = con.execute(sql).df()
            except Exception as e:  # an oracle that cannot run checks nothing
                verdicts[f"{gate}/{h}"] = f"oracle sql error: {e}"
                continue
            exp.to_pickle(cached + ".tmp")
            os.replace(cached + ".tmp", cached)
        if exp.empty:  # an empty answer would pass a gate that drops every row
            verdicts[f"{gate}/{h}"] = "oracle returns no rows on these inputs: nothing to check"
            continue
        verdicts[f"{gate}/{h}"] = compare_frames(pd.read_parquet(path), exp)
    return verdicts


# --- GISAID import recomputation ------------------------------------------

REFERENCE = "ACGTACGTACGTACGTACGTACGTACGTACGT"
MASKED = {5}
GEO_RULES = [("europe/swizterland/*/*", "Europe/Switzerland/*/*"),
             ("*/ch/*/*", "*/Switzerland/*/*")]
VIEWS = ["spectrum_sequence_public_meta", "spectrum_sequence_mutation_aa",
         "spectrum_sequence_mutation_nucleotide", "spectrum_sequence_intensity",
         "spectrum_pangolin_lineage_mutation", "spectrum_swiss_cases",
         "report_batch_qc", "report_fail_reasons", "report_bag_sequences",
         "report_completeness", "dashboard_main_view"]
IMPORT_OUT = ["gisaid_api_sequence", "gisaid_api_sequence_mutation", "sequence_identifier"]


def _rule_trie():
    trie = {}
    for left, right in GEO_RULES:
        l0, l1, l2, l3 = left.lower().split("/")
        trie.setdefault(l0, {}).setdefault(l1, {}).setdefault(l2, {})[l3] = right.split("/")
    return trie


def _merge(full, wild):
    if full is not None and wild is not None:
        return {**wild, **full}  # full-match keys shadow the wildcard's
    return full if full is not None else wild


def _find_rule(trie, keys):
    m = _merge(trie.get(keys[0]), trie.get("*"))
    for k in keys[1:3]:
        if m is None:
            return None
        m = _merge(m.get(k), m.get("*"))
    return None if m is None else m.get(keys[3], m.get("*"))


def geo_resolve(loc: str):
    """GeoRules.resolve for the import's two rules, on 'a / b / c / d'."""
    parts = (loc.split(" / ") + ["", "", "", ""])[:4]
    cur = [p.strip() for p in parts]
    trie = _rule_trie()
    while True:
        rhs = _find_rule(trie, [c.lower() for c in cur])
        if rhs is None:
            break
        nxt = [cur[i] if rhs[i] == "*" else rhs[i] for i in range(4)]
        if nxt == cur:
            break
        cur = nxt
    return [c if c else None for c in cur]


def norm_date(s):
    """Annotations.normalizeImpreciseDate: yyyy, yyyy-mm and yyyy-mm-XX to the first."""
    if s is None:
        return None
    if s[8:10] == "XX":
        s = s[:7] + "-01"
    elif len(s) == 7:
        s = s + "-01"
    elif len(s) == 4:
        s = s + "-01-01"
    try:
        return dt.date.fromisoformat(s)
    except ValueError:
        return None


def call_mutations(seq: str):
    s = list(seq.upper())
    i = 0
    while i < len(s) and s[i] == "-":
        s[i] = "N"
        i += 1
    i = len(s) - 1
    while i >= 0 and s[i] == "-":
        s[i] = "N"
        i -= 1
    return [(i + 1, b) for i, b in enumerate(s)
            if i + 1 not in MASKED and b in "ACGT-" and b != REFERENCE[i]]


def _blank(v):
    return v is None or len(v.strip()) == 0


def expected_import(base, feed, prev_ids, prev_mut):
    """The three committed tables and the report counts of one import.

    base: rows of the existing table; feed: JSON records; prev_ids and
    prev_mut: rows of the live identifier and mutation tables (or None).
    """
    normalized = []
    for r in feed:
        strain = r.get("covv_virus_name")
        age = r.get("covv_patient_age")
        region, country, division, _ = geo_resolve(r.get("covv_location") or "")
        m = re.search(r".*ETHZ-([0-9]+)/.*", strain or "")
        seq = r.get("sequence")
        normalized.append(dict(
            gisaid_epi_isl=r.get("covv_accession_id"), strain=strain,
            date=norm_date(r.get("covv_collection_date")),
            age=int(age) if age is not None and re.fullmatch(r"[0-9]+", age) else None,
            region=region, country=country, division=division,
            pango_lineage=r.get("covv_lineage"),
            seq_aligned=seq.upper() if seq is not None else None,
            is_ours=None if strain is None else "-ETHZ-" in strain,
            ethid=int(m.group(1)) if m else None))
    invalid = [_blank(n["gisaid_epi_isl"]) or _blank(n["strain"]) or not n["seq_aligned"]
               for n in normalized]
    parsed = [n for n, bad in zip(normalized, invalid) if not bad]
    feed_ids = {n["gisaid_epi_isl"] for n in normalized if not _blank(n["gisaid_epi_isl"])}
    existing = {b["gisaid_epi_isl"]: b for b in base}
    assert len(existing) == len(base), "base ids must be unique"

    cmp = ["strain", "date", "pango_lineage", "seq_aligned"]
    to_process = [n for n in parsed if n["gisaid_epi_isl"] not in existing
                  or any(n[c] != existing[n["gisaid_epi_isl"]][c] for c in cmp)]
    tp = {n["gisaid_epi_isl"]: n for n in to_process}
    assert len(tp) == len(to_process), "feed ids must be unique"

    extra = ["age", "region", "country", "division", "is_ours", "ethid"]
    final = []
    for k in sorted(set(existing) | set(tp)):
        if k not in feed_ids:
            continue
        e, u = existing.get(k, {}), tp.get(k, {})
        row = {c: u.get(c) if u.get(c) is not None else e.get(c)
               for c in ["gisaid_epi_isl", "strain", "date", "pango_lineage"]}
        row.update({c: u.get(c) for c in extra})
        final.append(row)
    final_ids = {r["gisaid_epi_isl"] for r in final}

    fresh = [dict(gisaid_epi_isl=n["gisaid_epi_isl"], position=p, mutation=b)
             for n in to_process for p, b in call_mutations(n["seq_aligned"])]
    kept = [m for m in (prev_mut or []) if m["gisaid_epi_isl"] not in tp]
    muts = [m for m in kept + fresh if m["gisaid_epi_isl"] in final_ids]

    new_ids = [dict(ethid=n["ethid"], gisaid_id=n["gisaid_epi_isl"])
               for n in parsed if n["is_ours"] and n["ethid"] is not None]
    ids = []
    matched = set()
    for e in prev_ids:
        hits = [u for u in new_ids if e["ethid"] is not None and u["ethid"] == e["ethid"]]
        for u in hits or [None]:
            ids.append(dict(ethid=e["ethid"], sample_name=e["sample_name"],
                            gisaid_id=e["gisaid_id"] if e["gisaid_id"] is not None
                            else (u or {}).get("gisaid_id")))
        matched.update(u["ethid"] for u in hits)
    ids += [dict(ethid=u["ethid"], sample_name=None, gisaid_id=u["gisaid_id"])
            for u in new_ids if u["ethid"] not in matched]

    report = dict(processed=len(normalized), failed=sum(invalid),
                  deleted=len(set(existing) - feed_ids))
    return {"gisaid_api_sequence": final, "gisaid_api_sequence_mutation": muts,
            "sequence_identifier": ids}, report


def read_rows(path: str):
    return pq.read_table(path).to_pylist()


def diff_rows(got, exp):
    """None when the two row lists are equal as multisets, else a reason."""
    gc = sorted(got[0]) if got else None
    ec = sorted(exp[0]) if exp else None
    if got and exp and gc != ec:
        return f"columns differ: graft={gc} expected={ec}"
    cols = gc or ec or []
    g = Counter(tuple(r[c] for c in cols) for r in got)
    e = Counter(tuple(r[c] for c in cols) for r in exp)
    if g == e:
        return None
    missing, extra = e - g, g - e
    return (f"{sum(missing.values())} expected rows missing, {sum(extra.values())} unexpected; "
            f"e.g. missing={next(iter(missing), None)} extra={next(iter(extra), None)}")


PUBLIC_META_SQL = """
WITH si AS (SELECT * FROM read_parquet('{snap}/sequence_identifier/*.parquet')),
cs AS (SELECT * FROM read_parquet('{tables}/consensus_sequence/*.parquet')),
vt AS (SELECT ethid AS v_ethid, order_date, canton FROM read_parquet('{tables}/viollier_test/*.parquet')),
gs AS (SELECT * FROM read_parquet('{snap}/gisaid_api_sequence/*.parquet')),
rel AS (SELECT DISTINCT ethid AS r_ethid FROM si WHERE gisaid_id IS NOT NULL AND ethid IS NOT NULL),
own0 AS (SELECT cs.*, s.gisaid_id, rel.r_ethid IS NOT NULL AS rv
         FROM cs LEFT JOIN (SELECT sample_name AS s_name, gisaid_id FROM si) s ON cs.sample_name = s.s_name
                 LEFT JOIN rel ON cs.ethid = rel.r_ethid),
own1 AS (SELECT *, row_number() OVER (PARTITION BY ethid ORDER BY number_n, sample_name) AS rn,
                bool_or(gisaid_id IS NOT NULL) OVER (PARTITION BY ethid) OR rv AS released
         FROM own0)
SELECT coalesce(gisaid_id, 'UNRELEASED_ETHZ_' || ethid) AS strain, 'Switzerland' AS country,
       canton AS division, order_date AS date, pango_lineage, 'own' AS source_branch
FROM own1 LEFT JOIN vt ON own1.ethid = vt.v_ethid
WHERE gisaid_id IS NOT NULL OR (NOT released AND rn = 1 AND fail_reason IS NULL)
UNION ALL
SELECT strain, country, division, date, pango_lineage, 'gisaid' FROM gs
WHERE strain NOT LIKE '%-ETHZ-%'
"""


def check_views(snap: str, tables: str):
    listing = {d: open(f"{snap}/{d}.lst").read().split() for d in ("tables", "views")}
    missing = [v for v in VIEWS if v not in listing["views"]]
    if missing:
        return f"views missing: {missing}"
    left = [n for names in listing.values() for n in names
            if n.endswith(".staging") or n.startswith("_swap_intent")]
    if left:
        return f"commit left behind: {left}"
    con = duckdb.connect()
    cols = "strain, country, division, date, pango_lineage, source_branch"
    con.execute("CREATE VIEW exp AS " + PUBLIC_META_SQL.format(snap=snap, tables=tables))
    con.execute(f"CREATE VIEW got AS SELECT {cols} FROM "
                f"read_parquet('{snap}/spectrum_sequence_public_meta/*.parquet')")
    n_diff = con.execute(f"SELECT count(*) FROM ((SELECT {cols} FROM got EXCEPT ALL "
                         f"SELECT {cols} FROM exp) UNION ALL (SELECT {cols} FROM exp "
                         f"EXCEPT ALL SELECT {cols} FROM got))").fetchone()[0]
    if n_diff:
        return f"spectrum_sequence_public_meta: {n_diff} rows differ from the DuckDB recomputation"
    return None


def check_cycle(snap_dir: str, prev: str, cur: str, tables: str, base, feed, report):
    """None when cycle `cur` (state before it: snapshot `prev`) is correct."""
    p, c = f"{snap_dir}/{prev}", f"{snap_dir}/{cur}"
    exp, exp_report = expected_import(
        base, feed, read_rows(f"{p}/sequence_identifier"),
        read_rows(f"{p}/gisaid_api_sequence_mutation"))
    if report != exp_report:
        return f"report {report} != expected {exp_report}"
    for name in IMPORT_OUT:
        why = diff_rows(read_rows(f"{c}/{name}"), exp[name])
        if why:
            return f"{name}: {why}"
    return check_views(c, tables)


def load_feed(path: str):
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]
