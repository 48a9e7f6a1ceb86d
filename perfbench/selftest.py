#!/usr/bin/env python3
"""Self-test of the benchmark's checker: it must pass correct outputs
and fail planted faults.

    python3 perfbench/selftest.py

* gates: a result equal to DuckDB's answer passes; the same result
  with one value changed fails, and so does any result of a gate whose
  oracle returns no rows;
* import: outputs equal to the recomputation pass; the same outputs
  with one row dropped from a committed table, or from the checked
  view, fail. A few values of the recomputation are pinned by hand, so
  a checker that recomputes nothing cannot pass.

run.py runs this after every build and refuses to measure if it fails.
"""
import datetime as dt
import json
import os
import shutil
import sys
import tempfile

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import check  # noqa: E402
import gen  # noqa: E402

REF = check.REFERENCE


def write_dir(rows, path, schema=None):
    os.makedirs(path, exist_ok=True)
    table = pa.Table.from_pylist(rows, schema=schema)
    pq.write_table(table, f"{path}/part-0.parquet")


def gate_case(tmp):
    data = f"{tmp}/data"
    gen.gate_tables(0, data, 50)
    sql = ("SELECT n_regionkey, count(*) AS n, sum(n_nationkey) / 3.0 AS s "
           "FROM nation GROUP BY n_regionkey")
    work = f"{tmp}/work"
    os.makedirs(f"{work}/results/q_test")
    con = duckdb.connect()
    con.execute(f"CREATE VIEW nation AS SELECT * FROM '{data}/nation.parquet'")
    good = con.execute(sql).df()
    good.to_parquet(f"{work}/results/q_test/h1")
    bad = good.copy()
    bad.loc[2, "s"] = bad.loc[2, "s"] + 1e-6
    bad.to_parquet(f"{work}/results/q_test/h2")
    # an oracle with no rows checks nothing, so its gate fails even when
    # graft's result is empty too
    empty_sql = sql.replace("GROUP BY", "WHERE n_nationkey < 0 GROUP BY")
    os.makedirs(f"{work}/results/q_empty")
    con.execute(empty_sql).df().to_parquet(f"{work}/results/q_empty/h3")
    json.dump({"q_test": sql, "q_empty": empty_sql}, open(f"{work}/oracle_sql.json", "w"))
    v = check.check_gates(work, data, f"{tmp}/cache")
    assert v["q_test/h1"] is None, v
    assert v["q_test/h2"] and "col s" in v["q_test/h2"], v
    assert v["q_empty/h3"] and "no rows" in v["q_empty/h3"], v
    # the cached answer serves a second check the same way
    v = check.check_gates(work, data, f"{tmp}/cache")
    assert v["q_test/h1"] is None and v["q_test/h2"] and v["q_empty/h3"], v


def rec(num, strain, date, seq, lineage="BA.1", loc="Europe / ch / Zurich / Zurich", age="40"):
    return {"covv_accession_id": f"EPI_ISL_{num}", "covv_virus_name": strain,
            "covv_collection_date": date, "covv_location": loc, "covv_patient_age": age,
            "covv_gender": "Male", "covv_lineage": lineage, "covv_subm_date": "2021-04-01",
            "sequence": seq}


def import_case(tmp):
    d = dt.date
    mut = "T" + REF[1:4] + "C" + REF[5:30] + "-A"  # T at 1, masked 5, '-' at 31, A at 32
    base = [
        dict(gisaid_epi_isl="EPI_ISL_1", strain="Germany/BY-1/2021", date=d(2021, 3, 1),
             pango_lineage="BA.1", seq_aligned=REF),     # unchanged
        dict(gisaid_epi_isl="EPI_ISL_2", strain="Germany/BY-2/2021", date=d(2021, 3, 1),
             pango_lineage="BA.1", seq_aligned=REF),     # changed sequence
        dict(gisaid_epi_isl="EPI_ISL_3", strain="Germany/BY-3/2021", date=d(2021, 3, 1),
             pango_lineage="BA.1", seq_aligned=REF),     # absent: deleted
        dict(gisaid_epi_isl="EPI_ISL_4", strain="Germany/BY-4/2021", date=d(2021, 3, 1),
             pango_lineage="BA.1", seq_aligned=REF),     # invalid: kept as is
    ]
    feed = [
        rec(1, "Germany/BY-1/2021", "2021-03", REF),
        rec(2, "Germany/BY-2/2021", "2021-03-XX", mut),
        rec(4, "Germany/BY-4/2021", "2021-03-01", ""),
        rec(9, "Switzerland/ZH-ETHZ-200009/2021", "2021", "--" + REF[2:], age="?",
            loc="Europe / Swizterland / Bern"),
    ]
    prev_ids = [dict(ethid=160000, sample_name="s0", gisaid_id=None),
                dict(ethid=200009, sample_name="s9", gisaid_id="OLD")]
    prev_mut = [dict(gisaid_epi_isl="EPI_ISL_1", position=7, mutation="G"),
                dict(gisaid_epi_isl="EPI_ISL_2", position=9, mutation="G"),
                dict(gisaid_epi_isl="EPI_ISL_3", position=9, mutation="G")]
    exp, report = check.expected_import(base, feed, prev_ids, prev_mut)

    # hand-pinned facts of the recomputation
    assert report == dict(processed=4, failed=1, deleted=1), report
    assert sorted((m["gisaid_epi_isl"], m["position"], m["mutation"])
                  for m in exp["gisaid_api_sequence_mutation"]) == [
        ("EPI_ISL_1", 7, "G"), ("EPI_ISL_2", 1, "T"), ("EPI_ISL_2", 31, "-"),
        ("EPI_ISL_2", 32, "A")], exp["gisaid_api_sequence_mutation"]
    seqs = {r["gisaid_epi_isl"]: r for r in exp["gisaid_api_sequence"]}
    assert sorted(seqs) == ["EPI_ISL_1", "EPI_ISL_2", "EPI_ISL_4", "EPI_ISL_9"], seqs
    assert seqs["EPI_ISL_9"]["country"] == "Switzerland" and seqs["EPI_ISL_9"]["division"] == "Bern"
    assert seqs["EPI_ISL_9"]["date"] == d(2021, 1, 1) and seqs["EPI_ISL_9"]["age"] is None
    assert seqs["EPI_ISL_9"]["ethid"] == 200009 and seqs["EPI_ISL_9"]["is_ours"] is True
    assert seqs["EPI_ISL_1"]["country"] is None  # unchanged rows keep the base columns only
    assert {r["ethid"]: r["gisaid_id"] for r in exp["sequence_identifier"]} == {
        160000: None, 200009: "OLD"}  # an existing id is never overwritten

    # lay the cycle out as the harness does, then check it
    snap, tables = f"{tmp}/snap", f"{tmp}/tables"
    schemas = {
        "gisaid_api_sequence": pa.schema([
            ("gisaid_epi_isl", pa.string()), ("strain", pa.string()), ("date", pa.date32()),
            ("pango_lineage", pa.string()), ("age", pa.int32()), ("region", pa.string()),
            ("country", pa.string()), ("division", pa.string()), ("is_ours", pa.bool_()),
            ("ethid", pa.int32())]),
        "gisaid_api_sequence_mutation": pa.schema([
            ("gisaid_epi_isl", pa.string()), ("position", pa.int32()), ("mutation", pa.string())]),
        "sequence_identifier": pa.schema([
            ("ethid", pa.int64()), ("sample_name", pa.string()), ("gisaid_id", pa.string())]),
    }
    write_dir(prev_ids, f"{snap}/prev/sequence_identifier", schemas["sequence_identifier"])
    write_dir(prev_mut, f"{snap}/prev/gisaid_api_sequence_mutation",
              schemas["gisaid_api_sequence_mutation"])
    for name, rows in exp.items():
        write_dir(rows, f"{snap}/cur/{name}", schemas[name])
    write_dir([dict(sample_name="s0", ethid=160000, number_n=3, fail_reason=None,
                    pango_lineage="BA.1", sequencing_batch="b1"),
               dict(sample_name="s9", ethid=200009, number_n=1, fail_reason=None,
                    pango_lineage="BA.2", sequencing_batch="b1")], f"{tables}/consensus_sequence")
    write_dir([dict(ethid=160000, order_date=d(2021, 3, 2), canton="ZH")], f"{tables}/viollier_test")
    con = duckdb.connect()
    view = con.execute(check.PUBLIC_META_SQL.format(snap=f"{snap}/cur", tables=tables)).arrow()
    # own: s0 unreleased, s9 released as OLD; gisaid: the three non-ETHZ strains
    assert sorted(view.column("strain").to_pylist()) == [
        "Germany/BY-1/2021", "Germany/BY-2/2021", "Germany/BY-4/2021", "OLD",
        "UNRELEASED_ETHZ_160000"], view
    write_dir(view.to_pylist(), f"{snap}/cur/spectrum_sequence_public_meta", view.schema)
    open(f"{snap}/cur/tables.lst", "w").write("\n".join(
        ["consensus_sequence", "gisaid_api_sequence", "gisaid_api_sequence.prev"]))
    open(f"{snap}/cur/views.lst", "w").write("\n".join(check.VIEWS))

    def verdict():
        return check.check_cycle(snap, "prev", "cur", tables, base, feed, report)

    assert verdict() is None, verdict()
    assert "report" in check.check_cycle(snap, "prev", "cur", tables, base, feed,
                                         dict(report, deleted=0))
    for name in list(exp) + ["spectrum_sequence_public_meta"]:
        path = f"{snap}/cur/{name}"
        keep = pq.read_table(path)
        shutil.rmtree(path)
        write_dir(keep.slice(1).to_pylist(), path, keep.schema)  # drop one row
        why = verdict()
        assert why and name in why, (name, why)
        shutil.rmtree(path)
        write_dir(keep.to_pylist(), path, keep.schema)
    assert verdict() is None
    open(f"{snap}/cur/views.lst", "a").write("\nreport_batch_qc.staging")
    assert "left behind" in verdict()


def main():
    build_dir = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                           ".bench_build")
    os.makedirs(build_dir, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="selftest-", dir=build_dir)
    try:
        gate_case(tmp)
        import_case(tmp)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    print("checker self-test: ok")


if __name__ == "__main__":
    main()
