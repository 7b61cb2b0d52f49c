"""Output checks. Each returns a list of (operation name, reason) failures;
an empty list means every output matched.

The query check compares the harness's parquet dump of each query against
DuckDB running the query's oracle SQL over the same input tables. Rows are
compared in order with columns sorted by name, doubles canonicalised to nine
significant digits and NaN spelled out: the comparison rules of the
repository's oracle gate, kept here so that a change to the program cannot
loosen the check it is measured by.
"""
import json
import math
import threading

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _canon(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else f"{v:.9g}"
    return str(v)


def _compare(con, dump, sql):
    got = con.execute(f"SELECT * FROM parquet_scan('{dump}/*.parquet')").fetch_arrow_table()
    want = con.execute(sql).fetch_arrow_table()
    gcols, wcols = sorted(got.column_names), sorted(want.column_names)
    if gcols != wcols:
        return f"columns {gcols} != {wcols}"
    types = [c for c in gcols if got.schema.field(c).type != want.schema.field(c).type]
    if types:
        return f"column types differ: {types}"
    g = [[_canon(r[c]) for c in gcols] for r in got.to_pylist()]
    w = [[_canon(r[c]) for c in wcols] for r in want.to_pylist()]
    if len(g) != len(w):
        return f"row count {len(g)} != {len(w)}"
    for i, (a, b) in enumerate(zip(g, w)):
        if a != b:
            return f"row {i} differs: spark={a} duckdb={b}"
    return None


def oracle(data_dir, out_dir, names, limit_s):
    """Compare every dumped query with its oracle. A query without oracle
    SQL, or whose comparison runs longer than `limit_s`, fails."""
    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    sqls = json.load(open(f"{out_dir}/oracle_sql.json"))
    fails = []
    for n in names:
        if n not in sqls:
            fails.append((n, "no oracle SQL"))
            continue
        timer = threading.Timer(limit_s, con.interrupt)
        timer.start()
        try:
            why = _compare(con, f"{out_dir}/{n}", sqls[n])
        except duckdb.InterruptException:
            why = f"comparison not done within {limit_s} s"
        except Exception as e:  # missing dump, SQL error
            why = f"compare error: {str(e).splitlines()[0][:300]}"
        finally:
            timer.cancel()
        if why:
            fails.append((n, why))
    return fails


def ledger(rows, name="Pipeline.curate"):
    """The curation ledger closes: docs_in(k) = docs_out(k-1) over its 10
    stages. `rows` are (stage_idx, docs_in, docs_out)."""
    if [r[0] for r in rows] != list(range(10)):
        return [(name, f"ledger stages {[r[0] for r in rows]}")]
    for (k0, _, out0), (k1, in1, _) in zip(rows, rows[1:]):
        if in1 != out0:
            return [(name, f"ledger breaks at stage {k1}: docs_in {in1} != docs_out {out0}")]
    return []


def lakehouse(readbacks, expected):
    """Every pass's read-back equals what the generated CSVs imply."""
    fails = []
    for i, r in enumerate(readbacks):
        where = f"readback (pass {i})"
        if not r.get("per_date"):
            fails.append((where, "no read-back recorded"))
            continue
        got_rows = sum(v[0] for v in r["per_date"].values())
        got_qty = sum(v[1] for v in r["per_date"].values())
        if got_rows != expected["fact_rows"]:
            fails.append((where, f"fact rows {got_rows} != {expected['fact_rows']}"))
        if got_qty != expected["quantity_sum"]:
            fails.append((where, f"sum(quantity) {got_qty} != {expected['quantity_sum']}"))
        if r["per_date"] != expected["per_date"]:
            bad = sorted({(k, tuple(v)) for k, v in r["per_date"].items()} ^
                         {(k, tuple(v)) for k, v in expected["per_date"].items()})[:3]
            fails.append((where, f"per-date counts differ, e.g. {bad}"))
        if r["per_category_qty"] != expected["per_category_qty"]:
            fails.append((where, f"per-category quantity {r['per_category_qty']}"))
        if r["customers"] != expected["customers"]:
            fails.append((where, f"customer dim rows {r['customers']} != {expected['customers']}"))
        if r["unknown_segments"] != expected["null_segments"]:
            fails.append((where, f"'Unknown' segments {r['unknown_segments']} != {expected['null_segments']}"))
        if r["products"] != expected["products"]:
            fails.append((where, f"product dim rows {r['products']} != {expected['products']}"))
    return fails
