"""Output checks, run after the measured window.

ETL: every table the last pass wrote (decoded by the JVM from the `.hyper`
extract or read back from the `.xlsx` through the `excel` source) is
compared with the same query run by DuckDB over the parquet slices the
workbooks were written from. Stacked ("pivot") results compare as
multisets of rows; positionally concatenated results compare row by row.
Numbers compare with a relative tolerance of 1e-9, because the engines
sum doubles in different orders, and an integer equals the same number
read back as a double.

Gates: each gate's parquet output is compared with its
`SparkEntry.oracleSql` run by DuckDB over the same generated tables: the
same column names and types, the same row count, and the same rows in the
same order.

Each check returns a list of (name, problem or None).
"""
import glob

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import workloads

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _rows(table, cols):
    return [tuple(r) for r in zip(*[table.column(c).to_pylist() for c in cols])]


def _numeric(t):
    return pa.types.is_integer(t) or pa.types.is_floating(t) or pa.types.is_decimal(t)


def _compare(got, want, ordered):
    """None when `got` holds `want`'s columns and rows, else the first
    difference."""
    if got.column_names != want.column_names:
        return f"columns {got.column_names} != expected {want.column_names}"
    if got.num_rows != want.num_rows:
        return f"{got.num_rows} rows != expected {want.num_rows}"
    if not ordered:
        keys = [(c, "ascending") for c in got.column_names]
        got, want = got.sort_by(keys), want.sort_by(keys)
    for c in got.column_names:
        g, w = got.column(c), want.column(c)
        if _numeric(g.type) and _numeric(w.type):
            gv = np.asarray(g.cast(pa.float64()).to_numpy(zero_copy_only=False), float)
            wv = np.asarray(w.cast(pa.float64()).to_numpy(zero_copy_only=False), float)
            same = np.isclose(gv, wv, rtol=1e-9, atol=1e-9, equal_nan=True)
        else:
            same = np.array([a == b for a, b in zip(g.to_pylist(), w.to_pylist())])
        if not same.all():
            i = int(np.flatnonzero(~same)[0])
            return f"column {c} row {i}: {g[i].as_py()!r} != expected {w[i].as_py()!r}"
    return None


def _expected_etl(con, query, slices, matches):
    """DuckDB's answer for one bundle query over all workbooks."""
    if query["pivot"]:
        # pivot stack: each workbook's rows behind an `index` column
        # naming the workbook
        union = " UNION ALL ".join(
            f"SELECT '{name}' AS \"index\", * FROM ({workloads.duck_sql(query['sql'], sheets)})"
            for name, sheets, _ in slices)
        return con.execute(union).fetch_arrow_table(), False
    # positional concat: row i of every workbook side by side, each
    # workbook's columns prefixed with its match
    parts = [con.execute(workloads.duck_sql(query["sql"], sheets)).fetch_arrow_table()
             for _, sheets, _ in slices]
    n = max(p.num_rows for p in parts)
    cols, names = [], []
    for m, p in zip(matches, parts):
        for c in p.column_names:
            vals = p.column(c).to_pylist()
            cols.append(pa.array(vals + [None] * (n - len(vals))))
            names.append(f"{m}_{c}")
    return pa.table(cols, names=names), True


def etl(name, slices, outputs):
    con = duckdb.connect()
    _, _, bundles = workloads.ETL[name]
    matches = [n.split("_")[0] for n, _, _ in slices]
    got = {(t["bundle"], t["table"]): t["path"] for t in outputs["tables"]}
    results = []
    for export, _, queries in bundles:
        for q in queries:
            label = f"{export}/{q['name']}"
            path = got.get((export, q["name"]))
            if path is None:
                results.append((label, "missing from the output"))
                continue
            try:
                want, ordered = _expected_etl(con, q, slices, matches)
                results.append((label, _compare(pq.read_table(path), want, ordered)))
            except Exception as e:  # a decode or query failure is a failed check
                results.append((label, f"{type(e).__name__}: {e}"))
    return results


def _canon_type(t):
    t = str(t).lower()
    aliases = {"int64": "long", "bigint": "long", "int32": "int", "integer": "int",
               "float64": "double", "float32": "float", "large_string": "string",
               "varchar": "string", "bool": "bool", "boolean": "bool",
               "date32[day]": "date"}
    if t.startswith("timestamp"):
        return "timestamp"
    if t.startswith(("list", "large_list", "fixed_size_list")):
        return "list"
    return aliases.get(t, t)


def gates(data_dir, gate_out, oracle):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    results = []
    for name, sql in sorted(oracle.items()):
        files = sorted(glob.glob(f"{gate_out}/{name}/*.parquet"))
        if not files:
            results.append((name, "no output"))
            continue
        try:
            got = pq.read_table(files[0])
            want = con.execute(sql).fetch_arrow_table()
            cols = sorted(got.column_names)
            problem = None
            if cols != sorted(want.column_names):
                problem = f"columns {cols} != expected {sorted(want.column_names)}"
            else:
                bad = [c for c in cols if _canon_type(got.schema.field(c).type)
                       != _canon_type(want.schema.field(c).type)]
                if bad:
                    problem = f"types differ in {bad}"
                elif got.num_rows != want.num_rows:
                    problem = f"{got.num_rows} rows != expected {want.num_rows}"
                else:
                    g, w = _rows(got, cols), _rows(want, cols)
                    diffs = [i for i, (a, b) in enumerate(zip(g, w)) if a != b
                             and repr(a) != repr(b)]  # NaN equals NaN
                    if diffs:
                        problem = f"{len(diffs)} rows differ; first {g[diffs[0]]} != {w[diffs[0]]}"
            results.append((name, problem))
        except Exception as e:
            results.append((name, f"{type(e).__name__}: {e}"))
    return results
