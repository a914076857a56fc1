"""The benchmark's workloads: what each one feeds the JVM and what the
checker expects back.

ETL queries are written once with `{orders}`, `{lineitem}` and `{fan}`
placeholders. For Spark they become `.sheet` references (the pipeline
rewrites those per matched workbook) and an `explode`; for DuckDB they
become reads of the parquet slice the workbook was written from and an
`unnest`, so the expected results come from an independent engine over
the same rows.
"""

SPARK_FAN = "(SELECT explode(array(1, 2, 3, 4)) AS k)"
DUCK_FAN = "(SELECT unnest([1, 2, 3, 4]) AS k)"

AGGREGATES = [
    {"name": "lines_by_flag", "pivot": True, "sql":
        "SELECT l_returnflag, l_linestatus, COUNT(*) AS n_lines, "
        "SUM(l_quantity) AS qty, ROUND(SUM(l_extendedprice), 2) AS revenue "
        "FROM {lineitem} GROUP BY l_returnflag, l_linestatus"},
    {"name": "priority_lines", "pivot": True, "sql":
        "SELECT o.o_orderpriority, COUNT(*) AS n_lines, SUM(l.l_quantity) AS qty "
        "FROM {lineitem} l JOIN {orders} o ON l.l_orderkey = o.o_orderkey "
        "WHERE l.l_shipdate >= '1998-01-01' GROUP BY o.o_orderpriority"},
    {"name": "orders_by_status", "pivot": False, "sql":
        "SELECT o_orderstatus, COUNT(*) AS n_orders, MAX(o_totalprice) AS max_price "
        "FROM {orders} GROUP BY o_orderstatus ORDER BY o_orderstatus"},
]

# row-level joins fanned out four times: 64,000 rows each at this size
ORDER_LINES = {"name": "order_lines", "pivot": True, "sql":
    "SELECT o.o_orderkey, o.o_custkey, o.o_orderpriority, l.l_linenumber, "
    "l.l_quantity, l.l_extendedprice, l.l_shipdate, f.k AS fan "
    "FROM {lineitem} l JOIN {orders} o ON l.l_orderkey = o.o_orderkey "
    "CROSS JOIN {fan} f"}
ORDER_LINES_XL = {"name": "order_lines_xl", "pivot": True, "sql":
    "SELECT o.o_orderkey, o.o_orderdate, o.o_orderstatus, l.l_partkey, "
    "l.l_discount, l.l_tax, l.l_returnflag, f.k AS fan "
    "FROM {lineitem} l JOIN {orders} o ON l.l_orderkey = o.o_orderkey "
    "CROSS JOIN {fan} f"}

# name -> (workbooks, orders drawn, bundles as (export name, format, queries)).
# One Pipeline.run covers both emphases: small aggregates (two stacked, one
# positionally concatenated, one a join) whose cost is Excel parsing and
# per-statement overhead, and row-level joins whose cost is the sinks.
LINES_BY_FLAG, PRIORITY_LINES, ORDERS_BY_STATUS = AGGREGATES
ETL = {
    "etl": (2, 4000, [
        ("out_hyper", "hyper", [LINES_BY_FLAG, ORDERS_BY_STATUS, ORDER_LINES]),
        ("out_excel", "excel", [PRIORITY_LINES, ORDER_LINES_XL]),
    ]),
}

# gate -> family: "stream" (graft.streaming: s21 runs micro-batches through
# CorpusStream, s15 the EventsStream heavy-hitter plan), "iter" (iterative
# functions-library gates on a shared fixture), "rel" (relational and text)
GATES = {
    "s21_stream_chunks": "stream",
    "s15_stream_heavy_hitters": "stream",
    "d08_dup_clusters": "iter",
    "g01_pagerank": "iter",
    "t32_lm_ngram": "rel",
}


def spark_sql(sql):
    return sql.format(orders="orders.sheet", lineitem="lineitem.sheet", fan=SPARK_FAN)


def duck_sql(sql, sheets):
    return sql.format(orders=f"read_parquet('{sheets['orders']}')",
                      lineitem=f"read_parquet('{sheets['lineitem']}')", fan=DUCK_FAN)


def etl_config(name, slices):
    """The `etl` block of the JVM configuration for workload `name`."""
    _, _, bundles = ETL[name]
    return {
        "workbooks": [{"name": n, "sheets": sheets} for n, sheets, _ in slices],
        "bundles": [{
            "export": export, "format": fmt,
            "matches": [n.split("_")[0] for n, _, _ in slices],
            "sheets": ["orders", "lineitem"],
            "queries": [{"name": q["name"], "pivot": q["pivot"],
                         "sql": spark_sql(q["sql"])} for q in queries],
        } for export, fmt, queries in bundles],
    }
