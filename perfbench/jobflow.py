"""The ``jobflow_io`` batch: a FlowGraph of public operators into five
real sinks, plus the read-back check of every sink against DuckDB.

Graph (``cust_orders`` has three consumers, so FlowGraph persists it)::

    customer ─┬─ master_join ── cust_orders ─┬─ write_flat parquet, partitioned
    orders ───┘                              ├─ summarize ── write_grouped CSV
                                             └─ summarize ── TransactionalOutput
    lineitem ── summarize ── write_flat CSV
    customer ── update batch (seed) ── merge_upsert into customer_dim

Sums run over exact decimals so both engines agree to the last digit.
"""

from __future__ import annotations

import glob
import os
import shutil

from pyspark.sql import functions as F

from asakusafw_spark_spark.operators import master_join, summarize
from asakusafw_spark_spark.plans.flow import FlowGraph
from asakusafw_spark_spark.sources.read import read_parquet
from asakusafw_spark_spark.sources.write import (
    TransactionalOutput,
    merge_upsert,
    write_flat,
    write_grouped,
)

SINKS = [
    "orders_by_segment",
    "segment_files",
    "customer_totals",
    "lineitem_summary",
    "customer_merge",
]

#: Offset that turns a copied customer key into a new (inserted) key.
_NEW_KEY = 1_000_000_000


def _update_filter(seed: int) -> str:
    """Rows of ``customer`` in the update batch: one in 20, chosen by the
    seed with integer arithmetic both engines evaluate identically."""
    return f"(c_custkey * 7919 + {seed}) % 20 = 0"


def _insert_filter(seed: int) -> str:
    return f"(c_custkey * 104729 + {seed}) % 50 = 1"


def reset_outputs(data: str, out: str) -> None:
    """Empty the output root and restore the merge target to its base
    state (a copy of ``customer``); runs before each pass, untimed."""
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(os.path.join(out, "customer_dim"))
    shutil.copyfile(
        os.path.join(data, "customer.parquet"),
        os.path.join(out, "customer_dim", "part-00000.parquet"),
    )


def build(data: str, out: str, seed: int, tracer, group) -> FlowGraph:
    """Declare the flow.  ``tracer.span`` wraps each call into the
    engine; ``group(sink)`` sets the sink's job group inside its thread."""

    def node(name, fn):
        def call(spark, *frames):
            with tracer.span("build", node=name):
                return fn(spark, *frames)

        return call

    def sink(name, action):
        def call(df):
            group(name)
            with tracer.span("sink", sink=name):
                action(df)

        return call

    def load(table):
        return node(table, lambda spark: read_parquet(spark, f"{data}/{table}.parquet"))

    def cust_orders(spark, customer, orders):
        return master_join(
            customer.select("c_custkey", "c_name", "c_mktsegment"),
            orders.select("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus"),
            [("c_custkey", "o_custkey")],
            mapping={
                "o_orderkey": "t.o_orderkey",
                "o_custkey": "t.o_custkey",
                "o_totalprice": "t.o_totalprice",
                "o_orderstatus": "t.o_orderstatus",
                "c_name": "m.c_name",
                "c_mktsegment": "m.c_mktsegment",
            },
        )["joined"]

    def price_dec(df):
        return df.withColumn(
            "price_dec", F.col("o_totalprice").try_cast("decimal(27,2)")
        )

    def segment_summary(spark, df):
        return summarize(
            price_dec(df),
            ["c_mktsegment", "o_orderstatus"],
            {"n_orders": ("count", "o_orderkey"), "revenue": ("sum", "price_dec")},
        )

    def customer_totals(spark, df):
        return summarize(
            price_dec(df),
            ["o_custkey"],
            {"n_orders": ("count", "o_orderkey"), "spend": ("sum", "price_dec")},
        )

    def lineitem_summary(spark, li):
        li = li.withColumns(
            {
                "qty_dec": F.col("l_quantity").try_cast("decimal(27,2)"),
                "price_dec": F.col("l_extendedprice").try_cast("decimal(27,2)"),
            }
        )
        return summarize(
            li,
            ["l_returnflag", "l_linestatus"],
            {
                "n_lines": ("count", "l_orderkey"),
                "sum_qty": ("sum", "qty_dec"),
                "sum_price": ("sum", "price_dec"),
            },
        )

    def customer_updates(spark, customer):
        changed = customer.filter(_update_filter(seed)).withColumn(
            "c_acctbal", F.col("c_acctbal") + F.lit(100.0)
        )
        inserted = customer.filter(_insert_filter(seed)).withColumn(
            "c_custkey", F.col("c_custkey") + F.lit(_NEW_KEY)
        )
        return changed.unionByName(inserted)

    def transactional(df):
        tx = TransactionalOutput(f"{out}/tx", tx_id="bench", spark=df.sparkSession).setup()
        tx.prepare("customer_totals", df)
        with tracer.span("commit", sink="customer_totals"):
            tx.commit()

    g = FlowGraph()
    for table in ("customer", "orders", "lineitem"):
        g.source(table, load(table))
    g.op("cust_orders", ["customer", "orders"], node("cust_orders", cust_orders))
    g.op("segment_summary", "cust_orders", node("segment_summary", segment_summary))
    g.op("customer_totals", "cust_orders", node("customer_totals", customer_totals))
    g.op("lineitem_summary", "lineitem", node("lineitem_summary", lineitem_summary))
    g.op("customer_updates", "customer", node("customer_updates", customer_updates))
    g.sink(
        "orders_by_segment",
        "cust_orders",
        sink(
            "orders_by_segment",
            lambda df: write_flat(
                df, f"{out}/orders_by_segment", partition_by=["c_mktsegment"]
            ),
        ),
    )
    g.sink(
        "segment_files",
        "segment_summary",
        sink(
            "segment_files",
            lambda df: write_grouped(
                df,
                f"{out}/segment_files",
                "{c_mktsegment}/status-{o_orderstatus}.csv",
                ordering=[("o_orderstatus", "asc")],
            ),
        ),
    )
    g.sink("customer_totals", "customer_totals", sink("customer_totals", transactional))
    g.sink(
        "lineitem_summary",
        "lineitem_summary",
        sink(
            "lineitem_summary",
            lambda df: write_flat(df, f"{out}/lineitem_summary", format="csv"),
        ),
    )
    g.sink(
        "customer_merge",
        "customer_updates",
        sink(
            "customer_merge",
            lambda df: merge_upsert(f"{out}/customer_dim", df, key="c_custkey"),
        ),
    )
    return g


# -- read-back check -------------------------------------------------------


def _csv(path_glob: str, cols: str) -> str:
    return (
        f"SELECT {cols} FROM read_csv('{path_glob}', header=true, all_varchar=true)"
    )


def _checks(data: str, out: str, seed: int) -> "dict[str, tuple[str, str, str]]":
    """sink → (read-back SQL, DuckDB twin over the inputs, SQL counting
    the read-back rows the sink's OutputCounters record count covers)."""
    cust = f"'{data}/customer.parquet'"
    orders = f"'{data}/orders.parquet'"
    joined = (
        f"SELECT o.o_orderkey, o.o_custkey, o.o_totalprice, o.o_orderstatus, "
        f"c.c_name, c.c_mktsegment FROM {orders} o JOIN {cust} c "
        f"ON c.c_custkey = o.o_custkey"
    )
    dec = "CAST(o_totalprice AS DECIMAL(27,2))"
    merged_keys = (
        f"SELECT c_custkey FROM {cust} WHERE {_update_filter(seed)} "
        f"UNION ALL SELECT c_custkey + {_NEW_KEY} FROM {cust} "
        f"WHERE {_insert_filter(seed)}"
    )
    dim = f"read_parquet('{out}/customer_dim/*.parquet')"
    seg_cols = (
        "c_mktsegment, o_orderstatus, CAST(n_orders AS BIGINT) AS n_orders, "
        "CAST(revenue AS DECIMAL(38,2)) AS revenue"
    )
    li_cols = (
        "l_returnflag, l_linestatus, CAST(n_lines AS BIGINT) AS n_lines, "
        "CAST(sum_qty AS DECIMAL(38,2)) AS sum_qty, "
        "CAST(sum_price AS DECIMAL(38,2)) AS sum_price"
    )
    return {
        "orders_by_segment": (
            f"SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus, c_name, "
            f"c_mktsegment FROM read_parquet('{out}/orders_by_segment/*/*.parquet', "
            f"hive_partitioning=true)",
            joined,
            None,
        ),
        "segment_files": (
            _csv(f"{out}/segment_files/*/*.csv", seg_cols),
            f"SELECT c_mktsegment, o_orderstatus, COUNT(*) AS n_orders, "
            f"CAST(SUM({dec}) AS DECIMAL(38,2)) AS revenue FROM ({joined}) "
            f"GROUP BY ALL",
            None,
        ),
        "customer_totals": (
            f"SELECT o_custkey, n_orders, CAST(spend AS DECIMAL(38,2)) AS spend "
            f"FROM read_parquet('{out}/tx/customer_totals/*.parquet')",
            f"SELECT o_custkey, COUNT(*) AS n_orders, "
            f"CAST(SUM({dec}) AS DECIMAL(38,2)) AS spend FROM ({joined}) "
            f"GROUP BY ALL",
            None,
        ),
        "lineitem_summary": (
            _csv(f"{out}/lineitem_summary/*.csv", li_cols),
            f"SELECT l_returnflag, l_linestatus, COUNT(*) AS n_lines, "
            f"CAST(SUM(CAST(l_quantity AS DECIMAL(27,2))) AS DECIMAL(38,2)) AS sum_qty, "
            f"CAST(SUM(CAST(l_extendedprice AS DECIMAL(27,2))) AS DECIMAL(38,2)) "
            f"AS sum_price FROM '{data}/lineitem.parquet' GROUP BY ALL",
            None,
        ),
        "customer_merge": (
            f"SELECT * FROM {dim}",
            f"SELECT * FROM {cust} WHERE c_custkey NOT IN ({merged_keys}) "
            f"UNION ALL SELECT c_custkey, c_name, c_nationkey, c_acctbal + 100.0, "
            f"c_mktsegment FROM {cust} WHERE {_update_filter(seed)} "
            f"UNION ALL SELECT c_custkey + {_NEW_KEY}, c_name, c_nationkey, "
            f"c_acctbal, c_mktsegment FROM {cust} WHERE {_insert_filter(seed)}",
            f"SELECT COUNT(*) FROM {dim} WHERE c_custkey IN ({merged_keys})",
        ),
    }


def check(data: str, out: str, seed: int, records: "dict[str, int]", value_hash):
    """Read every sink back.  Returns ``{sink: problem}`` for each sink
    whose rows differ from DuckDB's twin or whose OutputCounters record
    count differs from the rows read back (empty when all match)."""
    import duckdb

    problems: dict[str, str] = {}
    if not os.path.exists(f"{out}/tx/_TRANSACTION_SUCCESS"):
        problems["customer_totals"] = "no _TRANSACTION_SUCCESS marker"
    if not glob.glob(f"{out}/segment_files/*/*.csv"):
        problems["segment_files"] = "no grouped files"
    con = duckdb.connect()
    try:
        for name, (back_sql, twin_sql, count_sql) in _checks(data, out, seed).items():
            if name in problems:
                continue
            try:
                back = con.execute(back_sql).df()
                twin = con.execute(twin_sql).df()
                covered = (
                    con.execute(count_sql).fetchone()[0] if count_sql else len(back)
                )
            except duckdb.Error as e:
                problems[name] = f"duckdb: {e}"
                continue
            if records.get(name) != covered:
                problems[name] = f"records {records.get(name)} vs read back {covered}"
            elif len(back) != len(twin) or value_hash(back) != value_hash(twin):
                problems[name] = f"rows {len(back)} vs twin {len(twin)} or values differ"
    finally:
        con.close()
    return problems
