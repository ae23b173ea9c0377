"""The benchmark's workloads: what one pass runs and how its output is
checked.

A pass is a list of units. A unit is one catalog query (``query_mix``)
or one ETL flow run over one input batch (``etl_flow``). Each unit
returns an ``Outcome`` the runner checks after the measured passes.
"""

from __future__ import annotations

import os
import random
import shutil
from dataclasses import dataclass, field

# query -> the operators module whose cost it is attributed to.
# Short catalog queries, one per module, that fire no job while they are
# built (the self-test checks this), so the Python DSL build and
# Catalyst planning are a large share of their wall.
SHORT_QUERIES = {
    "inner_join": "joins",
    "window_rank": "aggregates",
    "inverted_index": "text",
    "key_skew": "stats",
    "weighted_sample": "sampling",
    "segment_overlap": "sketches",
    "pii_scan": "curation",
    "ann_ivf": "similarity",
}
# Driver loops: queries that fire jobs while they are built (pagerank's
# iterations).
DRIVER_LOOPS = {
    "pagerank": "graph",
}
QUERY_MIX = {**SHORT_QUERIES, **DRIVER_LOOPS}


def query_order(names, seed: int) -> list[str]:
    order = sorted(names)
    random.Random(seed).shuffle(order)
    return order


@dataclass
class Outcome:
    """What a unit produced, kept for the correctness check."""
    name: str
    df: object = None          # query units: the DataFrame that was written
    report: dict = field(default_factory=dict)   # flow units: run() report
    batch: int = -1


# --------------------------------------------------------------------------
# etl_flow
# --------------------------------------------------------------------------

REJECT_COND = "o_orderstatus <> 'U' AND l_discount < 0.1"
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ORPHAN_DEFAULTS = {"o_custkey": 0, "o_orderstatus": "U",
                   "o_orderpriority": "UNKNOWN"}


class EtlFlow:
    """One flow run over one input batch, through the whole grammar:

    from_(lineitem batch) → left_join(orders, default_record)
    → join(customer) → qualify(…, reject_to=JsonSink)
    → transform(WithColumns) → transform(Rename) → to(ParquetSink)
    with two branches: returned lines to a CsvSink, and a per-segment,
    per-year summary upserted by MergeParquetSink into one target that
    persists across batches and passes. Batch b's summary leaves out the
    segment ``left_out(b)``, so each upsert replaces some of the target's
    keys and keeps the rest.
    """

    def __init__(self, data_dir: str, out_dir: str):
        self.data = data_dir
        self.out = out_dir
        shutil.rmtree(out_dir, ignore_errors=True)
        os.makedirs(out_dir)

    def paths(self, b: int) -> dict[str, str]:
        return {
            "fact": f"{self.out}/fact/b{b}",
            "rejects": f"{self.out}/rejects/b{b}",
            "returns": f"{self.out}/returns/b{b}",
            "summary": f"{self.out}/summary",
        }

    @staticmethod
    def left_out(b: int) -> str:
        return SEGMENTS[b % len(SEGMENTS)]

    def input_bytes(self, b: int) -> int:
        return sum(os.path.getsize(f"{self.data}/{f}") for f in (
            f"lineitem_{b}.parquet", "orders.parquet", "customer.parquet"))

    def run_batch(self, spark, b: int) -> dict:
        from pyspark.sql import functions as F

        from yaetl_spark import (
            Apply, BranchPipeline, OnClause, ParquetSource, Pipeline, Rename,
            WithColumns)
        from yaetl_spark.sinks import (
            CsvSink, JsonSink, MergeParquetSink, ParquetSink)

        p = self.paths(b)
        revenue = (F.col("l_extendedprice").cast("decimal(12,2)")
                   * (1 - F.col("l_discount").cast("decimal(8,4)"))
                   * (1 + F.col("l_tax").cast("decimal(8,4)")))
        returns = (
            BranchPipeline(spark)
            .qualify(F.col("l_returnflag") == "R")
            .transform(Apply(lambda df: df.select(
                "l_orderkey", "l_linenumber", "segment", "revenue")))
            .to(CsvSink(p["returns"])))
        summary = (
            BranchPipeline(spark)
            .qualify(F.col("segment") != self.left_out(b))
            .transform(Apply(lambda df: df.groupBy("segment", "ship_year")
                             .agg(F.count(F.lit(1)).alias("lines"),
                                  F.sum("l_quantity").alias("quantity"),
                                  F.sum("revenue").alias("revenue"))))
            .to(MergeParquetSink(p["summary"], keys=["segment", "ship_year"])))
        return (
            Pipeline(spark)
            .from_(ParquetSource(f"{self.data}/lineitem_{b}.parquet"))
            .left_join(ParquetSource(f"{self.data}/orders.parquet"),
                       OnClause({"l_orderkey": "o_orderkey"},
                                default_record=ORPHAN_DEFAULTS))
            .join(ParquetSource(f"{self.data}/customer.parquet"),
                  {"o_custkey": "c_custkey"})
            .qualify(REJECT_COND, reject_to=JsonSink(p["rejects"]))
            .transform(WithColumns(revenue=revenue.cast("decimal(30,10)"),
                                   ship_year=F.year("l_shipdate")))
            .transform(Rename({"c_mktsegment": "segment",
                               "c_name": "customer"}))
            .to(ParquetSink(p["fact"]))
            .branch(returns)
            .branch(summary)
            .run(scale_gate={})
        )

    # ---------------------------------------------------------------- oracle
    def _oracle_sql(self, b: int) -> str:
        d = self.data
        return f"""
            WITH lj AS (
                SELECT l.*, o.o_orderkey IS NULL AS orphan,
                       coalesce(o.o_custkey, {ORPHAN_DEFAULTS['o_custkey']})
                           AS o_custkey,
                       coalesce(o.o_orderstatus, 'U') AS o_orderstatus
                FROM read_parquet('{d}/lineitem_{b}.parquet') l
                LEFT JOIN read_parquet('{d}/orders.parquet') o
                  ON l.l_orderkey = o.o_orderkey),
            j AS (SELECT lj.*, c.c_mktsegment AS segment FROM lj
                  JOIN read_parquet('{d}/customer.parquet') c
                    ON lj.o_custkey = c.c_custkey)
            SELECT * , ({REJECT_COND}) IS TRUE AS kept,
                   CAST(l_extendedprice AS DECIMAL(12,2))
                   * (1 - CAST(l_discount AS DECIMAL(8,4)))
                   * (1 + CAST(l_tax AS DECIMAL(8,4))) AS revenue,
                   year(l_shipdate) AS ship_year
            FROM j"""

    def expected(self, con, b: int) -> dict:
        """Row counts per sink, rejects and the summary of batch ``b``."""
        con.execute(f"CREATE OR REPLACE TEMP VIEW ex AS {self._oracle_sql(b)}")
        fact, rejected, returned = con.execute(
            "SELECT count(*) FILTER (WHERE kept), "
            "count(*) FILTER (WHERE NOT kept), "
            "count(*) FILTER (WHERE kept AND l_returnflag = 'R') FROM ex"
        ).fetchone()
        summary = con.execute(
            "SELECT segment, ship_year, count(*) AS lines, "
            "sum(l_quantity) AS quantity, CAST(sum(revenue) AS DOUBLE) "
            f"FROM ex WHERE kept AND segment <> '{self.left_out(b)}' "
            "GROUP BY ALL ORDER BY ALL").fetchall()
        return {"fact": fact, "rejected": rejected, "returns": returned,
                "summary": summary}

    def written(self, con, b: int) -> dict:
        p = self.paths(b)
        count = lambda sql: con.execute(sql).fetchone()[0]  # noqa: E731
        return {
            "fact": count(f"SELECT count(*) FROM "
                          f"read_parquet('{p['fact']}/*.parquet')"),
            "rejected": count(f"SELECT count(*) FROM read_json_auto("
                              f"'{p['rejects']}/*.json', format="
                              "'newline_delimited')"),
            "returns": count(f"SELECT count(*) FROM read_csv("
                             f"'{p['returns']}/*.csv', header=true)"),
        }

    def written_summary(self, con) -> list:
        return con.execute(
            "SELECT segment, ship_year, lines, quantity, "
            "CAST(revenue AS DOUBLE) FROM read_parquet("
            f"'{self.paths(0)['summary']}/*.parquet') ORDER BY ALL").fetchall()
