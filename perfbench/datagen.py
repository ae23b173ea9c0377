"""Seeded input generator for the benchmark, written in DuckDB SQL.

``base_tables`` writes the ten catalog tables (region nation customer
supplier part orders lineitem events documents embeddings) with the
schemas and value distributions of the repository's TPC-H-ish test data,
at a chosen scale factor. ``etl_tables`` replicates the generated
lineitem/orders/customer tables k times with per-replica key offsets, so
joins stay 1:N, perturbs one measure column per replica and writes
multi-row-group parquet.

Every random value is a hash of (seed, row key, column salt), so the
output depends only on the seed and the scale, never on DuckDB's thread
count. Each data set is cached under its own directory, named after the
seed and the scale; a directory is complete once its ``_DONE`` marker
exists.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

import duckdb

_WORDS = [
    "spark", "window", "merge", "table", "column", "vector", "stream",
    "value", "data", "small", "join", "filter", "big", "group", "hash",
    "customer", "sort", "order", "slow", "line", "part", "fast", "row",
    "the", "agg", "key", "query", "a", "scan", "batch",
]
_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]


def _lit_list(xs: list[str]) -> str:
    return "[" + ", ".join(f"'{x}'" for x in xs) + "]"


def _macros(con: duckdb.DuckDBPyConnection, seed: int) -> None:
    # u(k, salt): uniform [0, 1) from a hash of the seed, a row key and a
    # per-column salt; pick(list, k, salt): a uniform element of a list
    con.execute(
        f"CREATE MACRO u(k, salt) AS "
        f"(hash({int(seed)}, k, salt) % 1000000007) / 1000000007.0")
    con.execute(
        "CREATE MACRO pick(xs, k, salt) AS "
        "xs[1 + CAST(floor(u(k, salt) * len(xs)) AS BIGINT)]")
    con.execute(
        "CREATE MACRO ri(lo, hi, k, salt) AS "
        "lo + CAST(floor(u(k, salt) * (hi - lo + 1)) AS BIGINT)")


def _copy(con, sql: str, path: str, row_group_rows: int) -> None:
    con.execute(
        f"COPY ({sql}) TO '{path}' "
        f"(FORMAT parquet, ROW_GROUP_SIZE {row_group_rows})")


def _base_sql(sf: float) -> dict[str, str]:
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1500, int(1_500_000 * sf))
    n_line = 4 * n_ord
    n_evt = max(1000, int(1_000_000 * sf))
    n_user = max(15, int(15_000 * sf))
    n_doc = max(500, int(50_000 * sf))
    n_vec = max(500, int(20_000 * sf))
    words = _lit_list(_WORDS)
    return {
        "region": (
            "SELECT CAST(i AS INTEGER) AS r_regionkey, "
            "['AFRICA','AMERICA','ASIA','EUROPE','MIDDLE EAST'][i + 1] "
            "AS r_name FROM range(5) t(i)"),
        "nation": (
            "SELECT CAST(i AS INTEGER) AS n_nationkey, 'NATION_' || i AS "
            "n_name, CAST(i % 5 AS INTEGER) AS n_regionkey "
            "FROM range(25) t(i)"),
        "customer": (
            "SELECT i AS c_custkey, 'Customer#' || lpad(CAST(i AS VARCHAR), "
            "9, '0') AS c_name, CAST(ri(0, 24, i, 1) AS INTEGER) AS "
            "c_nationkey, round(-999.99 + u(i, 2) * 10999.98, 2) AS "
            "c_acctbal, pick(['AUTOMOBILE','BUILDING','FURNITURE',"
            f"'HOUSEHOLD','MACHINERY'], i, 3) AS c_mktsegment "
            f"FROM range({n_cust}) t(i)"),
        "supplier": (
            "SELECT i AS s_suppkey, 'Supplier#' || lpad(CAST(i AS VARCHAR), "
            "9, '0') AS s_name, CAST(ri(0, 24, i, 11) AS INTEGER) AS "
            "s_nationkey, round(-999.99 + u(i, 12) * 10999.98, 2) AS "
            f"s_acctbal FROM range({n_supp}) t(i)"),
        "part": (
            f"SELECT i AS p_partkey, pick({_lit_list(_ADJ)}, i, 21) || ' ' "
            f"|| pick({_lit_list(_NOUN)}, i, 22) AS p_name, 'Brand#' || "
            "ri(1, 25, i, 23) AS p_brand, pick(['ECONOMY','LARGE','MEDIUM',"
            "'PROMO','SMALL','STANDARD'], i, 24) AS p_type, "
            "CAST(ri(1, 50, i, 25) AS INTEGER) AS p_size, "
            "round(CAST(900 + (i % 1000) / 10.0 AS DOUBLE), 2) AS p_retailprice "
            f"FROM range({n_part}) t(i)"),
        "orders": (
            f"SELECT i AS o_orderkey, ri(0, {n_cust - 1}, i, 31) AS "
            "o_custkey, pick(['F','O','P'], i, 32) AS o_orderstatus, "
            "round(1000 + u(i, 33) * 499000, 2) AS o_totalprice, "
            "TIMESTAMP '1995-01-01' + to_days(CAST(ri(0, 2403, i, 34) AS "
            "INTEGER)) AS o_orderdate, pick(['1-URGENT','2-HIGH',"
            "'3-MEDIUM','4-NOT SPECIFIED','5-LOW'], i, 35) AS "
            f"o_orderpriority FROM range({n_ord}) t(i)"),
        "lineitem": (
            f"SELECT ri(0, {n_ord - 1}, i, 41) AS l_orderkey, "
            f"ri(0, {n_part - 1}, i, 42) AS l_partkey, "
            f"ri(0, {n_supp - 1}, i, 43) AS l_suppkey, "
            "CAST(ri(1, 7, i, 44) AS INTEGER) AS l_linenumber, "
            "CAST(ri(1, 50, i, 45) AS DOUBLE) AS l_quantity, "
            "round(900 + u(i, 46) * 104100, 2) AS l_extendedprice, "
            "round(u(i, 47) * 0.1, 2) AS l_discount, "
            "round(u(i, 48) * 0.08, 2) AS l_tax, "
            "pick(['A','N','R'], i, 49) AS l_returnflag, "
            "pick(['F','O'], i, 50) AS l_linestatus, "
            "TIMESTAMP '1995-01-02' + to_days(CAST(ri(0, 2497, i, 51) AS "
            f"INTEGER)) AS l_shipdate FROM range({n_line}) t(i)"),
        "events": (
            "SELECT i AS event_id, TIMESTAMP '2024-01-01' + to_microseconds("
            f"CAST(floor((i + u(i, 61)) * 2592000000000 / {n_evt}) AS BIGINT)"
            f") AS ts, ri(0, {n_user - 1}, i, 62) AS user_id, "
            "pick(['click','error','purchase','signup','view'], i, 63) AS "
            "event_type, round(-50 * ln(1 - u(i, 64)), 2) AS value, "
            "'{\"k\": ' || ri(0, 99, i, 65) || '}' AS props "
            f"FROM range({n_evt}) t(i)"),
        # 5% of documents copy an earlier document's text and append
        # " dup" (near-duplicate pairs for the dedup queries)
        "documents": (
            "WITH w AS (SELECT i, j FROM range(" + str(n_doc) + ") t(i), "
            "range(100) s(j) WHERE j < ri(10, 100, i, 71)), "
            f"base AS (SELECT i, string_agg(pick({words}, i * 128 + j, 72), "
            "' ' ORDER BY j) AS text FROM w GROUP BY i), "
            "doc AS (SELECT b.i AS doc_id, CASE WHEN u(b.i, 73) < 0.05 AND "
            "b.i > 0 THEN (SELECT c.text FROM base c WHERE c.i = "
            "ri(0, b.i - 1, b.i, 74)) || ' dup' ELSE b.text END AS text "
            "FROM base b) "
            "SELECT doc_id, text, CASE WHEN u(doc_id, 75) < 0.41 THEN 'en' "
            "ELSE pick(['de','es','fr','zh'], doc_id, 76) END AS lang, "
            "'src' || (doc_id % 20) AS source, "
            "CAST(length(text) AS BIGINT) AS n_chars FROM doc ORDER BY doc_id"),
        # unit-norm 64-d Gaussian vectors (Box-Muller), labels 0..9
        "embeddings": (
            "WITH g AS (SELECT i, j, sqrt(-2 * ln(1 - u(i * 64 + j, 81))) * "
            "cos(2 * pi() * u(i * 64 + j, 82)) AS x FROM range("
            f"{n_vec}) t(i), range(64) s(j)), "
            "v AS (SELECT i, list(x ORDER BY j) AS xs, sqrt(sum(x * x)) AS n "
            "FROM g GROUP BY i) "
            "SELECT i AS vec_id, CAST(list_transform(xs, e -> e / n) AS "
            "FLOAT[]) AS embedding, CAST(ri(0, 9, i, 83) AS INTEGER) AS label "
            "FROM v ORDER BY i"),
    }


def _cached(root: str, name: str, build) -> tuple[str, float]:
    """Return (directory, seconds spent generating; 0 when cached)."""
    out = os.path.join(root, name)
    if os.path.exists(os.path.join(out, "_DONE")):
        return out, 0.0
    t0 = time.monotonic()
    tmp = out + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    con = duckdb.connect()
    try:
        con.execute("SET TimeZone='UTC'")
        con.execute(f"SET temp_directory='{tmp}/.duck'")
        build(con, tmp)
    finally:
        con.close()
    shutil.rmtree(os.path.join(tmp, ".duck"), ignore_errors=True)
    open(os.path.join(tmp, "_DONE"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.replace(tmp, out)
    return out, time.monotonic() - t0


def base_tables(root: str, seed: int, sf: float) -> tuple[str, float]:
    """The ten catalog tables at scale ``sf``, one row group per file like
    the repository's test data."""
    def build(con, out):
        _macros(con, seed)
        for t, sql in _base_sql(sf).items():
            _copy(con, sql, f"{out}/{t}.parquet", 10_000_000)

    return _cached(root, f"base-sf{sf}-s{seed}", build)


def etl_tables(root: str, seed: int, sf: float, k: int,
               row_group_rows: int = 16_384) -> tuple[str, float]:
    """lineitem/orders/customer of ``base_tables(seed, sf)`` replicated
    ``k`` times, as the input batches of the ETL workload.

    Replica r offsets every key by r × (key range), so each replica joins
    only to itself, and scales l_extendedprice by a seeded factor in
    [0.9, 1.1) per row. Replica r of lineitem is the file
    ``lineitem_<r>.parquet`` (one batch); orders and customer hold all
    replicas, with 2% of the orders dropped so that some lines arrive
    without their order."""
    base, gen_s = base_tables(root, seed, sf)

    def build(con, out):
        _macros(con, seed)
        for t in ("lineitem", "orders", "customer"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{base}/{t}.parquet')")
        n_ord, n_cust = (con.execute(
            "SELECT (SELECT max(o_orderkey) + 1 FROM orders), "
            "(SELECT max(c_custkey) + 1 FROM customer)").fetchone())
        for r in range(k):
            _copy(con, (
                f"SELECT * REPLACE (l_orderkey + {r * n_ord} AS l_orderkey, "
                "round(l_extendedprice * (0.9 + 0.2 * u(hash(l_orderkey, "
                f"l_partkey, l_suppkey, l_linenumber), {100 + r})), 2) AS "
                "l_extendedprice) FROM lineitem "
                "ORDER BY l_orderkey, l_linenumber, l_partkey"),
                f"{out}/lineitem_{r}.parquet", row_group_rows)
        rep = f"range({k}) r(r)"
        _copy(con, (
            f"SELECT orders.* REPLACE (o_orderkey + r * {n_ord} AS "
            f"o_orderkey, o_custkey + r * {n_cust} AS o_custkey) "
            f"FROM orders, {rep} WHERE u(r * {n_ord} + o_orderkey, 92) >= 0.02 "
            "ORDER BY r, o_orderkey"),
            f"{out}/orders.parquet", row_group_rows)
        _copy(con, (
            f"SELECT customer.* REPLACE (c_custkey + r * {n_cust} AS "
            f"c_custkey) FROM customer, {rep} ORDER BY r, c_custkey"),
            f"{out}/customer.parquet", row_group_rows)

    out, etl_s = _cached(root, f"etl-sf{sf}-k{k}-s{seed}", build)
    return out, gen_s + etl_s


def main(argv: list[str]) -> None:
    """``datagen.py {base,etl} <root> <seed> <sf> <k>``: generate (or find
    cached) inputs and print ``[directory, seconds]`` as JSON."""
    kind, root, seed, sf, k = argv
    if kind == "etl":
        res = etl_tables(root, int(seed), float(sf), int(k))
    else:
        res = base_tables(root, int(seed), float(sf))
    print(json.dumps(list(res)))


if __name__ == "__main__":
    main(sys.argv[1:])
