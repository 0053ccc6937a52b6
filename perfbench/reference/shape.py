#!/usr/bin/env python3
"""Shape statistics of a directory of TPC-H-ish parquet tables.

The benchmark's input generator (perfbench/src/.../Gen.scala) takes its
parameters from these figures, measured on the project's reference tables
(sf0.01 and sf0.1) and committed beside this script. Running it on the
generator's own output gives the same figures for comparison:

    python3 perfbench/reference/shape.py DIR > shape.json
    python3 perfbench/reference/shape.py --compare REF.json GEN.json

Needs the duckdb Python module; the benchmark itself does not use it.
"""
import json
import sys

QUERIES = {
    # orders
    "orders.rows": "SELECT count(*) FROM orders",
    "orders.days": "SELECT count(DISTINCT o_orderdate) FROM orders",
    "orders.first_day": "SELECT CAST(min(o_orderdate) AS DATE)::VARCHAR FROM orders",
    "orders.last_day": "SELECT CAST(max(o_orderdate) AS DATE)::VARCHAR FROM orders",
    "orders.per_day_mean": """SELECT avg(n) FROM (SELECT count(*) n FROM orders
        GROUP BY o_orderdate)""",
    "orders.per_day_sd": """SELECT stddev_pop(n) FROM (SELECT count(*) n
        FROM orders GROUP BY o_orderdate)""",
    "orders.per_day_p5": """SELECT quantile_disc(n, 0.05) FROM (SELECT count(*) n
        FROM orders GROUP BY o_orderdate)""",
    "orders.per_day_p95": """SELECT quantile_disc(n, 0.95) FROM (SELECT count(*) n
        FROM orders GROUP BY o_orderdate)""",
    "orders.customers": "SELECT count(DISTINCT o_custkey) FROM orders",
    "orders.status_values": "SELECT count(DISTINCT o_orderstatus) FROM orders",
    "orders.status_F_share": """SELECT avg(CASE WHEN o_orderstatus = 'F'
        THEN 1 ELSE 0 END) FROM orders""",
    "orders.priorities": "SELECT count(DISTINCT o_orderpriority) FROM orders",
    "orders.totalprice_min": "SELECT min(o_totalprice) FROM orders",
    "orders.totalprice_mean": "SELECT avg(o_totalprice) FROM orders",
    "orders.totalprice_max": "SELECT max(o_totalprice) FROM orders",
    "orders.without_lines_share": """SELECT avg(CASE WHEN l.k IS NULL THEN 1 ELSE 0 END)
        FROM orders o LEFT JOIN (SELECT DISTINCT l_orderkey k FROM lineitem) l
        ON o.o_orderkey = l.k""",
    # lineitem
    "lineitem.rows": "SELECT count(*) FROM lineitem",
    "lineitem.per_order_mean": """SELECT avg(n) FROM (SELECT count(*) n FROM lineitem
        GROUP BY l_orderkey)""",
    "lineitem.per_order_sd": """SELECT stddev_pop(n) FROM (SELECT count(*) n
        FROM lineitem GROUP BY l_orderkey)""",
    "lineitem.per_order_max": """SELECT max(n) FROM (SELECT count(*) n FROM lineitem
        GROUP BY l_orderkey)""",
    "lineitem.linenumbers": "SELECT count(DISTINCT l_linenumber) FROM lineitem",
    "lineitem.dup_order_line_share": """SELECT 1 - count(*) / (SELECT count(*)
        FROM lineitem) FROM (SELECT DISTINCT l_orderkey, l_linenumber FROM lineitem)""",
    "lineitem.orphans": """SELECT count(*) FROM lineitem l ANTI JOIN orders o
        ON l.l_orderkey = o.o_orderkey""",
    "lineitem.parts_used": "SELECT count(DISTINCT l_partkey) FROM lineitem",
    "lineitem.per_part_sd": """SELECT stddev_pop(n) FROM (SELECT count(*) n
        FROM lineitem GROUP BY l_partkey)""",
    "lineitem.per_part_max": """SELECT max(n) FROM (SELECT count(*) n FROM lineitem
        GROUP BY l_partkey)""",
    "lineitem.suppliers": "SELECT count(DISTINCT l_suppkey) FROM lineitem",
    "lineitem.quantity_mean": "SELECT avg(l_quantity) FROM lineitem",
    "lineitem.quantity_max": "SELECT max(l_quantity) FROM lineitem",
    "lineitem.discount_mean": "SELECT avg(l_discount) FROM lineitem",
    "lineitem.discount_values": "SELECT count(DISTINCT l_discount) FROM lineitem",
    "lineitem.tax_mean": "SELECT avg(l_tax) FROM lineitem",
    "lineitem.tax_values": "SELECT count(DISTINCT l_tax) FROM lineitem",
    "lineitem.returned_share": """SELECT avg(CASE WHEN l_returnflag = 'R'
        THEN 1 ELSE 0 END) FROM lineitem""",
    "lineitem.flag_status_pairs": """SELECT count(*) FROM (SELECT DISTINCT
        l_returnflag, l_linestatus FROM lineitem)""",
    "lineitem.price_min": "SELECT min(l_extendedprice) FROM lineitem",
    "lineitem.price_mean": "SELECT avg(l_extendedprice) FROM lineitem",
    "lineitem.price_max": "SELECT max(l_extendedprice) FROM lineitem",
    "lineitem.price_quantity_corr": "SELECT corr(l_extendedprice, l_quantity) FROM lineitem",
    "lineitem.ship_first_day": "SELECT CAST(min(l_shipdate) AS DATE)::VARCHAR FROM lineitem",
    "lineitem.ship_last_day": "SELECT CAST(max(l_shipdate) AS DATE)::VARCHAR FROM lineitem",
    "lineitem.ship_lag_mean": """SELECT avg(datediff('day', o.o_orderdate,
        l.l_shipdate)) FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey""",
    # the co-purchase graph g1..g4 build (PageRank.copurchaseEdges)
    "copurchase.edges": """WITH li AS (SELECT DISTINCT l_orderkey ok, l_partkey pk
        FROM lineitem) SELECT count(*) FROM (SELECT DISTINCT a.pk, b.pk FROM li a
        JOIN li b ON a.ok = b.ok AND a.pk <> b.pk)""",
    "copurchase.nodes": """WITH li AS (SELECT DISTINCT l_orderkey ok, l_partkey pk
        FROM lineitem) SELECT count(DISTINCT a.pk) FROM li a JOIN li b
        ON a.ok = b.ok AND a.pk <> b.pk""",
    "copurchase.degree_max": """WITH li AS (SELECT DISTINCT l_orderkey ok,
        l_partkey pk FROM lineitem), e AS (SELECT DISTINCT a.pk s, b.pk d FROM li a
        JOIN li b ON a.ok = b.ok AND a.pk <> b.pk) SELECT max(n) FROM
        (SELECT count(*) n FROM e GROUP BY s)""",
    # part
    "part.rows": "SELECT count(*) FROM part",
    "part.names": "SELECT count(DISTINCT p_name) FROM part",
    "part.types": "SELECT count(DISTINCT p_type) FROM part",
    "part.brands": "SELECT count(DISTINCT p_brand) FROM part",
    "part.size_max": "SELECT max(p_size) FROM part",
    "part.retailprice_mean": "SELECT avg(p_retailprice) FROM part",
    # documents
    "documents.rows": "SELECT count(*) FROM documents",
    "documents.words_min": "SELECT min(len(string_split(text, ' '))) FROM documents",
    "documents.words_mean": "SELECT avg(len(string_split(text, ' '))) FROM documents",
    "documents.words_max": "SELECT max(len(string_split(text, ' '))) FROM documents",
    "documents.vocabulary": """SELECT count(DISTINCT w) FROM (SELECT
        unnest(string_split(text, ' ')) w FROM documents)""",
    "documents.dup_twin_share": """SELECT avg(CASE WHEN text LIKE '% dup'
        THEN 1 ELSE 0 END) FROM documents""",
    "documents.twins_of_a_doc": """SELECT count(*) FROM documents a JOIN documents b
        ON a.text = b.text || ' dup'""",
    "documents.exact_dup_texts": "SELECT count(*) - count(DISTINCT text) FROM documents",
    "documents.langs": "SELECT count(DISTINCT lang) FROM documents",
    "documents.en_share": "SELECT avg(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) FROM documents",
    "documents.sources": "SELECT count(DISTINCT source) FROM documents",
}


def measure(d):
    import duckdb
    con = duckdb.connect()
    for t in ("orders", "lineitem", "part", "documents"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{d}/{t}.parquet')")
    out = {}
    for k, sql in QUERIES.items():
        v = con.execute(sql).fetchone()[0]
        out[k] = round(float(v), 6) if isinstance(v, (int, float)) else v
    return out


def compare(ref_file, gen_file):
    ref, gen = (json.load(open(f)) for f in (ref_file, gen_file))
    print(f"{'statistic':38} {'reference':>16} {'generated':>16} {'diff':>8}")
    for k, r in ref.items():
        g = gen.get(k)
        diff = ""
        if isinstance(r, float) and isinstance(g, float) and r != 0:
            diff = f"{(g - r) / abs(r):+.1%}"
        print(f"{k:38} {r!s:>16} {g!s:>16} {diff:>8}")


def main():
    if len(sys.argv) == 4 and sys.argv[1] == "--compare":
        compare(sys.argv[2], sys.argv[3])
    elif len(sys.argv) == 2:
        print(json.dumps(measure(sys.argv[1]), indent=1))
    else:
        sys.exit(__doc__)


if __name__ == "__main__":
    main()
