"""Seeded generator for the catalog workload's tables.

Writes one parquet file per table with the schema `graft.Tables` reads
(a TPC-H-like star, an `events` stream and a `documents` corpus) for
the tables the catalog workload's queries read. Sizes at scale 1.0
match the sf0.1 layout: 600k lineitem rows, 150k orders, 100k events,
5k documents.
Every random value is a hash of (seed, row, column), so one seed always
gives the same files.

Every tenth document is a near-duplicate of the one before it (its last
word dropped) and every fiftieth an exact copy, so the dedup queries
find clusters to merge.
"""
import os

WORDS = ("a the key agg row scan slow fast table value part hash merge "
         "batch spark line sort window data column join small big customer "
         "query order stream group filter vector shard token index cache "
         "plan stage task node").split()


TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents")


def generate(con, out_dir, seed, scale=1.0, only=None):
    os.makedirs(out_dir, exist_ok=True)
    n_cust = int(15000 * scale)
    n_ord = int(150000 * scale)
    n_li = int(600000 * scale)
    n_ev = int(100000 * scale)
    n_doc = int(5000 * scale)
    s = int(seed)
    con.execute(f"CREATE OR REPLACE MACRO h(i, k) AS hash({s}, i, k)")
    con.execute("CREATE OR REPLACE MACRO u(i, k) AS (h(i, k) % 1000000000) / 1e9")
    words = "[" + ", ".join(f"'{w}'" for w in WORDS) + "]"
    tables = {
        "region": """SELECT r::INTEGER AS r_regionkey,
                            ['AFRICA','AMERICA','ASIA','EUROPE','MIDDLE EAST'][r + 1] AS r_name
                     FROM range(5) t(r)""",
        "nation": """SELECT n::INTEGER AS n_nationkey, 'NATION_' || n AS n_name,
                            (n % 5)::INTEGER AS n_regionkey
                     FROM range(25) t(n)""",
        "customer": f"""SELECT i AS c_custkey, 'Customer#' || lpad(i::VARCHAR, 9, '0') AS c_name,
                               (h(i, 1) % 25)::INTEGER AS c_nationkey,
                               round(u(i, 2) * 11000 - 1000, 2) AS c_acctbal,
                               ['AUTOMOBILE','BUILDING','FURNITURE','HOUSEHOLD','MACHINERY'][(h(i, 3) % 5)::INTEGER + 1] AS c_mktsegment
                        FROM range({n_cust}) t(i)""",
        "supplier": """SELECT i AS s_suppkey, 'Supplier#' || lpad(i::VARCHAR, 9, '0') AS s_name,
                              (h(i, 11) % 25)::INTEGER AS s_nationkey,
                              round(u(i, 12) * 10000, 2) AS s_acctbal
                       FROM range(1000) t(i)""",
        "part": f"""SELECT i AS p_partkey,
                           ['small','large','red','blue','green'][(h(i, 21) % 5)::INTEGER + 1] || ' ' ||
                           ['ring','widget','bolt','gear'][(h(i, 22) % 4)::INTEGER + 1] AS p_name,
                           'Brand#' || (h(i, 23) % 25)::INTEGER AS p_brand,
                           ['ECONOMY','STANDARD','PROMO','LARGE'][(h(i, 24) % 4)::INTEGER + 1] AS p_type,
                           (1 + h(i, 25) % 50)::INTEGER AS p_size,
                           round(900 + (i % 1000) / 10.0, 2) AS p_retailprice
                    FROM range(20000) t(i)""",
        "orders": f"""SELECT i AS o_orderkey, (h(i, 31) % {n_cust})::BIGINT AS o_custkey,
                             ['F','O','P'][(h(i, 32) % 3)::INTEGER + 1] AS o_orderstatus,
                             round(1000 + u(i, 33) * 500000, 2) AS o_totalprice,
                             TIMESTAMP '1992-01-01' + to_days((h(i, 34) % 2400)::INTEGER) AS o_orderdate,
                             ['1-URGENT','2-HIGH','3-MEDIUM','4-NOT SPECIFIED','5-LOW'][(h(i, 35) % 5)::INTEGER + 1] AS o_orderpriority
                      FROM range({n_ord}) t(i)""",
        "lineitem": f"""SELECT (h(i, 41) % {n_ord})::BIGINT AS l_orderkey,
                               (h(i, 42) % 20000)::BIGINT AS l_partkey,
                               (h(i, 43) % 1000)::BIGINT AS l_suppkey,
                               (1 + h(i, 44) % 7)::INTEGER AS l_linenumber,
                               (1 + h(i, 45) % 50)::DOUBLE AS l_quantity,
                               round(u(i, 46) * 100000, 2) AS l_extendedprice,
                               (h(i, 47) % 11) / 100.0 AS l_discount,
                               (h(i, 48) % 9) / 100.0 AS l_tax,
                               ['A','N','R'][(h(i, 49) % 3)::INTEGER + 1] AS l_returnflag,
                               ['O','F'][(h(i, 50) % 2)::INTEGER + 1] AS l_linestatus,
                               TIMESTAMP '1992-01-01' + to_days((h(i, 51) % 2500)::INTEGER) AS l_shipdate
                        FROM range({n_li}) t(i)""",
        "events": f"""SELECT i AS event_id,
                             TIMESTAMP '2024-01-01' + to_microseconds((i * 180000000 + h(i, 61) % 179000000)::BIGINT) AS ts,
                             (h(i, 62) % {n_cust})::BIGINT AS user_id,
                             ['click','view','purchase','signup','error'][(h(i, 63) % 5)::INTEGER + 1] AS event_type,
                             round(u(i, 64) * 20, 2) AS value,
                             '{{"k": ' || (h(i, 65) % 100)::INTEGER || '}}' AS props
                      FROM range({n_ev}) t(i)""",
        "documents": f"""SELECT i AS doc_id, text,
                                ['en','en','en','zh','de','fr','es'][(h(i, 71) % 7)::INTEGER + 1] AS lang,
                                'src' || (i % 20) AS source, length(text)::BIGINT AS n_chars
                         FROM (SELECT i, array_to_string(
                                   CASE WHEN i % 10 = 1 THEN w[1:len(w) - 1] ELSE w END, ' ') AS text
                               FROM (SELECT i, list_transform(range((20 + h(src, 72) % 70)::BIGINT),
                                         j -> {words}[(h(src, 1000 + j) % {len(WORDS)})::INTEGER + 1]) AS w
                                     FROM (SELECT i, CASE WHEN i % 10 = 1 THEN i - 1
                                                          WHEN i % 50 = 2 THEN i - 2
                                                          ELSE i END AS src
                                           FROM range({n_doc}) t(i))))""",
    }
    for name, sql in tables.items():
        if only is not None and name not in only:
            continue
        path = os.path.join(out_dir, f"{name}.parquet")
        con.execute(f"COPY ({sql}) TO '{path}' (FORMAT PARQUET)")
