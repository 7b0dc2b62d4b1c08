"""Writes the ten parquet tables graft's declared queries read (`Tables`):
the star schema plus events, documents and embeddings, in the shape of
the project's DuckDB-written test corpora. Row counts are the sf0.1
corpus's scaled by sf/0.1. Every value is a hash of the row id and a
fixed salt, so the tables are identical on every run and the suites'
recorded result fingerprints (expected.tsv) stay valid.
"""
import os

import duckdb

VOCAB = ("a the key agg row scan slow fast table value part hash merge batch spark "
         "line sort window order data column join small big query customer stream "
         "group filter vector dup").split()


def write(out_dir, sf):
    def n(base):
        return max(1, round(base * sf / 0.1))

    cust, supp, part, orders = n(15000), n(1000), n(20000), n(150000)
    events, docs, embs = n(100000), n(5000), n(2000)
    con = duckdb.connect()
    con.execute("SET threads TO 2")

    def h(salt, m, col="i"):
        return f"CAST(hash({col} * 1000 + {salt}) % {m} AS BIGINT)"

    def pick(salt, values, col="i"):
        arr = "[" + ", ".join(f"'{v}'" for v in values) + "]"
        return f"{arr}[{h(salt, len(values), col)} + 1]"

    def save(name, sql):
        path = os.path.join(out_dir, f"{name}.parquet")
        con.execute(f"COPY ({sql}) TO '{path}' (FORMAT PARQUET)")

    def rng(count):
        return f"FROM range({count}) t(i)"

    save("region", f"""SELECT CAST(i AS INTEGER) AS r_regionkey,
        ['AFRICA', 'AMERICA', 'ASIA', 'EUROPE', 'MIDDLE EAST'][i + 1] AS r_name {rng(5)}""")
    save("nation", f"""SELECT CAST(i AS INTEGER) AS n_nationkey, 'NATION_' || i AS n_name,
        CAST(i % 5 AS INTEGER) AS n_regionkey {rng(25)}""")
    save("customer", f"""SELECT i AS c_custkey, printf('Customer#%09d', i) AS c_name,
        CAST({h(1, 25)} AS INTEGER) AS c_nationkey,
        round({h(2, 1100000)} / 100.0 - 999.99, 2) AS c_acctbal,
        {pick(3, ['MACHINERY', 'AUTOMOBILE', 'HOUSEHOLD', 'FURNITURE', 'BUILDING'])}
          AS c_mktsegment {rng(cust)}""")
    save("supplier", f"""SELECT i AS s_suppkey, printf('Supplier#%09d', i) AS s_name,
        CAST({h(4, 25)} AS INTEGER) AS s_nationkey,
        round({h(5, 1100000)} / 100.0 - 999.99, 2) AS s_acctbal {rng(supp)}""")
    save("part", f"""SELECT i AS p_partkey,
        {pick(6, ['large', 'small', 'hot', 'cold', 'blue', 'red', 'old', 'new'])} || ' ' ||
        {pick(7, ['ring', 'bolt', 'plate', 'gear', 'widget', 'nut', 'pipe', 'valve'])} AS p_name,
        'Brand#' || ({h(8, 25)} + 1) AS p_brand,
        {pick(9, ['LARGE', 'ECONOMY', 'STANDARD', 'SMALL', 'MEDIUM', 'PROMO'])} AS p_type,
        CAST({h(10, 50)} + 1 AS INTEGER) AS p_size,
        round(900 + (i % 1000) / 10.0, 2) AS p_retailprice {rng(part)}""")
    save("orders", f"""SELECT i AS o_orderkey, CAST({h(11, cust)} AS BIGINT) AS o_custkey,
        {pick(12, ['O', 'P', 'F'])} AS o_orderstatus,
        round(1001.91 + {h(13, 49899127)} / 100.0, 2) AS o_totalprice,
        TIMESTAMP '1995-01-01' + to_days(CAST({h(14, 2404)} AS INTEGER)) AS o_orderdate,
        {pick(15, ['1-URGENT', '2-HIGH', '3-MEDIUM', '4-NOT SPECIFIED', '5-LOW'])}
          AS o_orderpriority {rng(orders)}""")
    save("lineitem", f"""SELECT i // 4 AS l_orderkey, CAST({h(16, part)} AS BIGINT) AS l_partkey,
        CAST({h(18, supp)} AS BIGINT) AS l_suppkey, CAST(i % 4 + 1 AS INTEGER) AS l_linenumber,
        CAST({h(17, 50)} + 1 AS DOUBLE) AS l_quantity,
        round(({h(17, 50)} + 1) * (900 + ({h(16, part)} % 1000) / 10.0), 2) AS l_extendedprice,
        {h(19, 11)} / 100.0 AS l_discount, {h(20, 9)} / 100.0 AS l_tax,
        {pick(21, ['R', 'A', 'N'])} AS l_returnflag, {pick(22, ['O', 'F'])} AS l_linestatus,
        TIMESTAMP '1995-01-02' + to_days(CAST({h(23, 2500)} AS INTEGER)) AS l_shipdate
        {rng(orders * 4)}""")
    step = 30 * 86400 * 1000000 // events
    save("events", f"""SELECT i AS event_id,
        TIMESTAMP '2024-01-01' + to_microseconds(CAST(i * {step} + {h(24, step)} AS BIGINT)) AS ts,
        CAST({h(25, max(1, events // 67))} AS BIGINT) AS user_id,
        {pick(26, ['signup', 'click', 'error', 'view', 'purchase'])} AS event_type,
        round({h(27, 56022)} / 100.0, 2) AS value,
        '{{"k": ' || {h(28, 100)} || '}}' AS props {rng(events)}""")
    # every tenth document repeats its predecessor plus one word, so the
    # near-duplicate queries have pairs to find
    vocab = "[" + ", ".join(f"'{w}'" for w in VOCAB) + "]"
    save("documents", f"""WITH d AS (
          SELECT i, CASE WHEN i % 10 = 9 THEN i - 1 ELSE i END AS src {rng(docs)}),
        w AS (SELECT i, src, list_transform(range(8 + {h(29, 72, 'src')}),
                x -> {vocab}[CAST(hash(src * 1000 + x) % {len(VOCAB)} AS BIGINT) + 1]) AS ws FROM d)
        SELECT i AS doc_id,
          array_to_string(ws, ' ') || CASE WHEN i <> src THEN ' dup' ELSE '' END AS text,
          {pick(30, ['en', 'en', 'en', 'zh', 'de', 'es', 'fr'])} AS lang,
          'src' || (i % 20) AS source,
          CAST(length(array_to_string(ws, ' ') || CASE WHEN i <> src THEN ' dup' ELSE '' END)
            AS BIGINT) AS n_chars
        FROM w ORDER BY i""")
    save("embeddings", f"""SELECT i AS vec_id,
        CAST(list_transform(range(64), x -> sin({h(31, 10)} * 7 + x) * 0.2
          + (CAST(hash(i * 1000 + x) % 1000 AS BIGINT) / 1000.0 - 0.5) * 0.1) AS FLOAT[]) AS embedding,
        CAST({h(31, 10)} AS INTEGER) AS label {rng(embs)}""")
    con.close()
