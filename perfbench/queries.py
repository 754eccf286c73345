"""The analytic query texts of the ``olap_read`` workload.

These are the registry oracle SQL texts (``plans/registry.py``) of the
nine headline queries that both the MySQL and the Postgres front door
accept. They are copied here so that a later change to the registry does
not silently change what the benchmark measures. The same text is sent
to the engine and to DuckDB, which computes the expected result.
"""

QUERIES: dict[str, str] = {
    "q1_pricing_summary": """
        SELECT l_returnflag, l_linestatus,
               CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_qty,
               CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_base_price,
               CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_disc_price,
               CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_charge,
               (CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,6))), 3) AS DOUBLE) / COUNT(*)) AS avg_qty,
               (CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,6))), 3) AS DOUBLE) / COUNT(*)) AS avg_price,
               (CAST(ROUND(SUM(CAST(l_discount AS DECIMAL(18,6))), 3) AS DOUBLE) / COUNT(*)) AS avg_disc,
               CAST(COUNT(*) AS BIGINT) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '2001-09-01 00:00:00'
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus
""",
    "q3_shipping_priority": """
        SELECT l_orderkey,
               CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))), 2) AS DOUBLE) AS revenue,
               CAST(o_orderdate AS TIMESTAMP) AS orderdate
        FROM customer
        JOIN orders   ON c_custkey = o_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
          AND l_shipdate  > TIMESTAMP '1998-03-15 00:00:00'
        GROUP BY l_orderkey, o_orderdate
        ORDER BY revenue DESC, l_orderkey
        LIMIT 10
""",
    "q5_local_supplier_volume": """
        SELECT n_name, CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))), 2) AS DOUBLE) AS revenue
        FROM customer
        JOIN orders   ON c_custkey = o_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        JOIN nation   ON s_nationkey = n_nationkey
        JOIN region   ON n_regionkey = r_regionkey
        WHERE r_name = 'ASIA'
          AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
        GROUP BY n_name
        ORDER BY revenue DESC, n_name
""",
    "q6_forecast_revenue": """
        SELECT CAST(ROUND(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(18,6))), 2)
                    AS DOUBLE) AS revenue,
               CAST(COUNT(*) AS BIGINT) AS n_rows
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
          AND l_discount >= 0.05 AND l_discount <= 0.07
          AND l_quantity < 24
""",
    "q10_returned_items": """
        SELECT c_custkey, c_name,
               CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))), 2) AS DOUBLE) AS revenue,
               CAST(c_acctbal AS DOUBLE) AS acctbal, n_name
        FROM customer
        JOIN orders   ON c_custkey = o_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        JOIN nation   ON c_nationkey = n_nationkey
        WHERE l_returnflag = 'R'
          AND o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
          AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
        GROUP BY c_custkey, c_name, c_acctbal, n_name
        ORDER BY revenue DESC, c_custkey
        LIMIT 20
""",
    "q13_customer_distribution": """
        SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
        FROM (
            SELECT c_custkey, CAST(COUNT(o_orderkey) AS BIGINT) AS c_count
            FROM customer LEFT JOIN orders ON c_custkey = o_custkey
                AND o_orderpriority <> '1-URGENT'
            GROUP BY c_custkey
        ) t
        GROUP BY c_count
        ORDER BY custdist DESC, c_count DESC
""",
    "q18_large_volume_orders": """
        SELECT c_custkey, o_orderkey, CAST(o_orderdate AS TIMESTAMP) AS orderdate,
               CAST(o_totalprice AS DOUBLE) AS totalprice,
               CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_qty
        FROM customer
        JOIN orders   ON c_custkey = o_custkey
        JOIN lineitem ON o_orderkey = l_orderkey
        WHERE o_orderkey IN (
            SELECT l_orderkey FROM lineitem
            GROUP BY l_orderkey
            HAVING SUM(CAST(l_quantity AS DECIMAL(18,6))) > 150
        )
        GROUP BY c_custkey, o_orderkey, o_orderdate, o_totalprice
        ORDER BY totalprice DESC, o_orderkey
        LIMIT 100
""",
    "w_top3_orders_per_customer": """
        SELECT o_custkey, o_orderkey, CAST(o_totalprice AS DOUBLE) AS totalprice, rn
        FROM (
            SELECT o_custkey, o_orderkey, o_totalprice,
                   CAST(ROW_NUMBER() OVER (
                       PARTITION BY o_custkey
                       ORDER BY o_totalprice DESC, o_orderkey
                   ) AS INT) AS rn
            FROM orders
        ) t
        WHERE rn <= 3
        ORDER BY o_custkey, rn
""",
    "dd_exact": """
        SELECT CAST(MIN(doc_id) AS BIGINT) AS keep_id,
               md5(lower(trim(text))) AS fp,
               CAST(COUNT(*) AS BIGINT) AS n_copies
        FROM documents
        GROUP BY md5(lower(trim(text)))
        ORDER BY keep_id
""",
}
