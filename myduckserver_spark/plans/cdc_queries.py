"""Oracle-gate entries for the CDC condense/apply operator.

A deterministic CDC delta is synthesized from `orders` (the gate only
provides read-only tables), run through the REAL operators in
operators/cdc.py, and checked against a window-function SQL oracle
expressing the reference semantics (delta/controller.go:654-697).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from myduckserver_spark.frames import local_frame
from myduckserver_spark.operators.cdc import apply_cdc, condense
from myduckserver_spark.plans.registry import register
from myduckserver_spark.tables import load_table

_DELTA_SQL = """
        SELECT o_orderkey % 997 AS pk,
               'g0' AS txn_group,
               o_orderkey AS txn_seq,
               CAST(0 AS BIGINT) AS txn_stmt,
               CAST(o_orderkey % 3 AS TINYINT) AS action,
               o_totalprice AS val
        FROM orders
"""


def _synth_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return orders.select(
        (F.col("o_orderkey") % 997).alias("pk"),
        F.lit("g0").alias("txn_group"),
        F.col("o_orderkey").alias("txn_seq"),
        F.lit(0).cast("long").alias("txn_stmt"),
        (F.col("o_orderkey") % 3).cast("tinyint").alias("action"),
        F.col("o_totalprice").alias("val"),
    )


@register(
    "cdc_condense",
    oracle=f"""
    WITH delta AS ({_DELTA_SQL}),
    ranked AS (
        SELECT pk, action, val,
               ROW_NUMBER() OVER (
                   PARTITION BY pk
                   ORDER BY txn_group DESC, txn_seq DESC, txn_stmt DESC,
                            action DESC
               ) AS rn
        FROM delta
    )
    SELECT pk, CAST(action AS INT) AS action, CAST(val AS DOUBLE) AS val
    FROM ranked WHERE rn = 1
    ORDER BY pk
    """,
    tags=("cdc", "condense"),
)
def cdc_condense(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-writer-wins condense of a synthetic CDC batch.

    Runs the real operators.cdc.condense (max_by over the txn-order
    struct); the oracle states the same semantics as a window query.
    """
    delta = _synth_delta(spark, sf_dir)
    net = condense(delta, ["pk"])
    return net.select(
        "pk",
        F.col("action").cast("int").alias("action"),
        F.col("val").cast("double").alias("val"),
    ).orderBy("pk")


@register(
    "cdc_apply",
    oracle=f"""
    WITH base AS (SELECT c_custkey AS pk, c_acctbal AS val FROM customer),
    delta AS ({_DELTA_SQL.replace("o_orderkey % 997", "o_custkey")}),
    ranked AS (
        SELECT pk, action, val,
               ROW_NUMBER() OVER (
                   PARTITION BY pk
                   ORDER BY txn_group DESC, txn_seq DESC, txn_stmt DESC,
                            action DESC
               ) AS rn
        FROM delta
    ),
    net AS (SELECT pk, action, val FROM ranked WHERE rn = 1)
    SELECT pk, CAST(val AS DOUBLE) AS val FROM base
    WHERE pk NOT IN (SELECT pk FROM net)
    UNION ALL
    SELECT pk, CAST(val AS DOUBLE) AS val FROM net WHERE action <> 0
    ORDER BY pk
    """,
    tags=("cdc", "merge", "upsert"),
)
def cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full CDC apply: base snapshot + synthetic batch → final state.

    Runs the real operators.cdc.apply_cdc (condense → anti-join on
    touched keys → union of survivors); the oracle is the equivalent
    NOT IN / UNION ALL formulation. Scale: one shuffle keyed on pk.
    """
    base = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("pk"), F.col("c_acctbal").alias("val")
    )
    orders = load_table(spark, sf_dir, "orders")
    delta = orders.select(
        F.col("o_custkey").alias("pk"),
        F.lit("g0").alias("txn_group"),
        F.col("o_orderkey").alias("txn_seq"),
        F.lit(0).cast("long").alias("txn_stmt"),
        (F.col("o_orderkey") % 3).cast("tinyint").alias("action"),
        F.col("o_totalprice").alias("val"),
    )
    out = apply_cdc(base, delta, ["pk"])
    return out.select("pk", F.col("val").cast("double").alias("val")).orderBy("pk")


@register(
    "cdc_multi_table",
    oracle=f"""
    WITH base AS (SELECT c_custkey AS pk, c_acctbal AS val FROM customer),
    delta AS ({_DELTA_SQL.replace("o_orderkey % 997", "o_custkey")}),
    ranked AS (
        SELECT pk, action, val,
               ROW_NUMBER() OVER (
                   PARTITION BY pk
                   ORDER BY txn_group DESC, txn_seq DESC, txn_stmt DESC,
                            action DESC
               ) AS rn
        FROM delta
    ),
    net AS (SELECT pk, action, val FROM ranked WHERE rn = 1),
    acct AS (
        SELECT pk, CAST(val AS DOUBLE) AS val FROM base
        WHERE pk NOT IN (SELECT pk FROM net)
        UNION ALL
        SELECT pk, CAST(val AS DOUBLE) AS val FROM net WHERE action <> 0
    ),
    hist AS (
        SELECT CAST(0 AS BIGINT) AS pk, CAST(0.0 AS DOUBLE) AS val
        UNION ALL
        SELECT o_orderkey AS pk, CAST(o_totalprice AS DOUBLE) AS val
        FROM orders WHERE o_orderkey % 5 = 0
    )
    SELECT 'acct' AS tbl, pk, val FROM acct
    UNION ALL
    SELECT 'hist' AS tbl, pk, val FROM hist
    ORDER BY tbl, pk
    """,
    tags=("cdc", "atomic", "multi-table", "exactly-once"),
)
def cdc_multi_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One replication flush spanning TWO tables committed as ONE
    atomic catalog transaction (Catalog.merge_batch_multi: prepared
    snapshots + a redo-journaled commit of N log entries — the
    reference applies a whole flush in a single DuckDB transaction,
    delta/controller.go:75-190, position included,
    binlog_replica_applier.go:786-812).

    Exactly-once is made observable: the same txn version is
    re-delivered with poisoned values (val*0); a broken dedupe would
    zero the balances and fail the hash gate. Both tables' final
    states return as one tagged union read from versioned storage.
    """
    import tempfile

    from myduckserver_spark.catalog import Catalog

    cat = Catalog(spark, tempfile.mkdtemp(prefix="cdc_multi_gate_"))
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    cat.create_table("acct", cust.select(
        F.col("c_custkey").alias("pk"), F.col("c_acctbal").alias("val")))
    cat.create_table(
        "hist", local_frame(spark, [(0, 0.0)], "pk long, val double"))

    acct_delta = orders.select(
        F.col("o_custkey").alias("pk"),
        F.lit("g0").alias("txn_group"),
        F.col("o_orderkey").alias("txn_seq"),
        F.lit(0).cast("long").alias("txn_stmt"),
        (F.col("o_orderkey") % 3).cast("tinyint").alias("action"),
        F.col("o_totalprice").alias("val"),
    )
    hist_delta = orders.filter(F.col("o_orderkey") % 5 == 0).select(
        F.col("o_orderkey").alias("pk"),
        F.lit("g0").alias("txn_group"),
        F.col("o_orderkey").alias("txn_seq"),
        F.lit(0).cast("long").alias("txn_stmt"),
        F.lit(2).cast("tinyint").alias("action"),
        F.col("o_totalprice").alias("val"),
    )
    applied = cat.merge_batch_multi(
        [("acct", acct_delta, ["pk"]), ("hist", hist_delta, ["pk"])],
        txn_app_id="gate", txn_version=1,
    )
    assert applied
    # duplicate delivery of the SAME version: must no-op both tables
    poisoned = cat.merge_batch_multi(
        [("acct", acct_delta.withColumn("val", F.lit(0.0)), ["pk"]),
         ("hist", hist_delta.withColumn("val", F.lit(0.0)), ["pk"])],
        txn_app_id="gate", txn_version=1,
    )
    assert not poisoned
    acct = cat.table("acct").read()
    hist = cat.table("hist").read()
    out = acct.select(F.lit("acct").alias("tbl"), "pk",
                      F.col("val").cast("double").alias("val")).unionByName(
        hist.select(F.lit("hist").alias("tbl"), "pk",
                    F.col("val").cast("double").alias("val")))
    return out.orderBy("tbl", "pk")
