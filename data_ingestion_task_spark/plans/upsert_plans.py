"""Oracle-gated roundtrip for the keyed parquet upsert store
(sources/upsert.py — the MERGE-style sink; see its module docstring
for layout, crash safety, and the partial-rewrite scale math).

Until round 6 the store was pytest-verified only. This query puts the
full MERGE contract under the driver's DuckDB gate: build a base
snapshot, merge an overlapping delta (last-writer-wins per key), read
the store back, and report a deterministic key slice. The oracle
reconstructs the same final state relationally — delta rows plus the
anti-joined remainder of the base — so a store that dropped a bucket,
resurrected an overwritten row, or double-applied the delta hash-
mismatches.

Determinism across repeated runs: the store root is deleted and
rebuilt every call. Key-overlap alone (the delta's even keys are a
subset of the base's ``% 4 != 3`` keys, so merge(base) overwrites
every key a previous run wrote) is NOT enough — the driver
regenerates the testdata between rounds at the SAME path, and a
store keyed only by md5(sf_dir) would carry ghost keys from the old
dataset through the anti-join side of every later merge, poisoning
oracle parity forever (round-6 review finding). The md5(sf_dir) tag
still keeps two datasets from sharing a root; the per-call rebuild
makes the query a pure function of the current table bytes. Writes
land under the session's warehouse dir like the bucketed tables.

Scale: merge() rewrites only the buckets the delta touches;
``read()`` is a plain partitioned-parquet scan (``bucket`` prunes),
and the result filter/projection push into it. The driver-side
footprint is the store's ≤ n_buckets hit-bucket list — no data rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import load_table
from ..sources.upsert import KeyedParquetStore, fresh_store_root
from .registry import query

_N_BUCKETS = 8

_D_PRICE = "CAST(round(o_totalprice, 2) AS DECIMAL(18,2))"


@query(
    "upsert_merge_roundtrip",
    oracle=f"""
    WITH base AS (
      SELECT o_orderkey, o_orderstatus, {_D_PRICE} AS t
      FROM orders WHERE o_orderkey % 4 <> 3
    ),
    delta AS (
      SELECT o_orderkey, lower(o_orderstatus) AS o_orderstatus,
             CAST({_D_PRICE} * 2 AS DECIMAL(18,2)) AS t
      FROM orders WHERE o_orderkey % 2 = 0
    ),
    merged AS (
      SELECT * FROM delta
      UNION ALL
      SELECT b.* FROM base b
      WHERE NOT EXISTS (SELECT 1 FROM delta d
                        WHERE d.o_orderkey = b.o_orderkey)
    )
    SELECT o_orderkey, o_orderstatus, CAST(t AS DOUBLE) AS total
    FROM merged WHERE o_orderkey % 97 = 0 ORDER BY o_orderkey
    """,
)
def upsert_merge_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """base snapshot → MERGE overlapping delta → read back a key
    slice (module docstring). The returned frame reads the STORE'S
    parquet, not the input lineage — the gate checks bytes that went
    through the bucket-swap machinery."""
    orders = load_table(spark, sf_dir, "orders")
    price = F.round(F.col("o_totalprice"), 2).cast("decimal(18,2)")
    base = orders.filter(F.col("o_orderkey") % 4 != 3).select(
        "o_orderkey", "o_orderstatus", price.alias("t")
    )
    delta = orders.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey",
        F.lower("o_orderstatus").alias("o_orderstatus"),
        (price * 2).cast("decimal(18,2)").alias("t"),
    )
    store = KeyedParquetStore(
        spark,
        fresh_store_root(spark, "upsert_store", sf_dir),  # module docstring
        key="o_orderkey",
        n_buckets=_N_BUCKETS,
    )
    store.merge(base)
    store.merge(delta)
    return (
        store.read()
        .filter(F.col("o_orderkey") % 97 == 0)
        .select(
            "o_orderkey",
            "o_orderstatus",
            F.col("t").cast("double").alias("total"),
        )
        .orderBy("o_orderkey")
    )
