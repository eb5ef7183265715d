"""Keyed parquet upsert store — the MERGE-style sink SCALE.md §8
queues for stateful streaming outputs, built without a table format:
a hash-bucketed parquet layout where ``merge(updates)`` rewrites ONLY
the buckets containing the incoming keys (last-writer-wins per key).

Layout: ``root/bucket=N/*.parquet`` with ``N = pmod(xxhash64(key),
n_buckets)`` and a tiny ``_store_meta.json`` manifest pinning (key,
n_buckets). Reading the root rediscovers ``bucket`` as a partition
column, so point lookups prune to one directory.

Merge semantics:
- Within a batch, rows are reduced to one per key first — via
  ``max_by(struct(cols), seq_col)`` when the caller names a sequence
  column, else ``dropDuplicates([key])`` (caller must then send
  unique keys per batch for determinism).
- Against the store: WITHOUT ``seq_col``, incoming keys replace
  stored rows (last-call-wins — the plain MERGE contract batch
  callers expect). WITH ``seq_col``, the stored row competes too:
  the kept row is max-by-sequence over {stored row, batch rows},
  stored row winning ties — so merging an OLDER snapshot of a key
  (a re-drain from a fresh checkpoint whose watermark dropped late
  events, an out-of-order backfill) can never regress a converged
  row. Unrelated keys in the same bucket are carried over; untouched
  buckets are not read, not rewritten.
- ``foreachBatch`` replay safety: Structured Streaming replays only
  the most recent uncommitted batch after a crash, and re-merging the
  same batch is idempotent — PROVIDED the within-batch reduction is
  deterministic: unique keys per batch, or ``seq_col`` named so the
  winner is max-by-sequence rather than ``dropDuplicates``'s
  arbitrary row. With ``seq_col`` the guarantee extends past crash
  replay to FULL re-drains: any interleaving of old and new
  snapshots converges to the max-sequence row per key.

Crash safety: each touched bucket is swapped with the same two-rename
dance as ``compact.py`` (``bucket=N → bucket=N{OLD_SUFFIX}``, then
``tmp/bucket=N → bucket=N``); ``_repair()`` — run at every merge and
read — restores any bucket parked mid-swap and clears stale tmp/old
leftovers, so a crash at any point leaves every bucket at either its
old or its new contents. Renames are atomic on HDFS/local-fs; on S3A
they are copies — front S3 with a real table format instead.

Scale (100 TB): a micro-batch touching K distinct keys rewrites at
most min(K, n_buckets) buckets ≈ that fraction of the store, so the
partial rewrite only wins when K ≪ n_buckets — measured: 50 random
keys against a 64-bucket store hit 36 buckets (the birthday effect)
and the merge cost MORE than a full rewrite once per-bucket swap
overhead was paid. Size ``n_buckets`` to both constraints: ≥ ~10×
the typical per-batch distinct-key count (so a batch touches a small
fraction) AND ≈ store_bytes / 200 MB (so the carry-over scan of each
hit bucket stays one shuffle partition). The only driver-side
materialization is the ≤ n_buckets hit-bucket list.
"""

from __future__ import annotations

import hashlib
import json
import os
from collections.abc import Callable, Iterable
from typing import Any

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .compact import _hadoop_fs

META_FILE = "_store_meta.json"
TMP_SUFFIX = ".__upsert_tmp__"
OLD_SUFFIX = ".__upsert_old__"


def fresh_store_root(spark: SparkSession, name: str, sf_dir: str) -> str:
    """An EMPTY store root ``{warehouse}/{name}_{md5(sf_dir)[:8]}`` for a
    query that builds its store from scratch on every call. The tag
    keeps two datasets from sharing a root; the per-call delete keeps a
    dataset regenerated at the same path from inheriting ghost keys
    (``plans/upsert_plans.py`` docstring)."""
    wh = spark.conf.get("spark.sql.warehouse.dir").rstrip("/")
    tag = hashlib.md5(sf_dir.encode("utf-8")).hexdigest()[:8]
    root = f"{wh}/{name}_{tag}"
    # the delete is guarded to the query's own tagged directory
    assert root.endswith(f"/{name}_{tag}")
    _, fs, hpath = _hadoop_fs(spark, root)
    if fs.exists(hpath):
        fs.delete(hpath, True)
    return root


class KeyedParquetStore:
    """Hash-bucketed keyed parquet store with partial-rewrite MERGE."""

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        key: str = "doc_id",
        n_buckets: int = 64,
    ) -> None:
        self.spark = spark
        self.root = root.rstrip("/")
        self.key = key
        self.n_buckets = n_buckets
        self._check_or_write_meta()

    # -- manifest ---------------------------------------------------------

    def _meta_path(self) -> str:
        return f"{self.root}/{META_FILE}"

    def _read_meta(self) -> dict | None:
        jvm, fs, _ = _hadoop_fs(self.spark, self.root)
        P = jvm.org.apache.hadoop.fs.Path
        if not fs.exists(P(self._meta_path())):
            return None
        stream = fs.open(P(self._meta_path()))
        baos = jvm.java.io.ByteArrayOutputStream()
        try:
            jvm.org.apache.hadoop.io.IOUtils.copyBytes(stream, baos, 4096, False)
        finally:
            stream.close()
        return json.loads(bytes(baos.toByteArray()).decode("utf-8"))

    def _write_meta(self, meta: dict) -> None:
        jvm, fs, _ = _hadoop_fs(self.spark, self.root)
        P = jvm.org.apache.hadoop.fs.Path
        fs.mkdirs(P(self.root))
        out = fs.create(P(self._meta_path()), True)
        try:
            out.write(json.dumps(meta).encode("utf-8"))
        finally:
            out.close()

    def _check_or_write_meta(self) -> None:
        meta = self._read_meta()
        if meta is not None:
            if meta["key"] != self.key or meta["n_buckets"] != self.n_buckets:
                raise ValueError(
                    f"store at {self.root} was created with "
                    f"key={meta['key']!r}, n_buckets={meta['n_buckets']} — "
                    f"got key={self.key!r}, n_buckets={self.n_buckets}; "
                    "bucket assignment is layout, it cannot change in place"
                )
            self._key_type: str | None = meta.get("key_type")
            return
        self._key_type = None
        self._write_meta({"key": self.key, "n_buckets": self.n_buckets})

    def _pin_key_type(self, updates: DataFrame) -> None:
        """Bucket assignment hashes the key's RUNTIME Spark type
        (xxhash64 of int ≠ xxhash64 of bigint for the same value), so
        the first merge pins the key dtype in the manifest; later
        merges must match and lookups cast to it."""
        kt = updates.schema[self.key].dataType.simpleString()
        if self._key_type is None:
            self._key_type = kt
            self._write_meta(
                {"key": self.key, "n_buckets": self.n_buckets, "key_type": kt}
            )
        elif self._key_type != kt:
            raise ValueError(
                f"key column {self.key!r} arrived as {kt} but the store is "
                f"pinned to {self._key_type} — a different dtype hashes to "
                "different buckets; cast before merging"
            )

    # -- bucket plumbing --------------------------------------------------

    def _bucket_expr(self, key_col: Column) -> Column:
        return F.pmod(F.xxhash64(key_col), F.lit(self.n_buckets)).cast("int")

    def _bucket_dir(self, n: int) -> str:
        return f"{self.root}/bucket={n}"

    def _existing_buckets(self) -> list[int]:
        jvm, fs, hpath = _hadoop_fs(self.spark, self.root)
        if not fs.exists(hpath):
            return []
        out = []
        for st in fs.listStatus(hpath):
            name = st.getPath().getName()
            if st.isDirectory() and name.startswith("bucket=") and "__" not in name:
                out.append(int(name.split("=", 1)[1]))
        return sorted(out)

    def _repair(self) -> None:
        """Restore buckets parked mid-swap; clear stale tmp dirs."""
        jvm, fs, hpath = _hadoop_fs(self.spark, self.root)
        P = jvm.org.apache.hadoop.fs.Path
        if not fs.exists(hpath):
            return
        tmp_root = self.root + TMP_SUFFIX
        if fs.exists(P(tmp_root)):
            fs.delete(P(tmp_root), True)
        for st in fs.listStatus(hpath):
            name = st.getPath().getName()
            if not name.endswith(OLD_SUFFIX):
                continue
            live = name[: -len(OLD_SUFFIX)]
            live_path = P(f"{self.root}/{live}")
            if fs.exists(live_path):
                # swap completed, cleanup died: old copy is garbage
                fs.delete(st.getPath(), True)
            else:
                # crashed between the two renames: restore the original
                if not fs.rename(st.getPath(), live_path):
                    raise IOError(f"repair failed renaming {name} -> {live}")

    # -- API --------------------------------------------------------------

    def merge(self, updates: DataFrame, seq_col: str | None = None) -> dict:
        """Upsert ``updates`` by key. Returns an audit dict with the
        touched bucket count and row counts. See module docstring for
        the within-batch reduction and replay semantics.

        Audit semantics: ``rows_upserted`` is the batch's row count
        AFTER within-batch reduction (one row per key), and
        ``rows_carried`` is the final store rows in the hit buckets
        minus that. WITHOUT ``seq_col`` these are exact (every reduced
        batch row lands). WITH ``seq_col`` the stored row competes, so
        a batch row that LOSES to a newer stored row is still counted
        in ``rows_upserted`` — the audit measures batch size offered,
        not per-key win/loss; under sequenced replay a re-drained old
        snapshot therefore audits as "upserted" while changing nothing
        (the store-state guarantee, not the audit, is the contract)."""
        self._repair()
        if self.key not in updates.columns:
            raise ValueError(f"updates missing key column {self.key!r}")
        if "bucket" in updates.columns:
            raise ValueError(
                "updates must not carry a 'bucket' column — it is the "
                "store's partition column"
            )
        self._pin_key_type(updates)
        data_cols = [c for c in updates.columns if c != self.key]
        if seq_col is not None:
            reduced = (
                updates.groupBy(self.key)
                .agg(
                    F.max_by(
                        F.struct(*[F.col(c) for c in data_cols]), F.col(seq_col)
                    ).alias("_row")
                )
                .select(self.key, "_row.*")
            )
        else:
            reduced = updates.dropDuplicates([self.key])
        ub = reduced.withColumn("bucket", self._bucket_expr(F.col(self.key))).persist()
        out = None
        try:
            # one aggregate action: hit-bucket list + row count + NULL-key
            # guard (a NULL key never matches the left_anti equality join,
            # so it would duplicate forever — reject loudly instead)
            stats = ub.agg(
                F.collect_set("bucket").alias("hit"),
                F.count("*").alias("n"),
                F.sum(F.col(self.key).isNull().cast("int")).alias("nulls"),
            ).first()
            if (stats["nulls"] or 0) > 0:
                raise ValueError(
                    f"{stats['nulls']} row(s) with NULL {self.key!r} — a NULL "
                    "key has no MERGE identity; filter or key them upstream"
                )
            hit = sorted(stats["hit"])
            n_new = stats["n"]

            present = set(self._existing_buckets())
            existing_dirs = [self._bucket_dir(n) for n in hit if n in present]
            if existing_dirs and seq_col is not None:
                # Sequenced MERGE: the stored row competes with the batch
                # on seq_col (stored wins ties via the _stored tiebreaker,
                # so an equal-sequence replay is a no-op). An older
                # snapshot arriving after a newer stored row — fresh-
                # checkpoint re-drain with a real watermark, out-of-order
                # backfill — therefore cannot regress the store
                # (ADVICE r9 #1). One groupBy instead of the left_anti
                # join: same single exchange over the hit buckets.
                existing = self.spark.read.parquet(*existing_dirs).drop("bucket")
                combined = ub.drop("bucket").withColumn(
                    "_stored", F.lit(0)
                ).unionByName(existing.withColumn("_stored", F.lit(1)))
                merged = (
                    combined.groupBy(self.key)
                    .agg(
                        F.max_by(
                            F.struct(*[F.col(c) for c in data_cols]),
                            F.struct(F.col(seq_col), F.col("_stored")),
                        ).alias("_row")
                    )
                    .select(self.key, "_row.*")
                )
                out = merged.withColumn("bucket", self._bucket_expr(F.col(self.key)))
            elif existing_dirs:
                existing = self.spark.read.parquet(*existing_dirs)
                keep = existing.join(ub.select(self.key), self.key, "left_anti")
                out = keep.withColumn(
                    "bucket", self._bucket_expr(F.col(self.key))
                ).unionByName(ub)
            else:
                out = ub

            tmp_root = self.root + TMP_SUFFIX
            # One shuffle partition per hit bucket (the docstring's sizing
            # math: a bucket ≈ 200 MB ≈ one task) so each merge lands ONE
            # file per bucket. Without this, partitionBy splits every
            # upstream task across every bucket — measured 426 files in an
            # 8-bucket store after two merges at sf0.1, and every later
            # merge/read pays the small-file tax re-scanning them.
            out = out.repartition(max(len(hit), 1), "bucket")
            out = out.persist()  # one pass feeds both the write and the audit count
            out.write.mode("overwrite").partitionBy("bucket").parquet(tmp_root)
            carried = out.count() - n_new

            jvm, fs, _ = _hadoop_fs(self.spark, self.root)
            P = jvm.org.apache.hadoop.fs.Path
            for n in hit:
                live = self._bucket_dir(n)
                old = live + OLD_SUFFIX
                staged = f"{tmp_root}/bucket={n}"
                if not fs.exists(P(staged)):
                    continue
                if fs.exists(P(live)):
                    if not fs.rename(P(live), P(old)):
                        raise IOError(f"upsert swap failed parking {live}")
                if not fs.rename(P(staged), P(live)):
                    raise IOError(f"upsert swap failed installing {live}")
                if fs.exists(P(old)):
                    fs.delete(P(old), True)
            fs.delete(P(tmp_root), True)
        finally:
            ub.unpersist()
            if out is not None:
                out.unpersist()
        return {
            "buckets_touched": len(hit),
            "rows_upserted": n_new,
            "rows_carried": carried,
        }

    def read(self) -> DataFrame:
        """The full store as a DataFrame (``bucket`` is a partition
        column — filters on it prune directories)."""
        self._repair()
        if not self._existing_buckets():
            raise FileNotFoundError(
                f"keyed store at {self.root} has no data yet — merge first"
            )
        return self.spark.read.parquet(self.root)

    def lookup(self, keys: Iterable[Any]) -> DataFrame:
        """Point lookups: compute the keys' buckets, read ONLY those
        directories, filter to the keys. Keys are cast to the dtype
        pinned at first merge so Python-literal type inference cannot
        land them in the wrong bucket. Like :meth:`read`, raises
        ``FileNotFoundError`` on a store that has never been merged
        into (there is no value schema to shape an empty result).
        An empty ``keys`` returns an empty frame with the store's
        schema (createDataFrame cannot infer a schema from zero
        rows, so this is short-circuited to a pruned-to-nothing
        read)."""
        self._repair()
        # Normalize once: a one-shot iterable (generator) would be
        # consumed by the emptiness guard and then silently yield zero
        # rows downstream (ADVICE r5 #3) — everything below reuses
        # this list.
        keys = list(keys)
        if not keys:
            return self.read().limit(0).drop("bucket")
        key_col = F.col(self.key)
        if self._key_type is not None:
            key_col = key_col.cast(self._key_type)
        kdf = self.spark.createDataFrame([(k,) for k in keys], [self.key]).withColumn(
            "bucket", self._bucket_expr(key_col)
        )
        hit = sorted({r["bucket"] for r in kdf.select("bucket").distinct().collect()})
        present = set(self._existing_buckets())
        if not present:
            raise FileNotFoundError(
                f"keyed store at {self.root} has no data yet — merge first"
            )
        dirs = [self._bucket_dir(n) for n in hit if n in present]
        if not dirs:
            return self.read().limit(0).drop("bucket")
        return self.spark.read.parquet(*dirs).filter(F.col(self.key).isin(keys))

    def read_for(self, keys_df: DataFrame) -> DataFrame:
        """Bucket-pruned read for a DataFrame-sized probe: compute the
        distinct buckets of ``keys_df``'s key column (one driver-side
        collect bounded by ``n_buckets`` — the same bound ``merge``'s
        hit-bucket list pays) and read ONLY those bucket directories.
        This is :meth:`lookup` generalized from driver-side key
        literals to a distributed batch: the join that follows sees a
        store side whose scan skipped every bucket the batch cannot
        hit, so a small delta against a 10B-row store reads hit-bucket
        bytes, not the full table. Keys are bucketed under the dtype
        pinned at first merge (a mismatched-dtype probe would hash to
        the wrong bucket silently — cast first, as with ``lookup``).
        Like :meth:`read`, raises ``FileNotFoundError`` on a
        never-merged store; a probe whose buckets are all absent
        returns an empty frame with the store's schema."""
        self._repair()
        if self.key not in keys_df.columns:
            raise ValueError(f"keys_df missing key column {self.key!r}")
        # Empty-store check BEFORE the probe collect: the probe fully
        # evaluates keys_df's lineage (for the near-dup judge, the whole
        # minhash/band stage), which a first-ever batch would pay just to
        # raise here (ADVICE r11 #1).
        present = set(self._existing_buckets())
        if not present:
            raise FileNotFoundError(
                f"keyed store at {self.root} has no data yet — merge first"
            )
        key_col = F.col(self.key)
        if self._key_type is not None:
            key_col = key_col.cast(self._key_type)
        # NULL keys fold into the same bounded collect as the bucket probe
        # (mirrors merge()'s null guard): a NULL key would silently hash
        # to a bucket, read as 'new', and only blow up inside the later
        # merge() — AFTER a caller's verdict-log append (ADVICE r11 #2).
        hit = sorted(
            r["b"]
            for r in keys_df.select(
                F.when(key_col.isNull(), F.lit(-1))
                .otherwise(self._bucket_expr(key_col))
                .alias("b")
            )
            .distinct()
            .collect()
        )
        if hit and hit[0] == -1:
            raise ValueError(
                f"NULL {self.key!r} in probe keys — a NULL key has no MERGE "
                "identity; filter or key upstream (same contract as merge())"
            )
        dirs = [self._bucket_dir(n) for n in hit if n in present]
        if not dirs:
            return self.read().limit(0).drop("bucket")
        return self.spark.read.parquet(*dirs)

    def foreach_batch_merger(
        self,
        transform: Callable[[DataFrame], DataFrame] | None = None,
        seq_col: str | None = None,
    ) -> Callable[[DataFrame, int], None]:
        """A ``foreachBatch`` function that MERGEs each micro-batch
        into the store (optionally through ``transform`` first) — the
        keyed-upsert sink for stateful streaming outputs. Pass
        ``seq_col`` whenever a source can emit the same key twice in
        one micro-batch: without it the within-batch reduction is
        ``dropDuplicates`` (arbitrary winner), and a checkpoint replay
        of that batch may pick a different row than the pre-crash run
        did."""

        def _merge(batch_df: DataFrame, batch_id: int) -> None:
            df = transform(batch_df) if transform is not None else batch_df
            self.merge(df, seq_col=seq_col)

        return _merge
