"""Incremental dedup against a persisted fingerprint store.

At 100 TB you never re-shingle the whole corpus per ingest: each new
batch is checked against a STORE of fingerprints accumulated by every
previous batch, and only the survivors' fingerprints are appended.
This module implements that pattern over the versioned catalog
(catalog.ParquetTable), for both exact dedup (md5 fingerprints) and
MinHash-LSH near-dup (band signatures — the same LSH family as
operators/dedup.py, so batch-mode and incremental-mode agree on what
counts as a near-duplicate).

Scale story: the store is keyed exactly like the batch self-join (fp,
or (band, band_sig)), so the check is one left-anti/semi join per
batch — work proportional to the BATCH, never the corpus. Store
appends are snapshot overwrites of store ∪ new-fps; at real scale the
store becomes a bucketed table and the append a partition-wise union,
with identical semantics.

The reference has no incremental-dedup analog (this is a
beyond-reference training-data operator, SURVEY §2 'beyond' table).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from myduckserver_spark.frames import local_frame
from myduckserver_spark.operators.dedup import (
    lsh_bands,
    minhash_signatures,
)


def _store_read(catalog, store_name: str, schema: str) -> DataFrame:
    t = catalog.table(store_name)
    if t.exists():
        return t.read()
    return local_frame(catalog.spark, [], schema)


def exact_incremental(
    catalog,
    new_docs: DataFrame,
    store_name: str = "__dedup_fp_store",
    text_col: str = "text",
    id_col: str = "doc_id",
    commit: bool = True,
) -> DataFrame:
    """Exact incremental dedup: drop rows whose normalized-text md5 is
    already in the store OR duplicated within the batch (lowest id
    wins), then append the survivors' fingerprints. Returns survivors.
    """
    fp = F.md5(F.lower(F.trim(F.col(text_col)))).alias("fp")
    tagged = new_docs.withColumn("fp", fp)
    store = _store_read(catalog, store_name, "fp string")
    fresh = tagged.join(store, "fp", "left_anti")
    keep = (
        fresh.select("fp", id_col)
        .groupBy("fp")
        .agg(F.min(id_col).alias(id_col))
    )
    survivors = fresh.join(keep, [id_col, "fp"], "left_semi").drop("fp")
    if commit:
        new_fps = (
            tagged.select("fp").distinct().join(store, "fp", "left_anti")
        )
        catalog.table(store_name).overwrite(store.unionByName(new_fps))
    return survivors


def minhash_incremental(
    catalog,
    new_docs: DataFrame,
    store_name: str = "__dedup_band_store",
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 8,
    rows_per_band: int = 2,
    shingle_n: int = 3,
    commit: bool = True,
) -> DataFrame:
    """MinHash-LSH incremental near-dup: a new doc is dropped if ANY of
    its band signatures collides with the store (near-dup of an earlier
    batch) or with a surviving lower-id doc in the same batch. The
    survivors' bands are appended. Returns surviving rows.

    Same (bands, rows_per_band) geometry as the batch-mode LSH in
    operators/dedup.py — the two modes flag the same pairs.
    """
    sigs = minhash_signatures(
        new_docs, text_col, id_col, num_hashes, shingle_n
    )
    bands = lsh_bands(sigs, id_col, rows_per_band)  # (id, band, band_sig)
    store = _store_read(catalog, store_name, "band int, band_sig string")
    hit_old = (
        bands.join(store, ["band", "band_sig"], "left_semi")
        .select(id_col)
        .distinct()
    )
    in_batch = bands.alias("a").join(
        bands.alias("b"),
        (F.col("a.band") == F.col("b.band"))
        & (F.col("a.band_sig") == F.col("b.band_sig"))
        & (F.col(f"a.{id_col}") > F.col(f"b.{id_col}")),
    ).select(F.col(f"a.{id_col}").alias(id_col)).distinct()
    dropped = hit_old.unionByName(in_batch).distinct()
    survivors = new_docs.join(dropped, id_col, "left_anti")
    if commit:
        # ALL observed bands go in (kept and dropped docs alike), the
        # same policy exact_incremental applies to fingerprints: a
        # future doc similar to a dropped variant — but not to the
        # kept representative — must still be flagged.
        add = bands.select("band", "band_sig").distinct().join(
            store, ["band", "band_sig"], "left_anti"
        )
        catalog.table(store_name).overwrite(store.unionByName(add))
    return survivors


def span_incremental(
    catalog,
    new_docs: DataFrame,
    store_name: str = "__dedup_span_store",
    text_col: str = "text",
    id_col: str = "doc_id",
    span_words: int = 20,
    stride: int = 10,
    max_dup_fraction: float = 0.5,
    commit: bool = True,
) -> DataFrame:
    """Incremental exact-substring dedup: drop a new document when more
    than `max_dup_fraction` of its spans (operators/dedup.span_hashes —
    the Lee et al. 2022 memorization-prone unit) already exist in the
    span store accumulated by previous batches, then append the
    SURVIVORS' spans. Documents shorter than one span always survive
    (they have no spans to judge).

    Same store discipline as exact/minhash_incremental: the check is
    one span_hash-keyed semi join — work proportional to the batch's
    span count, never the corpus — and the store appends only the
    survivors' previously-unseen hashes.
    """
    from myduckserver_spark.operators.dedup import span_hashes

    spans = span_hashes(new_docs, text_col, id_col, span_words, stride)
    store = _store_read(catalog, store_name, "span_hash string")
    per_doc = (
        spans.join(
            store.withColumn("__seen", F.lit(1)), "span_hash", "left"
        )
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("__n"),
            F.sum(F.coalesce("__seen", F.lit(0))).alias("__dup"),
        )
        .filter(F.col("__dup") / F.col("__n") > max_dup_fraction)
        .select(id_col)
    )
    survivors = new_docs.join(per_doc, id_col, "left_anti")
    if commit:
        new_spans = (
            spans.join(per_doc, id_col, "left_anti")
            .select("span_hash")
            .distinct()
            .join(store, "span_hash", "left_anti")
        )
        catalog.table(store_name).overwrite(store.unionByName(new_spans))
    return survivors
