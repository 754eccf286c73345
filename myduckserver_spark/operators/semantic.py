"""Semantic (model-powered) operators: classify / extract / filter over
text columns with the optimizations that make them affordable at scale.

Follows the logical-optimization playbook of "Logical and Physical
Optimizations for SQL Query Execution over Large Language Models"
(SIGMOD 2025, PAPERS.md): the expensive part of a semantic operator is
model inference, so the engine's job is to call the model as few times
as possible —

1. **Prompt dedup**: inference runs once per DISTINCT prompt, then the
   results join back to all carrying rows (corpora are heavily
   duplicated; dedup-before-inference is the single biggest saving).
2. **Persistent inference cache**: a catalog table keyed by prompt
   fingerprint; re-running a pipeline (or a new batch sharing prompts
   with an old one) infers only the cache misses — the same
   store-append pattern as operators/incdedup.py.
3. **Arrow-batched invocation**: the model is called through
   mapInPandas, whole batches per call, never per row.

No model ships in this container, so the default `model_fn` is a
DETERMINISTIC STUB (md5-derived label + echo extraction) — the Spark
plumbing (dedup, cache, batching, join-back) is the real, tested part;
swap `model_fn` for a real endpoint call in production.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from myduckserver_spark.frames import local_frame

_CACHE_SCHEMA = "prompt_fp string, response string"


def stub_model(prompts: pd.Series) -> pd.Series:
    """Deterministic fake model: 'label:<md5-bucket>' — stable across
    runs/engines so tests can assert exact results."""
    import hashlib

    def one(p: str) -> str:
        h = int(hashlib.md5(p.encode()).hexdigest()[:8], 16)
        return f"label:{h % 4}"

    return prompts.map(one)


def semantic_map(
    df: DataFrame,
    prompt_col: str,
    out_col: str = "response",
    model_fn: Callable[[pd.Series], pd.Series] = stub_model,
    catalog=None,
    cache_name: str = "__sem_cache",
    batch_size: int = 64,
) -> DataFrame:
    """Attach `out_col` = model(prompt) to every row, inferring once
    per distinct prompt and consulting/updating the persistent cache
    when a catalog is given. Returns df + out_col."""
    distinct = df.select(
        F.col(prompt_col).alias("__p"),
        F.md5(F.col(prompt_col)).alias("prompt_fp"),
    ).distinct()

    cached = None
    if catalog is not None:
        t = catalog.table(cache_name)
        cached = (
            t.read()
            if t.exists()
            else local_frame(catalog.spark, [], _CACHE_SCHEMA)
        )
        misses = distinct.join(cached, "prompt_fp", "left_anti")
    else:
        misses = distinct

    def infer(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            for i in range(0, len(b), batch_size):
                chunk = b.iloc[i : i + batch_size]
                yield pd.DataFrame(
                    {
                        "prompt_fp": chunk["prompt_fp"],
                        "response": model_fn(chunk["__p"]),
                    }
                )

    fresh = misses.mapInPandas(infer, _CACHE_SCHEMA)

    if catalog is not None:
        new_rows = fresh  # materialized by the overwrite below
        catalog.table(cache_name).overwrite(cached.unionByName(new_rows))
        answers = catalog.table(cache_name).read()
    else:
        answers = fresh

    return (
        df.withColumn("prompt_fp", F.md5(F.col(prompt_col)))
        .join(answers.withColumnRenamed("response", out_col), "prompt_fp")
        .drop("prompt_fp")
    )


def semantic_filter(
    df: DataFrame,
    prompt_col: str,
    keep_label: str,
    model_fn: Callable[[pd.Series], pd.Series] = stub_model,
    catalog=None,
    cache_name: str = "__sem_cache",
) -> DataFrame:
    """Keep rows the model labels `keep_label` (semantic WHERE)."""
    out = semantic_map(
        df, prompt_col, "__sem_label", model_fn, catalog, cache_name
    )
    return out.filter(F.col("__sem_label") == keep_label).drop("__sem_label")
