"""Differential DML fuzz (write-path twin of test_differential_fuzz):
random INSERT/IGNORE/REPLACE/ON DUP/UPDATE/DELETE programs through the
Engine and through DuckDB must agree on per-statement error outcomes
and the final table state. The reference gets this coverage from the
GMS enginetest DML corpora (main_test.go TestInsertInto :840,
TestUpdate :948, TestDeleteFrom :989, TestReplaceInto :938) running on
DuckDB's constraint-enforcing storage."""

from __future__ import annotations

import random

import duckdb
import pytest

from myduckserver_spark import dmlgen
from myduckserver_spark.engine import Engine

N_SEQUENCES = 12  # CI slice; scripts/fuzz_dml.py runs the campaign
STMTS_PER_SEQ = 8
SEED = 20260815


@pytest.fixture(scope="module")
def eng(spark, tmp_path_factory):
    return Engine(spark, str(tmp_path_factory.mktemp("dml_fuzz_wh")))


@pytest.fixture(scope="module")
def duck():
    return duckdb.connect()


def test_dml_fuzz_corpus(eng, duck):
    rng = random.Random(SEED)
    failures = []
    for trial in range(N_SEQUENCES):
        table = f"fz{trial}"
        uniq = trial % 3 == 2   # every third: UNIQUE-index table
        multi = trial % 3 == 1  # every third: multi-table JOIN DML
        if multi:
            seq = dmlgen.gen_sequence_multi(rng, table,
                                            n_stmts=STMTS_PER_SEQ)
        else:
            seq = dmlgen.gen_sequence(rng, table, n_stmts=STMTS_PER_SEQ,
                                      with_unique=uniq)
        ok, detail = dmlgen.apply_pair(eng, duck, table, seq, uniq, multi)
        if not ok:
            small = dmlgen.shrink(eng, duck, table, seq, uniq, multi)
            failures.append((trial, detail, small))
    assert not failures, "\n".join(
        f"trial {t}: {d}\n  " + "\n  ".join(m for m, _ in s)
        for t, d, s in failures
    )


def test_dml_generator_is_deterministic():
    a = dmlgen.gen_sequence(random.Random(7), "t", 6)
    b = dmlgen.gen_sequence(random.Random(7), "t", 6)
    assert a == b


def test_on_dup_batch_vs_rowwise(eng):
    """MySQL defines a multi-row ON DUPLICATE batch as the sequential
    composition of its rows: the engine's single-row statements
    replayed row-by-row oracle the batch's chain walk — state AND
    summed affected-rows must agree."""
    rng = random.Random(SEED + 1)
    failures = []
    for trial in range(10):
        uniq = trial % 2 == 1
        seed, batch, singles = dmlgen.gen_on_dup_batch(
            rng, f"od{trial}", with_unique=uniq)
        ok, detail = dmlgen.apply_batch_vs_rowwise(
            eng, f"od{trial}", seed, batch, singles, with_unique=uniq)
        if not ok:
            failures.append((trial, uniq, seed, detail))
    assert not failures, "\n".join(
        f"trial {t} uniq={u}\n  seed: {s}\n  {d}" for t, u, s, d in failures
    )


def test_triggered_dml_fuzz(eng, duck):
    """Trigger-bearing tables under random DML (round 8): the engine
    runs real AFTER INSERT/UPDATE/DELETE audit triggers; DuckDB runs
    a per-statement emulation (VALUES / pre-image SELECTs). Base
    table AND audit trail must match — covers firing, row images,
    per-row multiplicity, and atomicity with PK enforcement."""
    rng = random.Random(SEED + 2)
    failures = []
    for trial in range(8):
        table = f"tz{trial}"
        seq = dmlgen.gen_sequence_triggered(rng, table,
                                            n_stmts=STMTS_PER_SEQ)
        ok, detail = dmlgen.apply_triggered_pair(eng, duck, table, seq)
        if not ok:
            failures.append((trial, detail,
                             [m for m, _d, _c in seq]))
    assert not failures, "\n".join(
        f"trial {t}: {d}\n  " + "\n  ".join(s) for t, d, s in failures
    )


def test_composite_pk_dml_fuzz(eng, duck):
    """Composite-PK tables under random DML (round 8): tuple-keyed
    conflict probes, ON DUPLICATE, REPLACE, and ORDER BY ... LIMIT
    row caps — DuckDB oracles LIMIT DML (which it lacks) via an
    injective key-packing IN-subquery over the same total order."""
    rng = random.Random(SEED + 3)
    failures = []
    for trial in range(8):
        table = f"ck{trial}"
        seq = dmlgen.gen_sequence_ck(rng, table, n_stmts=STMTS_PER_SEQ)
        ok, detail = dmlgen.apply_pair(eng, duck, table, seq, ck=True)
        if not ok:
            small = dmlgen.shrink(eng, duck, table, seq, ck=True)
            failures.append((trial, detail, small))
    assert not failures, "\n".join(
        f"trial {t}: {d}\n  " + "\n  ".join(m for m, _ in s)
        for t, d, s in failures
    )
