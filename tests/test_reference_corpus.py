"""A deterministic sample of the reference's own e2e SQL corpus, run
verbatim through BlazingContext vs DuckDB (the full sweep is
``scripts/reference_replay.py`` — 631/631 comparable queries match over
the derived-column-extended fixtures; this keeps a fast slice of it in
the regular gate so dialect-shim regressions surface immediately)."""

from __future__ import annotations

import os

import duckdb
import pytest

from pyblazing_spark.context import BlazingContext
from scripts.reference_replay import (
    NEGATIVE_TESTS,
    ORACLE_DIALECT_SKIP,
    SUITE_DIR,
    _compare,
    _patch_oracle_sql,
    load_corpus,
    oracle_translate,
    register_fixtures,
    runnable,
)

if not os.path.isdir(SUITE_DIR):
    pytest.skip(
        f"reference e2e corpus absent: {SUITE_DIR} does not exist",
        allow_module_level=True,
    )


def _sample():
    """Every 8th runnable, non-skip-listed query (deterministic)."""
    cand = [
        (s, t, q)
        for s, t, q in load_corpus()
        if runnable(q)
        and (s, t) not in ORACLE_DIALECT_SKIP
        and (s, t) not in NEGATIVE_TESTS
    ]
    return cand[::8]


@pytest.fixture(scope="module")
def corpus_env(spark, sf_dir):
    bc = BlazingContext(spark=spark)
    con = duckdb.connect()
    register_fixtures(bc, con, sf_dir)
    return bc, con


@pytest.mark.parametrize(
    "suite,test,sql", _sample(), ids=[f"{s}-{t}" for s, t, _ in _sample()]
)
def test_reference_query(corpus_env, suite, test, sql):
    bc, con = corpus_env
    # patch OUTSIDE the try: its matched-regex assertion must FAIL the
    # test on corpus drift, not be skipped as an oracle dialect gap
    oracle_sql = _patch_oracle_sql(suite, test, sql)
    try:
        theirs = con.execute(oracle_translate(oracle_sql)).df()
    except Exception:
        pytest.skip("oracle cannot run this dialect")
    ours = bc.sql(sql, eager=True)
    _compare(ours, theirs, tolerance=0.01)


def _negatives():
    """The corpus's intentional-error queries — ALWAYS in the gate
    (never subject to the 1-in-8 sampling), so the asserted-rejection
    behavior is CI-guarded, not only checked by full replay runs."""
    return [
        (s, t, q) for s, t, q in load_corpus() if (s, t) in NEGATIVE_TESTS
    ]


@pytest.mark.parametrize(
    "suite,test,sql", _negatives(), ids=[f"{s}-{t}" for s, t, _ in _negatives()]
)
def test_reference_negative_query_rejected(corpus_env, suite, test, sql):
    """The reference expects these queries to ERROR — so must we."""
    bc, _ = corpus_env
    with pytest.raises(Exception):
        bc.sql(sql, eager=True)


def test_all_negative_tests_present_in_corpus():
    """Corpus drift guard: both asserted-rejection queries must exist in
    the loaded corpus (a missing YAML would silently empty the
    parametrization above and the guard would vacuously pass)."""
    found = {(s, t) for s, t, _ in load_corpus()}
    assert NEGATIVE_TESTS <= found, NEGATIVE_TESTS - found
