"""Differential tests: every registry entry with an oracle must match
DuckDB at sf=0.01 — the same gate the driver applies."""

from __future__ import annotations

import pytest

from trading212_etl_spark import registry

from .oracle_harness import compare, duckdb_conn

SF_CORRECTNESS = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def oracle_con():
    con = duckdb_conn(SF_CORRECTNESS)
    yield con
    con.close()


def all_oracle_names():
    return sorted(registry.ORACLES)


def _assert_matches_oracle(name, spark_df, oracle_con):
    rel = oracle_con.sql(registry.ORACLES[name])
    oracle_types = list(zip(rel.columns, rel.types))
    res = oracle_con.execute(registry.ORACLES[name])
    oracle_desc = res.description
    oracle_pdf = res.fetchdf()
    errs = compare(
        name,
        spark_df,
        oracle_pdf,
        oracle_desc=oracle_desc,
        oracle_types=oracle_types,
    )
    assert not errs, "\n".join(errs)


@pytest.mark.parametrize("name", all_oracle_names())
def test_oracle_parity(name, spark, oracle_con):
    spark_df = registry.QUERIES[name](spark, SF_CORRECTNESS)
    _assert_matches_oracle(name, spark_df, oracle_con)


@pytest.mark.parametrize("name", all_oracle_names())
def test_oracle_parity_at_scale_pins(name, spark, oracle_con, monkeypatch):
    """The at-scale arm of the scale-adaptive pin must match DuckDB
    too: with the ``is_heavy`` threshold patched to 0, every
    ``is_heavy`` call takes the pinned branch that only 100x-class
    corpora reach otherwise. The covered entries are found by
    recording ``is_heavy`` calls during the build, so an entry that
    starts using it is covered automatically; entries whose build
    never reaches it are skipped."""
    from trading212_etl_spark import partitioning

    calls = []
    real = partitioning.is_heavy

    def recording(df):
        calls.append(df)
        return real(df)

    monkeypatch.setattr(partitioning, "_FREEZE_AUTO_BYTES", 0)
    monkeypatch.setattr(partitioning, "is_heavy", recording)
    spark_df = registry.QUERIES[name](spark, SF_CORRECTNESS)
    if not calls:
        pytest.skip("build does not reach partitioning.is_heavy")
    _assert_matches_oracle(name, spark_df, oracle_con)


def test_every_query_runs_rows_only(spark):
    """Entries without an oracle still must run and return a DataFrame."""
    for name, fn in registry.QUERIES.items():
        if name in registry.ORACLES:
            continue
        df = fn(spark, SF_CORRECTNESS)
        assert df.count() >= 0, name


def test_harness_detects_mutations(spark, oracle_con):
    """Meta-test: the differential harness must actually FAIL on a
    value, row-count, and column-name mutation — a comparator that
    passes everything would silently green the whole suite."""
    from .oracle_harness import compare

    base_sql = (
        "SELECT 1 AS a, CAST(2.5 AS DOUBLE) AS b"
        " UNION ALL SELECT 2, CAST(3.5 AS DOUBLE)"
    )
    # Spark parses bare 2.5 as DECIMAL(2,1); emit the engine
    # convention (DOUBLE) like every registry entry does
    spark_df = spark.sql(
        "SELECT a, CAST(b AS DOUBLE) AS b FROM (" + base_sql + ")"
    )

    def oracle(sql):
        rel = oracle_con.sql(sql)
        types = list(zip(rel.columns, rel.types))
        res = oracle_con.execute(sql)
        return res.fetchdf(), res.description, types

    pdf, desc, types = oracle(base_sql)
    assert not compare("meta_ok", spark_df, pdf, oracle_desc=desc, oracle_types=types)

    pdf, desc, types = oracle(
        "SELECT 1 AS a, CAST(2.5 AS DOUBLE) AS b"
        " UNION ALL SELECT 2, CAST(3.6 AS DOUBLE)"
    )
    assert compare("meta_val", spark_df, pdf, oracle_desc=desc)

    pdf, desc, types = oracle("SELECT 1 AS a, CAST(2.5 AS DOUBLE) AS b")
    assert compare("meta_rows", spark_df, pdf, oracle_desc=desc)

    pdf, desc, types = oracle(
        "SELECT 1 AS a, CAST(2.5 AS DOUBLE) AS c"
        " UNION ALL SELECT 2, CAST(3.5 AS DOUBLE)"
    )
    assert compare("meta_cols", spark_df, pdf, oracle_desc=desc)

    # decimal-typed oracle output must trip the contract lint
    pdf, desc, types = oracle(
        "SELECT 1 AS a, CAST(2.5 AS DECIMAL(10,2)) AS b"
        " UNION ALL SELECT 2, CAST(3.5 AS DECIMAL(10,2))"
    )
    assert any(
        "DECIMAL" in e
        for e in compare(
            "meta_dec", spark_df, pdf, oracle_desc=desc, oracle_types=types
        )
    )


def test_harness_rejects_complex_columns(spark, oracle_con):
    """Meta-test for the complex-type lint + driver-sort mirror: an
    oracled entry emitting a raw array column MUST fail locally —
    the driver's pandas sort_values canonicalization crashes on list
    cells (the one red CORRECTNESS row of r4). A comparator that
    stringifies lists (the old harness) greens exactly the entries
    the driver reds."""
    from .oracle_harness import compare

    spark_df = spark.sql("SELECT 1 AS a, array(1, 2, 3) AS v")
    res = oracle_con.execute("SELECT 1 AS a, [1, 2, 3] AS v")
    pdf = res.fetchdf()
    errs = compare("meta_complex", spark_df, pdf)
    assert errs and any("complex type" in e for e in errs), errs

    # and the sort-canonicalization mirror itself must raise on raw
    # list cells even when the Spark schema lint is bypassed (e.g. an
    # oracle-side-only array) — prove the second line of defense.
    from .oracle_harness import _driver_sort_canon

    import pytest as _pytest

    with _pytest.raises(TypeError):
        _driver_sort_canon(pdf)


def test_no_complex_output_schemas(spark):
    """Schema lint over EVERY oracled registry entry: no Array/Map/
    Struct output columns (driver canonicalization contract). Schema
    inference only — no jobs run."""
    from .oracle_harness import complex_type_lint

    errs = []
    for name in sorted(registry.ORACLES):
        df = registry.QUERIES[name](spark, SF_CORRECTNESS)
        errs.extend(complex_type_lint(name, df))
    assert not errs, "\n".join(errs)


def test_no_vacuous_oracles(oracle_con):
    """Every oracle must return at least one row at sf0.01: a 0 == 0
    row comparison passes the differential gate while checking
    nothing (the round-3 lesson: a fiscal-calendar anchor past the
    corpus's date range and an exact-digest overlap matrix both
    passed vacuously for a while). Entries whose correct output is
    genuinely empty must register rows-only with an invariant test
    instead."""
    from trading212_etl_spark import registry

    empty = [
        name
        for name, sql in registry.ORACLES.items()
        if not oracle_con.execute(sql).fetchone()
    ]
    assert not empty, f"vacuous (zero-row) oracles: {empty}"
