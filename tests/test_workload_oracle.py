"""Every workload query hash-matches its DuckDB oracle at sf0.001 (the
same check the driver runs at sf0.01)."""

from __future__ import annotations

import pytest

from sec_financial_data_pipeline_using_snowflake_dbt_spark.workload import (
    ORACLES,
    QUERIES,
)

from .conftest import SF_SMOKE
from .oracle_harness import compare, duckdb_conn


@pytest.fixture(scope="module")
def oracle(request):
    con = duckdb_conn(SF_SMOKE)
    yield con
    con.close()


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_matches_oracle(spark, oracle, name):
    df = QUERIES[name](spark, SF_SMOKE)
    assert df.columns, f"{name}: empty schema"
    if name not in ORACLES:
        assert df.count() >= 0  # rows-only check
        return
    expected = oracle.execute(ORACLES[name]).df()
    problems = compare(df, expected, name)
    assert not problems, "\n".join(problems)


def test_bpe_oracle_survives_merge_exhaustion(spark):
    """ADVICE r6: when the vocabulary exhausts pairs before n_merges
    rounds, the unrolled oracle's per-round cross join against an EMPTY
    m{r} used to wipe every later CTE (0 rows out) while Spark's
    bpe_train stops early and bpe_encode_counts keeps all docs. The
    LEFT JOIN + CASE guard must pass the previous round through
    unchanged — both train and encode stay hash-equal on a corpus that
    runs dry after one merge."""
    import duckdb

    from sec_financial_data_pipeline_using_snowflake_dbt_spark.operators import (
        textops as TO,
    )
    from sec_financial_data_pipeline_using_snowflake_dbt_spark.workload.dataprep import (
        _bpe_encode_sql,
        _bpe_sql,
    )

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        "(VALUES (0,'ab'),(1,'ab ab'),(2,'b a ab')) t(doc_id, text)"
    )
    docs = spark.createDataFrame(
        [(0, "ab"), (1, "ab ab"), (2, "b a ab")], "doc_id long, text string"
    )
    merges_df = TO.bpe_train(docs, n_merges=10)
    assert not compare(merges_df, con.execute(_bpe_sql(10)).df(), "bpe_train")
    assert merges_df.count() == 1  # ran dry after ('a','b')

    merges = [(r.lhs, r.rhs) for r in merges_df.collect()]
    enc = TO.bpe_encode_counts(docs, merges)
    exp = con.execute(_bpe_encode_sql(10)).df()
    assert len(exp) == 3  # every doc survives the dry rounds
    assert not compare(enc, exp, "bpe_encode")
    con.close()


def test_quality_filter_empty_docs_match_oracle(spark):
    """ADVICE r6: zero-token documents have NULL ratio signals (0/0);
    the per-rule flags must coalesce to 0 like the oracle's CASE WHEN
    (an undefined signal does not fail its own rule) while fail_length
    still drops the doc."""
    import duckdb

    from sec_financial_data_pipeline_using_snowflake_dbt_spark.operators import (
        textops as TO,
    )
    from sec_financial_data_pipeline_using_snowflake_dbt_spark.workload import ORACLES

    rows = [(0, ""), (1, "   "), (2, "the a the quick brown fox"), (3, "a")]
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM (VALUES (0,''),(1,'   '),"
        "(2,'the a the quick brown fox'),(3,'a')) t(doc_id, text)"
    )
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = TO.quality_filter(docs)
    assert not compare(got, con.execute(ORACLES["q_quality_filter"]).df(),
                       "quality_filter empty docs")
    by_id = {r.doc_id: r for r in got.collect()}
    assert by_id[0].fail_length == 1 and by_id[0].passes == 0
    assert by_id[0].fail_mean_len == 0  # defined: undefined signal != fail
    con.close()


def test_corpus_stats_lang_col_param(spark):
    """ADVICE r6: corpus_stats takes lang_col like every other column
    parameter instead of silently requiring a 'lang' column."""
    from sec_financial_data_pipeline_using_snowflake_dbt_spark.operators import (
        textops as TO,
    )

    rows = [(0, "web", "en", "a b c"), (1, "web", "de", "a b"), (2, "book", "en", "x")]
    docs = spark.createDataFrame(
        rows, "doc_id long, source string, language string, text string"
    )
    out = {r.source: r for r in TO.corpus_stats(docs, lang_col="language").collect()}
    assert out["web"].n_langs == 2
    assert out["book"].n_langs == 1


# ---------------------------------------------------------------------------
# compare_agg: the engine-side aggregate compare for whale outputs
# (oracle_harness.compare_agg; r11 — the q_dedup_embedding sf10 arm's
# ~9e8-row output cannot be materialized, so both engines reduce to
# (count, canonical row-checksum) and only two scalars cross the gateway).
# ---------------------------------------------------------------------------
def _agg_duck(rows_sql: str):
    import duckdb

    con = duckdb.connect()
    con.execute(f"CREATE VIEW oq AS {rows_sql}")
    return con


def test_compare_agg_matches_on_equal_results(spark):
    from .oracle_harness import compare_agg

    df = spark.createDataFrame(
        [(1, 2, 0.351), (3, 4, 0.5), (5, None, -0.25)],
        "id_a bigint, id_b bigint, cos double",
    )
    con = _agg_duck(
        "SELECT * FROM (VALUES (CAST(3 AS BIGINT), CAST(4 AS BIGINT), CAST(0.5 AS DOUBLE)), "
        "(5, NULL, -0.25), (1, 2, 0.351)) t(id_a, id_b, cos)"
    )
    assert compare_agg(df, con, "SELECT * FROM oq", "t_agg") == []


def test_compare_agg_detects_value_and_count_mismatch(spark):
    from .oracle_harness import compare_agg

    df = spark.createDataFrame(
        [(1, 2, 0.351), (3, 4, 0.5)], "id_a bigint, id_b bigint, cos double"
    )
    con = _agg_duck(
        "SELECT * FROM (VALUES (CAST(1 AS BIGINT), CAST(2 AS BIGINT), CAST(0.352 AS DOUBLE)), "
        "(3, 4, 0.5)) t(id_a, id_b, cos)"
    )
    probs = compare_agg(df, con, "SELECT * FROM oq", "t_agg")
    assert probs and "checksum" in probs[0]
    probs = compare_agg(
        df, con, "SELECT * FROM oq WHERE id_a = 3", "t_agg"
    )
    assert any("rowcount" in p for p in probs)


def test_compare_agg_is_order_independent_and_null_distinct(spark):
    """The checksum must not confuse NULL with the literal marker string
    in a neighboring column, and must ignore row order entirely."""
    from .oracle_harness import compare_agg

    df = spark.createDataFrame(
        [(None, "x"), (7, None)], "k bigint, s string"
    )
    con = _agg_duck(
        "SELECT * FROM (VALUES (CAST(7 AS BIGINT), CAST(NULL AS VARCHAR)), "
        "(NULL, 'x')) t(k, s)"
    )
    assert compare_agg(df, con, "SELECT * FROM oq", "t_agg") == []


def test_compare_agg_rejects_unsupported_dtype(spark):
    import pytest as _pytest

    from .oracle_harness import compare_agg

    df = spark.createDataFrame([(1,)], "v int").selectExpr(
        "CAST(v AS DECIMAL(10,2)) AS v"
    )
    con = _agg_duck("SELECT CAST(1.00 AS DECIMAL(10,2)) AS v")
    with _pytest.raises(RuntimeError, match="unsupported"):
        compare_agg(df, con, "SELECT * FROM oq", "t_agg")


def test_require_sql_surgery_guards():
    """ADVICE r10: the sampled-arm surgery guards must survive python -O
    (RuntimeError, not assert) and catch both a no-op replace and a
    drifted full oracle where the anchor lands a second time."""
    import pytest as _pytest

    from sec_financial_data_pipeline_using_snowflake_dbt_spark.workload.common import (
        require_sql_surgery,
    )

    assert require_sql_surgery("a frag b", "orig", "x", "frag") == "a frag b"
    with _pytest.raises(RuntimeError, match="no-op"):
        require_sql_surgery("same", "same", "x", "frag")
    with _pytest.raises(RuntimeError, match="occurrence"):
        require_sql_surgery("a frag b frag", "orig", "x", "frag")
