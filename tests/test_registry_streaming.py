from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sec_financial_data_pipeline_using_snowflake_dbt_spark.plans.registry import (
    sec_registry,
)
from sec_financial_data_pipeline_using_snowflake_dbt_spark.sources.tsv import (
    read_sec_quarter,
)
from sec_financial_data_pipeline_using_snowflake_dbt_spark.streaming import (
    incremental as INC,
)
from sec_financial_data_pipeline_using_snowflake_dbt_spark.workload import (
    common as COMMON,
)

from .sec_fixtures import generate_sec_quarter


@pytest.fixture(scope="module")
def fixture_dir(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("sec_reg"))
    generate_sec_quarter(d)
    return d


@pytest.fixture(scope="module")
def raw(spark, fixture_dir):
    return read_sec_quarter(spark, fixture_dir)


def test_registry_topology_and_run(spark, raw, tmp_path_factory):
    wh = str(tmp_path_factory.mktemp("warehouse"))
    reg = sec_registry()
    order = reg.order()
    assert order.index("stg_num") < order.index("fact_spine")
    assert order.index("fact_spine") < order.index("fct_balance_sheet")
    built = reg.run(spark, dict(raw), warehouse_dir=wh)
    assert built["fct_balance_sheet"].count() > 0
    assert built["fct_income_statement"].count() > 0
    assert built["financial_statements_json"].count() == raw["sub"].count()
    # table materializations landed in the warehouse and are re-readable
    assert spark.read.parquet(f"{wh}/fct_balance_sheet").count() > 0


def test_registry_rerun_after_relanding_is_fresh(spark, tmp_path):
    """A second run over a re-landed directory must rebuild its cached
    models from the new files, not keep the rows an earlier run cached
    under an equal plan."""
    import shutil

    land, fresh = str(tmp_path / "land"), str(tmp_path / "fresh")
    generate_sec_quarter(land)
    reg = sec_registry()
    first = reg.run(spark, dict(read_sec_quarter(spark, land)), str(tmp_path / "wh1"))
    n_before = first["stg_num"].count()
    with open(f"{land}/num.txt") as fh:
        head = fh.readlines()[: n_before // 3]
    with open(f"{land}/num.txt", "w") as fh:
        fh.writelines(head)
    shutil.copytree(land, fresh)
    rerun = reg.run(spark, dict(read_sec_quarter(spark, land)), str(tmp_path / "wh1"))
    want = reg.run(spark, dict(read_sec_quarter(spark, fresh)), str(tmp_path / "wh2"))
    for name in ("stg_num", "fact_spine", "fct_balance_sheet", "fct_income_statement"):
        assert rerun[name].count() == want[name].count(), name
    assert rerun["stg_num"].count() < n_before


def test_registry_select_subtree(spark, raw, tmp_path_factory):
    wh = str(tmp_path_factory.mktemp("warehouse2"))
    reg = sec_registry()
    built = reg.run(spark, dict(raw), warehouse_dir=wh, select=["dim_company"])
    assert "dim_company" in built
    assert "fct_balance_sheet" not in built


def test_registry_rejects_unknown_names(spark, raw):
    """A misspelt select name and a materialization no sink implements
    both raise, instead of building a partial DAG or a lazy view."""
    reg = sec_registry()
    with pytest.raises(KeyError, match="fct_balance_shet"):
        reg.run(spark, dict(raw), select=["fct_balance_shet"])
    reg.models["dim_date"].materialization = "tabel"
    with pytest.raises(ValueError, match="tabel"):
        reg.run(spark, dict(raw), select=["dim_date"])


def test_registry_runs_off_the_main_thread(spark):
    """A model that needs the session finds it from any thread: a plain
    ``threading.Thread`` has no thread-local active session, so the
    lookup must fall back to the process's one."""
    import threading

    out: dict = {}

    def build():
        try:
            out["n"] = sec_registry().run(spark, {}, select=["dim_date"])[
                "dim_date"
            ].count()
        except Exception as e:  # re-raised on the test's thread below
            out["error"] = e

    t = threading.Thread(target=build)
    t.start()
    t.join(timeout=300)
    assert not t.is_alive()
    if "error" in out:
        raise out["error"]
    assert out["n"] == 11323


def test_registry_lineage_artifact(tmp_path_factory):
    import json

    reg = sec_registry()
    lin = reg.lineage()
    # raw inputs are sources, not models
    assert set(lin["sources"]) == {"sub", "num", "tag", "pre"}
    assert lin["models"]["fct_balance_sheet"]["materialization"] == "table"
    assert lin["models"]["fct_balance_sheet"]["cluster_by"] == ["company_name"]
    # order is a valid topological sort of the declared deps
    pos = {n: i for i, n in enumerate(lin["order"])}
    for name, node in lin["models"].items():
        for d in node["deps"]:
            if d in pos and name in pos and d in lin["models"]:
                assert pos[d] < pos[name], (d, name)
    # emit + reread round-trip; DOT mentions every model
    out = str(tmp_path_factory.mktemp("docs"))
    paths = reg.emit_docs(out)
    assert json.load(open(paths["json"])) == lin
    dot = open(paths["dot"]).read()
    assert all(name in dot for name in lin["models"])


def test_incremental_filter(spark, raw):
    sub = raw["sub"]
    old = sub.filter(F.col("filed") < "2024-01-20")
    delta = INC.incremental_filter(sub, "filed", old)
    wm = old.agg(F.max("filed")).first()[0]
    assert delta.agg(F.min("filed")).first()[0] >= wm
    assert INC.incremental_filter(sub, "filed", None).count() == sub.count()


def test_events_ts_normalized_to_timestamp(spark):
    """read_events and events_stream must surface ts as TimestampType on
    EVERY runtime: pre-4.1 readers hand normalize_event_ts a bigint,
    4.1+ readers a timestamp_ntz (which streaming watermarks reject) —
    both normalize to the same epoch-equivalent timestamp (r5)."""
    from tests.conftest import SF_SMOKE

    batch = COMMON.read_events(spark, SF_SMOKE)
    assert dict(batch.dtypes)["ts"] == "timestamp"
    stream = COMMON.events_stream(spark, SF_SMOKE)
    assert dict(stream.dtypes)["ts"] == "timestamp"
    # the bigint arm is epoch-identical to the native read
    raw = spark.read.parquet(f"{SF_SMOKE}/events.parquet")
    if dict(raw.dtypes)["ts"] == "timestamp_ntz":
        via_long = COMMON.normalize_event_ts(
            raw.withColumn(
                "ts",
                (F.unix_micros(F.col("ts").cast("timestamp")) * 1000).cast("long"),
            )
        )
        mism = (
            via_long.select("event_id", F.col("ts").alias("t2"))
            .join(batch.select("event_id", "ts"), "event_id")
            .filter(F.col("ts") != F.col("t2"))
            .count()
        )
        assert mism == 0


def test_narrow_corpus_ops_run_on_streams(spark):
    """The narrow corpus operators (quality filter, PII scrub, C4 line
    clean, chunking) are stateless flat maps, so the SAME operator
    code must run unchanged on a readStream source and produce
    batch-identical rows in one availableNow pass — the property that
    makes the cleaning stages deployable as a streaming ingest
    pipeline with no separate implementation."""
    from sec_financial_data_pipeline_using_snowflake_dbt_spark.operators import (
        textops as TO,
    )
    from tests.conftest import SF_SMOKE

    docs_schema = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").schema
    stream = (
        spark.readStream.schema(docs_schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(SF_SMOKE)
    )
    batch_docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")

    for i, op in enumerate(
        (
            TO.quality_filter,
            TO.scrub_pii,
            TO.c4_line_clean,
            TO.chunk_documents,
            TO.text_quality,
            TO.language_id,
            TO.fingerprints,
        )
    ):
        name = f"stream_narrow_{i}"
        q = (
            op(stream)
            .writeStream.outputMode("append")
            .format("memory")
            .queryName(name)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        streamed = spark.table(name)
        want = op(batch_docs)
        assert streamed.schema == want.schema, op.__name__
        assert (
            streamed.exceptAll(want).count() == 0
            and want.exceptAll(streamed).count() == 0
        ), op.__name__


def test_classifier_and_bloom_probe_run_on_streams(spark):
    """Streaming-ingest shapes for the new curation stages: the
    hashed-linear classifier's derived arm is a stateless narrow fold,
    so the SAME code runs unchanged on a readStream source; and
    bloom_dedup's bitmap probe runs on a STREAMING new batch against a
    STATIC seen corpus — the filter build (bounded distinct + collect)
    runs on the static side at plan time, the probe is a narrow fold,
    and the exact-truth check is a stream-static broadcast join. Both
    must be batch-identical in one availableNow pass."""
    from sec_financial_data_pipeline_using_snowflake_dbt_spark.operators import (
        dedup as DD,
        textops as TO,
    )
    from tests.conftest import SF_SMOKE

    docs_schema = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").schema
    stream = (
        spark.readStream.schema(docs_schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(SF_SMOKE)
    )
    batch_docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    existing = batch_docs.filter("doc_id < 400")

    cases = [
        ("stream_classifier", lambda d: TO.hashed_linear_score(d, dim=512)),
        (
            "stream_bloom_probe",
            lambda d: DD.bloom_dedup(
                d.filter("doc_id >= 400"), existing, m_bits=2048, k=3
            ),
        ),
    ]
    for name, op in cases:
        q = (
            op(stream)
            .writeStream.outputMode("append")
            .format("memory")
            .queryName(name)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        streamed = spark.table(name)
        want = op(batch_docs)
        assert streamed.schema == want.schema, name
        assert (
            streamed.exceptAll(want).count() == 0
            and want.exceptAll(streamed).count() == 0
        ), name
