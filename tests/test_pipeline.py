"""End-to-end batch pipeline: scan -> validate -> project -> parquet sinks
-> archive -> summary (reference contract run_etl_pipeline,
src/etl_processor.py:182-233)."""

import shutil
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from manufacturing_data_integration_tool_spark import load_config
from manufacturing_data_integration_tool_spark.pipeline import (
    processing_summary,
    project_to_target,
    run_etl_pipeline,
)


def test_run_etl_pipeline_end_to_end(spark, golden_csv, mapping_config_path, tmp_path):
    inbox = tmp_path / "inbox"
    inbox.mkdir()
    shutil.copy(golden_csv, inbox / "production_data_1.csv")
    out = tmp_path / "out"
    arch = tmp_path / "archived"

    report = run_etl_pipeline(
        spark,
        str(inbox / "*.csv"),
        mapping_config_path,
        output_dir=str(out),
        archive=True,
        archive_dir=str(arch),
    )
    assert (report.total_records, report.valid_records, report.invalid_records) == (9, 6, 3)
    assert report.rows_inserted == 6 and report.errors_logged == 4
    assert abs(report.valid_pct - 66.7) < 0.1

    qd = spark.read.parquet(str(out / "quality_data"))
    assert qd.count() == 6
    # target projection: renamed columns, declared types, literal status
    assert {"RecordTimestamp", "ProductionLineID", "TemperatureCelsius", "DefectCount",
            "FileSource", "ValidationStatus", "ProcessedDate"} <= set(qd.columns)
    assert dict(qd.dtypes)["RecordTimestamp"] == "timestamp"
    assert dict(qd.dtypes)["TemperatureCelsius"] == "double"
    assert dict(qd.dtypes)["DefectCount"] == "bigint"
    assert qd.select("ValidationStatus").distinct().collect()[0][0] == "VALID"
    assert qd.filter(F.col("FileSource").contains("production_data_1.csv")).count() == 6
    # optional field null-through (P12): row with missing humidity is loaded with NULL
    assert qd.filter(F.col("HumidityPercent").isNull()).count() == 1

    errs = spark.read.parquet(str(out / "validation_errors"))
    assert errs.count() == 4
    assert set(errs.columns) == {"FileSource", "ErrorType", "ErrorMessage", "FieldName", "FieldValue"}

    # archive happened: inbox empty, archived file has timestamp prefix
    assert list(inbox.glob("*.csv")) == []
    archived = list(arch.glob("*_production_data_1.csv"))
    assert len(archived) == 1

    # summary query over the sink (A2 shape)
    summary = processing_summary(qd).collect()
    assert summary[0]["ValidationStatus"] == "VALID" and summary[0]["RecordCount"] == 6


def test_glob_reads_many_files_one_job(spark, golden_csv, mapping_config_path, tmp_path):
    inbox = tmp_path / "inbox"
    inbox.mkdir()
    for i in range(3):
        shutil.copy(golden_csv, inbox / f"data_{i}.csv")
    report = run_etl_pipeline(spark, str(inbox / "*.csv"), mapping_config_path)
    assert report.total_records == 27 and report.valid_records == 18


def test_error_value_truncated_to_255(spark, mapping_config_path, tmp_path):
    from manufacturing_data_integration_tool_spark import IntegrationConfig, FieldMapping, Rule
    from manufacturing_data_integration_tool_spark.plans.validator import validate
    from manufacturing_data_integration_tool_spark.sources.sinks import shape_errors_for_sink

    cfg = IntegrationConfig(
        fields=(FieldMapping("v", "V", "varchar", True, (Rule("regex", {"pattern": "^x$"}),)),)
    )
    df = spark.createDataFrame([("y" * 1000,)], "v string")
    res = validate(df, cfg)
    shaped = shape_errors_for_sink(res.errors).collect()
    assert len(shaped[0]["FieldValue"]) == 255


def test_fail_fast_aborts_before_sinks(spark, golden_csv, mapping_config_path, tmp_path):
    """error_handling=fail_fast raises (with the counted report attached)
    before any sink write; continue (default) keeps going."""
    import dataclasses

    from manufacturing_data_integration_tool_spark.pipeline import ValidationFailFast

    cfg = load_config(mapping_config_path)
    cfg = dataclasses.replace(cfg, etl=dataclasses.replace(cfg.etl, error_handling="fail_fast"))
    out = tmp_path / "out"
    with pytest.raises(ValidationFailFast) as exc:
        run_etl_pipeline(spark, golden_csv, cfg, output_dir=str(out))
    assert exc.value.report.invalid_records == 3
    assert not (out / "quality_data").exists()


def test_archive_after_uri_glob_moves_every_matched_file(spark, golden_csv, mapping_config_path, tmp_path):
    """A ``file://`` glob archives the files it matched — the header-only one
    included — instead of trying to rename the pattern after the sinks land."""
    inbox = tmp_path / "inbox"
    inbox.mkdir()
    shutil.copy(golden_csv, inbox / "prod.csv")
    header = Path(golden_csv).read_text().splitlines()[0]
    (inbox / "empty.csv").write_text(header + "\n")
    arch = tmp_path / "archived"

    report = run_etl_pipeline(
        spark,
        f"file://{inbox}/*.csv",
        mapping_config_path,
        output_dir=str(tmp_path / "out"),
        archive=True,
        archive_dir=str(arch),
    )
    assert (report.total_records, report.rows_inserted) == (9, 6)
    assert list(inbox.iterdir()) == []
    assert sorted(p.name.split("_", 2)[2] for p in arch.iterdir()) == ["empty.csv", "prod.csv"]
    assert len(report.archived) == 2


def test_archive_same_file_name_from_two_directories(spark, golden_csv, mapping_config_path, tmp_path):
    """One glob matching ``a/prod.csv`` and ``b/prod.csv`` archives both under
    distinct names instead of failing the second rename and leaving a file
    in the inbox to be loaded again."""
    inbox = tmp_path / "inbox"
    for sub in ("a", "b"):
        (inbox / sub).mkdir(parents=True)
        shutil.copy(golden_csv, inbox / sub / "prod.csv")
    arch = tmp_path / "archived"

    report = run_etl_pipeline(
        spark,
        str(inbox / "*" / "*.csv"),
        mapping_config_path,
        output_dir=str(tmp_path / "out"),
        archive=True,
        archive_dir=str(arch),
    )
    assert report.total_records == 18
    assert len(set(report.archived)) == 2
    assert sorted(p.name.split("_", 2)[2] for p in arch.iterdir()) == ["prod-1.csv", "prod.csv"]
    assert list(inbox.glob("*/*.csv")) == []


def test_read_jsonl_explicit_schema_and_corrupt_capture(spark, tmp_path):
    from manufacturing_data_integration_tool_spark.sources.readers import read_jsonl

    p = tmp_path / "docs.jsonl"
    p.write_text(
        '{"doc_id": 1, "text": "hello world"}\n'
        'not json at all\n'
        '{"doc_id": 2, "text": "second"}\n'
    )
    df = read_jsonl(
        spark,
        str(p),
        "doc_id BIGINT, text STRING, _corrupt_record STRING",
    )
    rows = df.collect()
    good = {r["doc_id"]: r["text"] for r in rows if r["_corrupt_record"] is None}
    bad = [r["_corrupt_record"] for r in rows if r["_corrupt_record"] is not None]
    assert good == {1: "hello world", 2: "second"}
    assert bad == ["not json at all"]


def test_synthetic_docs_source_deterministic_and_partitioned(spark):
    from manufacturing_data_integration_tool_spark.sources.synthetic import (
        register_synthetic_docs,
    )

    register_synthetic_docs(spark)

    def load(n_parts):
        return (
            spark.read.format("synthetic_docs")
            .option("n_rows", 500)
            .option("n_partitions", n_parts)
            .option("seed", 7)
            .load()
        )

    df = load(8)
    assert df.count() == 500
    assert df.rdd.getNumPartitions() == 8
    # identical rows regardless of partitioning (task-retry safety)
    a = {tuple(r) for r in load(8).collect()}
    b = {tuple(r) for r in load(3).collect()}
    assert a == b
    # the shape feeds the existing text ops unchanged
    from manufacturing_data_integration_tool_spark.ops.text import doc_quality

    assert doc_quality(df).count() == 500


def test_conform_to_contract_handles_drift(spark):
    """Schema-contract boundary: missing contract columns become typed
    NULLs, extra source columns are dropped, type drift goes through
    try_cast (bad values -> NULL, never a job abort), and strict mode
    raises at plan time."""
    import pytest
    from manufacturing_data_integration_tool_spark.sources.readers import (
        conform_to_contract,
    )

    src = spark.createDataFrame(
        [("1", "x", 9.5), ("oops", "y", 0.5)], ["a", "junk", "b"]
    )
    out = conform_to_contract(src, "a BIGINT, b DOUBLE, c STRING")
    assert out.columns == ["a", "b", "c"]
    rows = out.orderBy("b").collect()
    assert [tuple(r) for r in rows] == [(None, 0.5, None), (1, 9.5, None)]
    assert dict(out.dtypes) == {"a": "bigint", "b": "double", "c": "string"}
    with pytest.raises(TypeError):
        conform_to_contract(src, "a BIGINT, b DOUBLE", on_type_mismatch="strict")


def test_orc_and_jsonl_roundtrip(spark, tmp_path):
    """Source/sink format breadth: ORC (columnar interchange) and JSONL
    (landing format) round-trip the same rows byte-for-byte. ORC rides
    Spark's native reader/writer (predicate pushdown + column pruning
    apply exactly as for parquet); JSONL re-enters through the pinned
    all-string reader."""
    from manufacturing_data_integration_tool_spark.sources.readers import (
        read_source_jsonl,
        read_table,
    )

    docs = read_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "lang", "source", "n_chars"
    )
    want = sorted(map(tuple, docs.collect()))

    orc_dir = tmp_path / "docs_orc"
    docs.write.mode("overwrite").orc(str(orc_dir))
    got_orc = sorted(map(tuple, spark.read.orc(str(orc_dir)).collect()))
    assert got_orc == want

    jl_dir = tmp_path / "docs_jsonl"
    docs.selectExpr(
        "CAST(doc_id AS STRING) AS doc_id", "lang", "source",
        "CAST(n_chars AS STRING) AS n_chars"
    ).write.mode("overwrite").json(str(jl_dir))
    back = read_source_jsonl(
        spark, str(jl_dir) + "/*.json", None, with_lineage=False
    ).selectExpr(
        "CAST(doc_id AS BIGINT) AS doc_id", "lang", "source",
        "CAST(n_chars AS BIGINT) AS n_chars"
    )
    assert sorted(map(tuple, back.collect())) == want
