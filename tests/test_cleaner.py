"""Cleaner lifecycle test (SURVEY §2.9 / §3.2): age+offset candidate filter,
extraction verification via anti-join, delete-or-revoke. Models
cleaner/SourceDataCleanerTest behavior + TimestampExtractionCheck.kt:23-106."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import Row

from radar_output_restructure_spark.plans.cleaner import CleanerConfig, SourceDataCleaner
from radar_output_restructure_spark.plans.restructure import (
    RestructureConfig,
    RestructurePlan,
)
from tests.test_restructure_e2e import SERVER_STATUS_SCHEMA, _write_fixture


def _rows(t0: float, n: int, status: str = "CONNECTED"):
    return [
        Row(
            key=Row(projectId="p", userId="u", sourceId="s"),
            value=Row(time=t0 + i, serverStatus=status, ipAddress=None),
        )
        for i in range(n)
    ]


def test_cleaner_deletes_extracted_keeps_max_offset(spark, tmp_path):
    input_dir, output_dir = str(tmp_path / "in"), str(tmp_path / "out")
    f0 = _write_fixture(
        spark, input_dir, "t", _rows(3600.0, 3), 0, 0, 2, SERVER_STATUS_SCHEMA
    )
    f1 = _write_fixture(
        spark, input_dir, "t", _rows(7200.0, 2), 0, 3, 4, SERVER_STATUS_SCHEMA
    )
    cfg = RestructureConfig(input_dir=input_dir, output_dir=output_dir)
    RestructurePlan(spark, cfg).run()

    cleaner = SourceDataCleaner(spark, cfg, CleanerConfig(age_days=0.0))
    # candidate = only f0: f1 holds the max offset of partition 0 (C1)
    cand = cleaner.candidate_files("t")
    assert [c.path for c in cand] == [f0]
    result = cleaner.run_topic("t")
    assert result["deleted"] == [f0] and result["revoked"] == []
    assert not os.path.exists(f0) and os.path.exists(f1)


def test_cleaner_revokes_unextracted(spark, tmp_path):
    input_dir, output_dir = str(tmp_path / "in"), str(tmp_path / "out")
    f0 = _write_fixture(
        spark, input_dir, "t", _rows(3600.0, 3), 0, 0, 2, SERVER_STATUS_SCHEMA
    )
    _write_fixture(
        spark, input_dir, "t", _rows(7200.0, 2), 0, 3, 4, SERVER_STATUS_SCHEMA
    )
    cfg = RestructureConfig(input_dir=input_dir, output_dir=output_dir)
    plan = RestructurePlan(spark, cfg)
    finals = plan.run()["t"]

    # sabotage: remove f0's target file -> its records are no longer extracted
    target = [f for f in finals if f.endswith("19700101_0100.csv")][0]
    os.remove(target)

    cleaner = SourceDataCleaner(spark, cfg, CleanerConfig(age_days=0.0))
    result = cleaner.run_topic("t")
    assert result["deleted"] == [] and result["revoked"] == [f0]
    assert os.path.exists(f0)
    # revocation makes the file a candidate for re-extraction (T7)
    assert [f.path for f in plan.list_candidate_files("t")] == [f0]
    plan2 = RestructurePlan(spark, cfg)
    plan2.run()
    assert os.path.exists(target)  # re-extracted


def test_cleaner_age_gate(spark, tmp_path):
    input_dir, output_dir = str(tmp_path / "in"), str(tmp_path / "out")
    _write_fixture(
        spark, input_dir, "t", _rows(3600.0, 3), 0, 0, 2, SERVER_STATUS_SCHEMA
    )
    _write_fixture(
        spark, input_dir, "t", _rows(7200.0, 2), 0, 3, 4, SERVER_STATUS_SCHEMA
    )
    cfg = RestructureConfig(input_dir=input_dir, output_dir=output_dir)
    RestructurePlan(spark, cfg).run()
    # default 7-day age: nothing qualifies
    cleaner = SourceDataCleaner(spark, cfg)
    assert cleaner.candidate_files("t") == []


def test_cleaner_json_target_verification(spark, tmp_path):
    """C2 over JSON-lines targets: time extracted via get_json_object on
    both sides (source line rendering vs target file rows)."""
    input_dir, output_dir = str(tmp_path / "in"), str(tmp_path / "out")
    f0 = _write_fixture(
        spark, input_dir, "t", _rows(3600.0, 3), 0, 0, 2, SERVER_STATUS_SCHEMA
    )
    _write_fixture(
        spark, input_dir, "t", _rows(7200.0, 2), 0, 3, 4, SERVER_STATUS_SCHEMA
    )
    cfg = RestructureConfig(
        input_dir=input_dir, output_dir=output_dir, output_format="json"
    )
    RestructurePlan(spark, cfg).run()
    cleaner = SourceDataCleaner(spark, cfg, CleanerConfig(age_days=0.0))
    result = cleaner.run_topic("t")
    assert result["deleted"] == [f0] and result["revoked"] == []


def test_cleaner_gzip_json_target_verification(spark, tmp_path):
    """gzip-compressed JSON-lines targets verify through spark.read.text's
    native gzip decode; extracted sources delete, compression intact."""
    input_dir, output_dir = str(tmp_path / "in"), str(tmp_path / "out")
    f0 = _write_fixture(
        spark, input_dir, "t", _rows(3600.0, 3), 0, 0, 2, SERVER_STATUS_SCHEMA
    )
    _write_fixture(
        spark, input_dir, "t", _rows(7200.0, 2), 0, 3, 4, SERVER_STATUS_SCHEMA
    )
    cfg = RestructureConfig(
        input_dir=input_dir, output_dir=output_dir,
        output_format="json", compression="gzip",
    )
    finals = RestructurePlan(spark, cfg).run()["t"]
    assert all(f.endswith(".json.gz") for f in finals)

    cleaner = SourceDataCleaner(spark, cfg, CleanerConfig(age_days=0.0))
    result = cleaner.run_topic("t")
    assert result["deleted"] == [f0] and result["revoked"] == []
    assert not os.path.exists(f0)
    # targets untouched and still valid gzip JSON-lines
    import gzip as _gzip
    import json as _json

    rows = [
        _json.loads(line)
        for f in finals
        if os.path.exists(f)
        for line in _gzip.open(f, "rt").read().splitlines()
    ]
    assert len(rows) == 5 and all("value" in r for r in rows)


def test_cleaner_zip_csv_target_verification(spark, tmp_path):
    """zip-compressed CSV targets re-read through the writer's single-entry
    codec (reference cleaner/TimestampFileCache.kt:39-51 +
    compression/ZipCompression.kt:10-26): extracted sources delete instead
    of the old conservative no-op."""
    input_dir, output_dir = str(tmp_path / "in"), str(tmp_path / "out")
    f0 = _write_fixture(
        spark, input_dir, "t", _rows(3600.0, 3), 0, 0, 2, SERVER_STATUS_SCHEMA
    )
    _write_fixture(
        spark, input_dir, "t", _rows(7200.0, 2), 0, 3, 4, SERVER_STATUS_SCHEMA
    )
    cfg = RestructureConfig(
        input_dir=input_dir, output_dir=output_dir, compression="zip"
    )
    finals = RestructurePlan(spark, cfg).run()["t"]
    assert all(f.endswith(".csv.zip") for f in finals)

    cleaner = SourceDataCleaner(spark, cfg, CleanerConfig(age_days=0.0))
    result = cleaner.run_topic("t")
    assert result["deleted"] == [f0] and result["revoked"] == []
    assert not os.path.exists(f0)


def test_cleaner_zip_json_revokes_on_missing_target(spark, tmp_path):
    """zip verification is a real check, not a rubber stamp: a sabotaged
    (deleted) zip target revokes the source file instead of deleting it."""
    input_dir, output_dir = str(tmp_path / "in"), str(tmp_path / "out")
    f0 = _write_fixture(
        spark, input_dir, "t", _rows(3600.0, 3), 0, 0, 2, SERVER_STATUS_SCHEMA
    )
    _write_fixture(
        spark, input_dir, "t", _rows(7200.0, 2), 0, 3, 4, SERVER_STATUS_SCHEMA
    )
    cfg = RestructureConfig(
        input_dir=input_dir, output_dir=output_dir,
        output_format="json", compression="zip",
    )
    finals = RestructurePlan(spark, cfg).run()["t"]
    target = [f for f in finals if f.endswith("19700101_0100.json.zip")][0]
    os.remove(target)

    cleaner = SourceDataCleaner(spark, cfg, CleanerConfig(age_days=0.0))
    result = cleaner.run_topic("t")
    assert result["deleted"] == [] and result["revoked"] == [f0]
    assert os.path.exists(f0)


def test_cleaner_parquet_target_verification(spark, tmp_path):
    """Parquet targets verify through a typed parquet re-read: the
    double->string cast of value.time matches the expectations side, so
    fully-extracted sources delete; a sabotaged target revokes."""
    input_dir, output_dir = str(tmp_path / "in"), str(tmp_path / "out")
    f0 = _write_fixture(
        spark, input_dir, "t", _rows(3600.0, 3), 0, 0, 2, SERVER_STATUS_SCHEMA
    )
    f1 = _write_fixture(
        spark, input_dir, "t", _rows(7200.0, 2), 0, 3, 4, SERVER_STATUS_SCHEMA
    )
    del f1
    cfg = RestructureConfig(
        input_dir=input_dir, output_dir=output_dir, output_format="parquet"
    )
    finals = RestructurePlan(spark, cfg).run()["t"]
    assert all(f.endswith(".parquet") for f in finals)

    cleaner = SourceDataCleaner(spark, cfg, CleanerConfig(age_days=0.0))
    result = cleaner.run_topic("t")
    assert result["deleted"] == [f0] and result["revoked"] == []
    assert not os.path.exists(f0)


def test_cleaner_parquet_revokes_on_missing_target(spark, tmp_path):
    """Parquet verification is a real check: a sabotaged (deleted) parquet
    target revokes the source file instead of deleting it."""
    input_dir, output_dir = str(tmp_path / "in"), str(tmp_path / "out")
    f0 = _write_fixture(
        spark, input_dir, "t", _rows(3600.0, 3), 0, 0, 2, SERVER_STATUS_SCHEMA
    )
    _write_fixture(
        spark, input_dir, "t", _rows(7200.0, 2), 0, 3, 4, SERVER_STATUS_SCHEMA
    )
    cfg = RestructureConfig(
        input_dir=input_dir, output_dir=output_dir, output_format="parquet"
    )
    finals = RestructurePlan(spark, cfg).run()["t"]
    for f in finals:
        if "0100" in os.path.basename(f):
            os.remove(f)
    cleaner = SourceDataCleaner(spark, cfg, CleanerConfig(age_days=0.0))
    result = cleaner.run_topic("t")
    assert result["deleted"] == []
    assert result["revoked"] == [f0]
    assert os.path.exists(f0)


def test_cleaner_csv_embedded_newline_roundtrip(spark, tmp_path):
    """RFC4180-quoted embedded newlines in CSV targets must survive the
    cleaner's read-back: a line-splitting reader would break the quoted
    record into garbage rows, miss the expectation match, and revoke the
    source -> duplicate re-extraction forever."""
    input_dir, output_dir = str(tmp_path / "in"), str(tmp_path / "out")
    f0 = _write_fixture(
        spark, input_dir, "t",
        _rows(3600.0, 3, status="CONN\nECTED"), 0, 0, 2, SERVER_STATUS_SCHEMA,
    )
    _write_fixture(
        spark, input_dir, "t", _rows(7200.0, 2), 0, 3, 4, SERVER_STATUS_SCHEMA
    )
    cfg = RestructureConfig(input_dir=input_dir, output_dir=output_dir)
    RestructurePlan(spark, cfg).run()
    cleaner = SourceDataCleaner(spark, cfg, CleanerConfig(age_days=0.0))
    result = cleaner.run_topic("t")
    assert result["deleted"] == [f0] and result["revoked"] == []


def test_cleaner_never_deletes_schema_unreadable_file(spark, tmp_path):
    """A candidate whose schema cannot be read RIGHT NOW (lost fingerprint
    cache + transient storage error, or post-commit corruption) produces
    zero expectations; it must be revoked for a retry, never deleted as
    'extracted with nothing unmatched' (reference: extraction-check errors
    mean NOT extracted, TimestampExtractionCheck.kt)."""
    input_dir, output_dir = str(tmp_path / "in"), str(tmp_path / "out")
    f0 = _write_fixture(
        spark, input_dir, "t", _rows(3600.0, 3), 0, 0, 2, SERVER_STATUS_SCHEMA
    )
    _write_fixture(
        spark, input_dir, "t", _rows(7200.0, 2), 0, 3, 4, SERVER_STATUS_SCHEMA
    )
    cfg = RestructureConfig(input_dir=input_dir, output_dir=output_dir)
    RestructurePlan(spark, cfg).run()

    cleaner = SourceDataCleaner(spark, cfg, CleanerConfig(age_days=0.0))
    # simulate: fingerprint cache lost AND the schema read failing now
    cleaner.plan.schema_cache.get_many = lambda files, fn: {}
    result = cleaner.run_topic("t")
    assert result["deleted"] == []
    assert result["revoked"] == [f0]
    assert os.path.exists(f0)  # the data is still there for the retry


def test_cleaner_relative_output_dir(spark, tmp_path, monkeypatch):
    """Expectation paths must match the ABSOLUTE URIs _metadata.file_path
    reports even when output_dir is relative; a verbatim relative root
    would leave every record unmatched -> revoke -> duplicate re-append."""
    monkeypatch.chdir(tmp_path)
    input_dir = str(tmp_path / "in")
    f0 = _write_fixture(
        spark, input_dir, "t", _rows(3600.0, 3), 0, 0, 2, SERVER_STATUS_SCHEMA
    )
    _write_fixture(
        spark, input_dir, "t", _rows(7200.0, 2), 0, 3, 4, SERVER_STATUS_SCHEMA
    )
    cfg = RestructureConfig(input_dir=input_dir, output_dir="out_rel")
    RestructurePlan(spark, cfg).run()
    cleaner = SourceDataCleaner(spark, cfg, CleanerConfig(age_days=0.0))
    result = cleaner.run_topic("t")
    assert result["deleted"] == [f0] and result["revoked"] == []


def test_cleaner_mixed_attempt_csv_verification(spark, tmp_path):
    """Schema-evolution attempts write targets with DIFFERENT headers
    (`bin.csv` vs `bin_1.csv` with an extra column). The cleaner's CSV
    read-back must parse each file against its OWN header — a single
    spark.read.csv over both binds the second file's columns positionally
    to the first header and reads the wrong field as value.time, flagging
    perfectly-extracted sources."""
    input_dir, output_dir = str(tmp_path / "in"), str(tmp_path / "out")
    f0 = _write_fixture(
        spark, input_dir, "t",
        [Row(key=Row(projectId="p", userId="u", sourceId="s"),
             value=Row(time=3600.0, status="A"))],
        0, 0, 0,
    )
    # evolved schema: battery precedes time so positional binding against
    # the attempt-0 header reads battery as value.time
    evolved = (
        "key struct<projectId: string, userId: string, sourceId: string>, "
        "value struct<battery: double, time: double, status: string>"
    )
    f1 = _write_fixture(
        spark, input_dir, "t",
        [Row(key=Row(projectId="p", userId="u", sourceId="s"),
             value=Row(battery=0.5, time=3601.0, status="B"))],
        0, 1, 1, evolved,
    )
    # max-offset holder so both earlier files are candidates
    _write_fixture(
        spark, input_dir, "t", _rows(7200.0, 1), 0, 2, 2, SERVER_STATUS_SCHEMA
    )
    cfg = RestructureConfig(input_dir=input_dir, output_dir=output_dir)
    finals = RestructurePlan(spark, cfg).run()["t"]
    assert any(f.endswith("_1.csv") for f in finals)  # attempt happened

    cleaner = SourceDataCleaner(spark, cfg, CleanerConfig(age_days=0.0))
    result = cleaner.run_topic("t")
    assert sorted(result["deleted"]) == sorted([f0, f1])
    assert result["revoked"] == []


def _target_text(path: str, compression: str | None) -> str:
    import gzip as _gzip
    import zipfile

    if compression == "zip":
        with zipfile.ZipFile(path) as zf:
            return zf.read(zf.namelist()[0]).decode("utf-8")
    with (_gzip.open if compression == "gzip" else open)(path, "rb") as fh:
        return fh.read().decode("utf-8")


@pytest.mark.parametrize("sep", ["\u0085", "\u2028"])
@pytest.mark.parametrize("compression", [None, "gzip", "zip"])
def test_cleaner_json_unicode_line_separator_in_value(
    spark, tmp_path, compression, sep
):
    """to_json leaves U+0085 / U+2028 unescaped inside string values and the
    writer ends lines with "\\n" alone. The read-back must split on "\\n"
    only: str.splitlines would cut such a row in two, leave its records
    unmatched and revoke the source on every cycle."""
    input_dir, output_dir = str(tmp_path / "in"), str(tmp_path / "out")
    f0 = _write_fixture(
        spark, input_dir, "t",
        _rows(3600.0, 3, status=f"CONN{sep}ECTED"), 0, 0, 2,
        SERVER_STATUS_SCHEMA,
    )
    _write_fixture(
        spark, input_dir, "t", _rows(7200.0, 2), 0, 3, 4, SERVER_STATUS_SCHEMA
    )
    cfg = RestructureConfig(
        input_dir=input_dir, output_dir=output_dir,
        output_format="json", compression=compression,
    )
    finals = RestructurePlan(spark, cfg).run()["t"]
    target = [f for f in finals if "19700101_0100.json" in f][0]
    assert sep in _target_text(target, compression)  # written unescaped

    cleaner = SourceDataCleaner(spark, cfg, CleanerConfig(age_days=0.0))
    result = cleaner.run_topic("t")
    assert result["deleted"] == [f0] and result["revoked"] == []


@pytest.mark.parametrize(
    "output_format,compression", [("csv", "gzip"), ("json", None)]
)
def test_cleaner_hadoop_target_storage(
    spark, tmp_path, output_format, compression
):
    """Driver-only target storage (HadoopTargetStorage, here over a file://
    output) reads targets back through the binaryFile branch: an extracted
    source deletes, a source whose target was removed revokes. (zip is a
    direct-writer feature, so this storage writes none / gzip only.)"""
    from radar_output_restructure_spark.sinks.storage import (
        HadoopTargetStorage,
    )

    input_dir = str(tmp_path / "in")
    f0 = _write_fixture(
        spark, input_dir, "t", _rows(3600.0, 3), 0, 0, 2, SERVER_STATUS_SCHEMA
    )
    f1 = _write_fixture(
        spark, input_dir, "t", _rows(7200.0, 2), 0, 3, 4, SERVER_STATUS_SCHEMA
    )
    _write_fixture(
        spark, input_dir, "t", _rows(10800.0, 1), 0, 5, 5, SERVER_STATUS_SCHEMA
    )
    cfg = RestructureConfig(
        input_dir=input_dir,
        output_dir="file://" + str(tmp_path / "out"),
        output_format=output_format,
        compression=compression,
    )
    plan = RestructurePlan(spark, cfg)
    assert isinstance(plan.target_storage, HadoopTargetStorage)
    plan.run()
    ext = ".gz" if compression == "gzip" else ""
    removed = tmp_path / "out" / "p" / "u" / "t" / (
        f"19700101_0200.{output_format}{ext}"
    )
    assert removed.exists()
    removed.unlink()

    cleaner = SourceDataCleaner(
        spark, cfg, CleanerConfig(age_days=0.0), plan=plan
    )
    result = cleaner.run_topic("t")
    assert result["deleted"] == [f0] and result["revoked"] == [f1]
    assert not os.path.exists(f0) and os.path.exists(f1)


def _write_avro_topic(input_dir: str, topic: str, n_users: int) -> None:
    """Three Kafka-sink Avro containers for `topic`: the first two hold one
    record per user in hour 1 (n_users target files), the third holds the
    partition's max offset so the first two are cleaner candidates."""
    from radar_output_restructure_spark.sources import avro_io

    key = {
        "type": "record", "name": "ObservationKey",
        "fields": [
            {"name": "projectId", "type": ["null", "string"]},
            {"name": "userId", "type": "string"},
            {"name": "sourceId", "type": "string"},
        ],
    }
    value = {
        "type": "record", "name": "V",
        "fields": [{"name": "time", "type": "double"}],
    }
    schema = {
        "type": "record", "name": topic,
        "fields": [
            {"name": "key", "type": key}, {"name": "value", "type": value},
        ],
    }
    d = os.path.join(input_dir, topic, "partition=0")
    os.makedirs(d, exist_ok=True)
    for off, t0 in ((0, 3600.0), (n_users, 3700.0), (2 * n_users, 7200.0)):
        records = [
            {
                "key": {"projectId": "p", "userId": f"u{i}", "sourceId": "s"},
                "value": {"time": t0 + i},
            }
            for i in range(n_users)
        ]
        avro_io.write_container(
            os.path.join(d, f"{topic}+0+{off}+{off + n_users - 1}.avro"),
            schema, records,
        )


def test_cleaner_verify_job_count_independent_of_target_count(
    spark, tmp_path
):
    """verify_topic starts the same Spark jobs whether its candidates map to
    8 targets or to more than 32: no file-listing job for many targets
    (spark.sql.sources.parallelPartitionDiscovery.threshold) and no Avro
    header-probe job (the fingerprint canon is the scan schema)."""
    input_dir, output_dir = str(tmp_path / "in"), str(tmp_path / "out")
    _write_avro_topic(input_dir, "narrow", 8)
    _write_avro_topic(input_dir, "wide", 40)
    cfg = RestructureConfig(
        input_dir=input_dir, output_dir=output_dir, source_format="avro",
        compression="gzip",
    )
    plan = RestructurePlan(spark, cfg)
    plan.run()
    cleaner = SourceDataCleaner(
        spark, cfg, CleanerConfig(age_days=0.0), plan=plan
    )
    sc = spark.sparkContext
    jobs = {}
    try:
        for topic in ("narrow", "wide"):
            files = cleaner.candidate_files(topic)
            assert len(files) == 2
            group = f"verify-{topic}-{tmp_path.name}"
            sc.setJobGroup(group, group)
            frames = list(plan.attempt_frames(topic, files))
            assert frames and not sc.statusTracker().getJobIdsForGroup(group), (
                "building the source scan started a Spark job"
            )
            verdict = cleaner.verify_topic(topic, files)
            assert all(verdict.values()) and len(verdict) == 2
            jobs[topic] = len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert jobs["wide"] == jobs["narrow"], jobs
