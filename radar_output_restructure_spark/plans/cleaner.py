"""Source-data cleaner: delete source files only after verifying extraction
(SURVEY §2.9 C1-C3, reference cleaner/SourceDataCleaner.kt:48-131,
TimestampExtractionCheck.kt:23-106).

Reference semantics, re-expressed as one Spark job per topic:

* C1 candidate filter (driver-side, cheap): file age > `age_days` AND the
  file is committed in the manifest (seen & unmodified) AND a later offset
  exists for its Kafka partition — the max-offset file is never removed
  (SourceDataCleaner.kt:99-113 `incrementTo` containment).
* C2 extraction check (distributed): recompute each source record's target
  file path and event time with the SAME plan the writer used, then
  LEFT ANTI join against the target files' (path, time) pairs. A source
  file is extracted iff it has zero unmatched records. Records with no
  event time are conservatively unmatched (the reference's extraction check
  also fails them: TimestampExtractionCheck errors => not extracted).
* C3: extracted -> delete source; not extracted -> revoke its manifest
  entry so the next restructure run re-extracts it
  (AccountantImpl.kt:55-59 offset revocation).

Target files are read back WHOLE and decoded by one function next to the
writer that defines their format, `sinks/writers.decode_target_files` (CSV
against each file's own header, JSON-lines split on "\n"; none / gzip /
zip). Where the bytes come from depends on the target storage:

* `executor_safe` storage (local, S3, Azure): the anti-join's own job reads
  them — the expectations' distinct target paths feed a mapInPandas that
  calls `target_storage.read` on the executors. Nothing is collected to the
  driver and no file listing runs.
* driver-only storage (`HadoopTargetStorage`: abfs://, hdfs://, file://):
  the driver collects the distinct target paths, keeps those that exist and
  loads them with Spark's binaryFile source.

Parquet targets keep a typed read per attempt (driver-collected paths). A
missing target yields no rows, so its sources are revoked, never deleted.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from radar_output_restructure_spark.plans.restructure import RestructureConfig, RestructurePlan
from radar_output_restructure_spark.sinks.writers import decode_target_files
from radar_output_restructure_spark.sources.kafka_tree import (
    parse_offset_filename,
)
from radar_output_restructure_spark.sources.manifest import FileEntry
from radar_output_restructure_spark.timer import Timer


@dataclass
class CleanerConfig:
    """config/CleanerConfig.kt:3-10 (enable/interval handled by the service
    loop; age in days here)."""

    age_days: float = 7.0


class SourceDataCleaner:
    def __init__(
        self,
        spark: SparkSession,
        config: RestructureConfig,
        cleaner: CleanerConfig | None = None,
        plan: RestructurePlan | None = None,
    ):
        self.spark = spark
        self.config = config
        self.cleaner = cleaner or CleanerConfig()
        # a service loop passes its long-lived plan so the cleaner shares
        # its storage index (and deletes update that index in place)
        self.plan = plan or RestructurePlan(spark, config)

    # -- C1: candidates ------------------------------------------------------

    def candidate_files(self, topic: str) -> list[FileEntry]:
        cfg = self.config
        tcfg = cfg.topics.get(topic)
        if tcfg and tcfg.exclude_from_delete:  # P6
            return []
        committed = self.plan.manifest.load()
        cutoff_ms = (time.time() - self.cleaner.age_days * 86400) * 1000
        # newest committed offset per kafka partition is never removed
        max_offset: dict[int, int] = {}
        parsed: list[tuple[str, int, int]] = []
        for path, mtime in committed.items():
            if f"{os.sep}{topic}{os.sep}" not in path:
                continue
            meta = parse_offset_filename(os.path.basename(path))
            if meta is None:
                continue
            _t, part, off_from, _off_to = meta
            parsed.append((path, part, off_from))
            max_offset[part] = max(max_offset.get(part, -1), off_from)
        src = self.plan.source_storage
        out = []
        for path, part, off_from in parsed:
            if not src.exists(path):
                continue
            if off_from >= max_offset[part]:  # later offset must exist
                continue
            mtime = committed[path]
            if mtime > cutoff_ms:
                continue
            if src.mtime_ms(path) > mtime:  # modified since commit
                continue
            out.append(FileEntry(path, mtime))
        return sorted(out, key=lambda f: f.path)

    # -- C2: extraction verification ------------------------------------------

    def _output_root(self) -> str:
        """The output root of the expectation paths: URI targets (s3a://,
        abfs://, hdfs://) pass through; local paths are made ABSOLUTE, because
        the Spark-side read-backs report absolute `file:` URIs and a relative
        `output_dir` would make every expectation path unmatched -> every
        file revoked -> unbounded duplicate re-extraction."""
        root = self.config.output_dir.rstrip(os.sep)
        if "://" in root or root.startswith("file:"):
            return root
        return os.path.abspath(root)

    def _source_expectations(
        self, topic: str, files: list[FileEntry]
    ) -> tuple[DataFrame, set[str]]:
        """((source_file, target_path, time_str) per source record, covered
        source paths) — the same routing + rendering plan the writer ran.

        Shares `plan.attempt_frames` with `run_topic` — ONE definition of
        the per-attempt read+conform+union step, so dedup survivors in
        verification are byte-identical to what the writer kept (a
        divergent copy here could keep a different duplicate than the
        union-scoped writer did when distinct_fields dedup spans two
        groups, revoking healthy files forever). Files whose schema cannot
        be read right now are NOT covered — the caller must treat them as
        unverified, never as extracted."""
        cfg = self.config
        parts: list[DataFrame] = []
        covered: set[str] = set()
        ext0 = self.plan.output_extension()
        out_root = self._output_root()
        for attempt, _sup, df, group_files in self.plan.attempt_frames(
            topic, files
        ):
            covered.update(f.path for f in group_files)
            flat, part_cols = self.plan.transform(
                df, topic, keep_cols=("source_file",)
            )
            ext = (f"_{attempt}" if attempt else "") + ext0
            target = F.concat_ws(
                os.sep, F.lit(out_root),
                *[F.col(c) for c in part_cols],
            )
            target = F.concat(target, F.lit(ext))
            if cfg.output_format == "json":
                time_str = F.get_json_object(F.col("line"), "$.value.time")
            else:
                time_str = (
                    F.col("`value.time`")
                    if "value.time" in flat.columns
                    else F.lit(None)
                )
            parts.append(
                flat.select(
                    "source_file",
                    target.alias("target_path"),
                    time_str.cast("string").alias("time_str"),
                )
            )
        if not parts:
            empty = self.spark.createDataFrame(
                [], "source_file string, target_path string, time_str string"
            )
            return empty, covered
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out, covered

    def _existing_targets(self, src: DataFrame) -> list[str]:
        """The expectations' distinct target paths that exist now, collected
        to the driver — only for the read-backs that need the list there."""
        tgt = self.plan.target_storage
        rows = src.select("target_path").distinct().collect()
        return [r.target_path for r in rows if tgt.exists(r.target_path)]

    def _target_rows(self, src: DataFrame) -> DataFrame:
        """(target_path, time_str) for every row of the target files the
        expectations `src` name. A missing target yields no rows, so its
        records stay unmatched."""
        cfg = self.config
        if cfg.output_format == "parquet":
            return self._parquet_target_rows(self._existing_targets(src))
        if self.plan.target_storage.executor_safe:
            rows = self._executor_target_rows(src)
        else:
            rows = self._binary_target_rows(self._existing_targets(src))
        if cfg.output_format == "json":
            # the SAME get_json_object as the expectations side: a float
            # round-trip would re-render the time token
            time_str = F.get_json_object(F.col("payload"), "$.value.time")
        else:
            time_str = F.col("payload")
        return rows.select(
            "target_path", time_str.cast("string").alias("time_str")
        )

    def _executor_target_rows(self, src: DataFrame) -> DataFrame:
        """Read-back inside the anti-join's job: the distinct target paths
        stay on the executors, each task reads its targets through the
        (picklable) target storage and decodes them whole. No path list
        reaches the driver and no file listing runs."""
        storage = self.plan.target_storage
        fmt, codec = self.config.output_format, self.config.compression

        def read_targets(batches):
            for pdf in batches:
                pairs = []
                for path in pdf["target_path"]:
                    try:
                        pairs.append((path, storage.read(path)))
                    except Exception:
                        if storage.exists(path):
                            raise
                        # missing target: no rows, its records stay unmatched
                yield decode_target_files(pairs, fmt, codec)

        return (
            src.select("target_path")
            .distinct()
            .mapInPandas(read_targets, "target_path string, payload string")
        )

    def _binary_target_rows(self, existing: list[str]) -> DataFrame:
        """Read-back for storage whose handle cannot leave the driver
        (HadoopTargetStorage: abfs://, hdfs://, file://): Spark's binaryFile
        source reads the files through the same Hadoop FileSystem. It reports
        qualified `file:` URIs for local paths, so each row is mapped back to
        the expectation's own path string."""
        import re

        if not existing:
            return self.spark.createDataFrame(
                [], "target_path string, payload string"
            )
        fmt, codec = self.config.output_format, self.config.compression

        def norm(p: str) -> str:
            return re.sub("^file:/+", "/", p)

        expected = {norm(p): p for p in existing}

        def decode(batches):
            for pdf in batches:
                yield decode_target_files(
                    [
                        (expected.get(norm(path), path), bytes(content))
                        for path, content in zip(pdf["path"], pdf["content"])
                    ],
                    fmt, codec,
                )

        return (
            self.spark.read.format("binaryFile").load(existing)
            .select("path", "content")
            .mapInPandas(decode, "target_path string, payload string")
        )

    def _parquet_target_rows(self, existing: list[str]) -> DataFrame:
        """Typed parquet read-back. Attempts exist BECAUSE schemas differ (a
        value.time TYPE change would make one scan over both attempts' files
        throw or null-fill), so each attempt group is read separately and the
        projected strings unioned; the double -> string cast is the same Java
        rendering the expectations side applies."""
        import re

        if not existing:
            return self.spark.createDataFrame(
                [], "target_path string, time_str string"
            )
        by_attempt: dict[str, list[str]] = {}
        for p in existing:
            m = re.search(r"_(\d+)\.parquet$", p)
            by_attempt.setdefault(m.group(1) if m else "0", []).append(p)
        parts: list[DataFrame] = []
        for group in by_attempt.values():
            df = self.spark.read.parquet(*group)
            time_str = (
                F.col("`value.time`")
                if "value.time" in df.columns
                else F.lit(None)
            )
            path = F.regexp_replace(
                F.col("_metadata.file_path"), "^file:/+", "/"
            )
            parts.append(
                df.select("*", "_metadata").select(
                    path.alias("target_path"),
                    time_str.cast("string").alias("time_str"),
                )
            )
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    @Timer.time("cleaner.verify")
    def verify_topic(self, topic: str, files: list[FileEntry]) -> dict[str, bool]:
        """source_file -> fully extracted? One anti-join for the whole topic.

        A file the expectation scan could NOT cover (its schema read failed
        right now — transient storage error or post-commit corruption) is
        never `extracted`: it produced zero expectations, so a membership
        test on the unmatched set alone would silently promote it to
        deletable with no verification at all (the reference treats
        extraction-check errors as not-extracted,
        TimestampExtractionCheck.kt errors => failed)."""
        if not files:
            return {}
        src, covered = self._source_expectations(topic, files)
        src = src.cache()
        try:
            tgt = self._target_rows(src)
            missing = (
                src.withColumn(
                    "time_str", F.coalesce(F.col("time_str"), F.lit("\x00missing"))
                )
                .join(tgt, ["target_path", "time_str"], "left_anti")
                .groupBy("source_file")
                .count()
            )
            bad = {r.source_file for r in missing.collect()}
        finally:
            src.unpersist()
        return {
            f.path: f.path in covered and f.path not in bad for f in files
        }

    # -- C3: delete or revoke --------------------------------------------------

    def run_topic(self, topic: str) -> dict[str, list[str]]:
        files = self.candidate_files(topic)
        verdict = self.verify_topic(topic, files)
        deleted, revoked = [], []
        with Timer.time("cleaner.delete"):
            for f in files:
                if verdict.get(f.path):
                    self.plan.source_storage.delete(f.path)  # S15
                    if self.plan.storage_index is not None:
                        # keep the incremental index honest without waiting
                        # for its next full sync (StorageIndex.remove)
                        self.plan.storage_index.remove(f.path)
                    deleted.append(f.path)
                else:
                    self.plan.manifest.revoke([f])  # T7 revocation
                    revoked.append(f.path)
        return {"deleted": deleted, "revoked": revoked}

    def run(self) -> dict[str, dict[str, list[str]]]:
        return {t: self.run_topic(t) for t in self.plan.topics()}
