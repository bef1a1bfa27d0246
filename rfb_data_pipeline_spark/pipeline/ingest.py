"""End-to-end RFB ingestion: raw CSV → silver parquet, partitioned by
month, idempotent, validated (the whole reference pipeline §3.1
re-expressed; replaces fase_correcao + fase_carga,
src/main.py:122-220).

Key upgrades over the reference:
- the month is a partition VALUE (``ref_ym``), not a schema name
  (src/main.py:258) → dynamic partition overwrite gives atomic,
  idempotent re-runs (the README's promised rollback, READme.md:30,
  for free);
- counts are captured with ``Observation`` during the write — no
  second scan (the reference re-reads the file to count,
  src/main.py:150, and re-queries the DB, src/main.py:208);
- corrupt rows land in a quarantine output instead of breaking the
  load.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from rfb_data_pipeline_spark.normalize import to_silver
from rfb_data_pipeline_spark.pipeline.validate import (
    observed_check_metrics,
    report_from_metrics,
    v1_count_reconciliation,
    v5_duplicate_keys,
)
from rfb_data_pipeline_spark.schemas import TABLE_SCHEMAS
from rfb_data_pipeline_spark.sources.rfb_csv import (
    read_rfb_csv,
    split_corrupt,
)


def _clear_quarantine_partition(
    out_dir: str, table: str, ref_ym: str
) -> None:
    """Remove ``_quarantine/<table>/ref_ym=<ym>`` if present. Local
    filesystem semantics (the reference pipeline's deployment); on an
    object store, route through the Hadoop FS API instead."""
    import shutil
    from pathlib import Path

    part = Path(out_dir) / "_quarantine" / table / f"ref_ym={ref_ym}"
    if part.exists():
        shutil.rmtree(part, ignore_errors=True)


def _clear_stale_staging(table_dir: str) -> None:
    """Remove the staging dirs a killed writer left in ``table_dir``.
    A dynamic partition overwrite stages its files under
    ``.spark-staging-<job id>`` and deletes that dir when it commits or
    aborts; a driver killed mid-write (the §3.2 crash) may do neither,
    and the resume's own overwrite never touches another job's staging
    dir. A table has one writer at a time (run_month loads each table
    once, from one thread), so any staging dir present before the write
    is debris. Local filesystem semantics, like
    ``_clear_quarantine_partition``."""
    import glob
    import shutil

    for d in glob.glob(os.path.join(table_dir, ".spark-staging-*")):
        shutil.rmtree(d, ignore_errors=True)


@dataclass
class LoadResult:
    table: str
    ref_ym: str
    n_raw: int
    n_clean: int
    n_corrupt: int
    n_written: int
    validations: dict = field(default_factory=dict)

    @property
    def passed(self) -> bool:
        return (
            self.n_raw == self.n_clean + self.n_corrupt
            and self.n_clean == self.n_written
            and bool(self.validations.get("passed", True))
        )


def load_table(
    spark: SparkSession,
    table: str,
    csv_paths: str | list[str],
    out_dir: str,
    ref_ym: str,
    encoding: str | dict[str, str] = "UTF-8",
    keys: list[str] | None = None,
    quarantine: bool = True,
) -> LoadResult:
    """Ingest one RFB table for one month, atomically. Corrupt rows
    land in ``<out_dir>/_quarantine/<table>`` (same month-partitioned
    layout) so the README's column-shift class of corruption stays
    inspectable instead of vanishing (READme.md:29).

    ``csv_paths`` MUST carry every part of a multi-part table for the
    month (Empresas0..9 all route here): the write below replaces the
    whole (table, ref_ym) partition, so per-part calls would clobber
    each other (round-2 ADVICE, high). ``encoding`` may be a
    {path: encoding} map when the parts were sniffed individually.
    """
    schema = TABLE_SCHEMAS[table]
    paths = [csv_paths] if isinstance(csv_paths, str) else list(csv_paths)
    if isinstance(encoding, dict):
        by_enc: dict[str, list[str]] = {}
        for p in paths:
            by_enc.setdefault(encoding.get(p, "UTF-8"), []).append(p)
        parts = [
            read_rfb_csv(spark, ps, schema, encoding=e)
            for e, ps in sorted(by_enc.items())
        ]
        raw = parts[0]
        for part in parts[1:]:
            raw = raw.unionByName(part)
    else:
        raw = read_rfb_csv(spark, paths, schema, encoding=encoding)
    # Raw-side Observation ABOVE the clean filter: n_raw/n_corrupt are
    # computed by the silver write's own scan — the docstring's
    # "no second scan" claim is now literally true (the r09 review
    # found a separate count aggregation re-reading the whole CSV
    # after the write).
    # first-col count satisfies the raw-scan corrupt-column rule.
    first_col = next(c for c in raw.columns if c != "_corrupt_record")
    raw_obs = Observation(f"raw_{table}_{ref_ym}")
    raw = raw.observe(
        raw_obs,
        F.count(F.lit(1)).alias("n_raw"),
        F.count("_corrupt_record").alias("n_corrupt"),
        F.count(first_col).alias("_touch"),
    )
    clean, corrupt = split_corrupt(raw)

    silver = to_silver(table, clean).withColumn("ref_ym", F.lit(ref_ym))

    # One Observation carries the write count AND the v2/v3 null/format
    # counters: the write action computes every check in the same pass
    # (no post-write validation scan, payload O(columns) at any scale).
    obs = Observation(f"write_{table}_{ref_ym}")
    observed = silver.observe(
        obs,
        F.count(F.lit(1)).alias("n_written"),
        *observed_check_metrics(table),
    )

    # Dynamic partition overwrite: only the ref_ym partition is
    # replaced — the Spark-native TRUNCATE-per-month (reference A11)
    # with atomicity per partition.
    _clear_stale_staging(f"{out_dir}/{table}")
    (
        observed.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("ref_ym")
        .parquet(f"{out_dir}/{table}")
    )
    n_written = int(obs.get["n_written"])

    raw_metrics = raw_obs.get
    n_raw = int(raw_metrics["n_raw"])
    n_corrupt = int(raw_metrics["n_corrupt"])
    n_clean = n_raw - n_corrupt

    if quarantine and n_corrupt > 0:
        _clear_stale_staging(f"{out_dir}/_quarantine/{table}")
        (
            # full row width: a projection of only the corrupt column
            # is rejected on raw CSV scans (see sources.rfb_csv).
            # DYNAMIC overwrite (r09 review): the default static mode
            # truncated the whole quarantine table, destroying other
            # months' quarantined evidence.
            corrupt.withColumn("ref_ym", F.lit(ref_ym))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("ref_ym")
            .parquet(f"{out_dir}/_quarantine/{table}")
        )
    elif quarantine:
        # a clean RE-run must not leave the previous attempt's stale
        # quarantine partition claiming corruption that no longer
        # exists (r09 review); dynamic overwrite with an empty frame
        # touches nothing, so the partition is removed explicitly
        _clear_quarantine_partition(out_dir, table, ref_ym)

    metrics = dict(obs.get)
    n_dups = 0
    if keys:
        # duplicate-key detection needs a groupBy (not expressible as an
        # observe metric); read back only the key columns for it.
        written = spark.read.parquet(f"{out_dir}/{table}").filter(
            F.col("ref_ym") == ref_ym
        )
        n_dups = v5_duplicate_keys(written.select(*keys), keys).count()
    validations = report_from_metrics(metrics, table, n_duplicate_keys=n_dups)
    validations["count_gate"] = v1_count_reconciliation(
        n_clean, n_written, label=f"{table}@{ref_ym}"
    )

    return LoadResult(
        table=table,
        ref_ym=ref_ym,
        n_raw=n_raw,
        n_clean=n_clean,
        n_corrupt=n_corrupt,
        n_written=n_written,
        validations=validations,
    )
