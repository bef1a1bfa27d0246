"""Manifest: the pipeline-state table (reference A19, src/main.py:29-77).

The reference keeps a JSON dict keyed by filename with a 4-stage
status machine (download → extracao → correcao → carga) persisted
after every mutation. The manifest is driver-scale (about 37 files a
month), so the orchestrator keeps it the same way: a list of plain
records on the driver, one dict per file in ``MANIFEST_SCHEMA`` field
order, read, filtered, updated and written without any Spark job
(``read_records`` / ``pending_records`` / ``update_records`` /
``write_records``). Each stage selects its work with the reference's
status predicates (A14) and completes by an atomic overwrite of the
JSON file. Crash-resume = reload + re-filter, exactly the reference's
semantics (§3.2) without per-mutation file writes.

The DataFrame functions (``new_manifest``, ``load_manifest``,
``save_manifest``, ``pending_for_stage``, ``apply_updates``,
``status_report``) are views of the same records and the same file
format for callers that want a frame: alerting, reports and tests.
The lattice filter and the coalescing update exist once per side;
``tests/test_manifest_records.py`` pins the two to each other.
"""

from __future__ import annotations

import json
import os
import tempfile
from collections.abc import Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

PENDING = "pendente"
SUCCESS = "sucesso"
FAILED = "falhou"
IGNORED = "ignorada"

STAGES = ("download", "extracao", "correcao", "carga")

MANIFEST_SCHEMA = StructType(
    [
        StructField("arquivo", StringType(), False),
        StructField("url", StringType(), True),
        StructField("status_download", StringType(), False),
        StructField("status_extracao", StringType(), False),
        StructField("status_correcao", StringType(), False),
        StructField("status_carga", StringType(), False),
        StructField("tentativas_download", IntegerType(), False),
        StructField("caminho_zip", StringType(), True),
        StructField("arquivos_extraidos", ArrayType(StringType()), True),
        StructField(
            "validacoes",
            StructType(
                [
                    StructField("linhas_originais", LongType(), True),
                    StructField("linhas_corrigidas", LongType(), True),
                    StructField("registros_no_banco", LongType(), True),
                ]
            ),
            True,
        ),
    ]
)

_FIELDS = MANIFEST_SCHEMA.fieldNames()
_VAL_FIELDS = MANIFEST_SCHEMA["validacoes"].dataType.fieldNames()  # type: ignore[union-attr]


# ---- records: the driver-side manifest


def new_records(files: Iterable[tuple[str, str]]) -> list[dict]:
    """Fresh manifest from (arquivo, url) pairs — all stages pending
    (reference src/main.py:62-71)."""
    return [
        {
            "arquivo": arquivo,
            "url": url,
            **{f"status_{s}": PENDING for s in STAGES},
            "tentativas_download": 0,
            "caminho_zip": None,
            "arquivos_extraidos": [],
            "validacoes": dict.fromkeys(_VAL_FIELDS),
        }
        for arquivo, url in files
    ]


def _canonical(rec: dict) -> dict:
    """``rec`` in schema field order, ``validacoes`` looked up BY NAME:
    a hand-edited or key-sorted manifest would otherwise carry its key
    order into the next write, and a positional reader would load its
    counts into the wrong slots."""
    out = {name: rec[name] for name in _FIELDS}
    if out["validacoes"] is not None:
        out["validacoes"] = {f: out["validacoes"].get(f) for f in _VAL_FIELDS}
    return out


def read_records(path: str) -> list[dict]:
    with open(path, encoding="utf-8") as f:
        return [_canonical(rec) for rec in json.load(f)]


def write_records(records: list[dict], path: str) -> None:
    """Atomic single-file JSON save.

    Control-plane cap: the whole manifest is rewritten per stage, which
    is bounded by the file count of one monthly drop (tens of rows),
    never by data volume. If a future source produced manifests beyond
    ~10^5 rows, switch to a partitioned parquet/Delta manifest and
    per-stage predicate updates instead of whole-file rewrites."""
    d = os.path.dirname(os.path.abspath(path))
    os.makedirs(d, exist_ok=True)
    fd, tmp = tempfile.mkstemp(dir=d, suffix=".tmp")
    with os.fdopen(fd, "w", encoding="utf-8") as f:
        json.dump(records, f, ensure_ascii=False, indent=1)
    os.replace(tmp, path)


def pending_records(records: list[dict], stage: str) -> list[dict]:
    """Work selection per stage — the reference's status lattice
    (src/main.py:82,108,125,183): a stage runs when it is pending and
    every earlier stage succeeded."""
    if stage not in STAGES:
        raise ValueError(f"unknown stage {stage!r}")
    earlier = STAGES[: STAGES.index(stage)]
    return [
        r
        for r in records
        if r[f"status_{stage}"] == PENDING
        and all(r[f"status_{s}"] == SUCCESS for s in earlier)
    ]


def update_records(records: list[dict], updates: Iterable[dict]) -> list[dict]:
    """Merge per-file updates into the manifest, keyed by ``arquivo``.
    Each update carries ``arquivo`` plus any subset of the manifest's
    fields; a non-None value wins and None keeps the old one (the
    coalesce of ``apply_updates``). Updates for unknown files are
    dropped, like the left join there; the input is not mutated."""
    by_name: dict[str, dict] = {}
    for u in updates:
        new = {k: v for k, v in u.items() if k != "arquivo" and v is not None}
        by_name.setdefault(u["arquivo"], {}).update(new)
    return [{**r, **by_name[r["arquivo"]]} if r["arquivo"] in by_name else r for r in records]


# ---- DataFrame views of the same manifest


def to_frame(spark: SparkSession, records: list[dict]) -> DataFrame:
    rows = [
        tuple(
            tuple(rec[name].get(f) for f in _VAL_FIELDS)
            if name == "validacoes" and rec[name] is not None
            else rec[name]
            for name in _FIELDS
        )
        for rec in records
    ]
    return spark.createDataFrame(rows, MANIFEST_SCHEMA)


def new_manifest(spark: SparkSession, files: list[tuple[str, str]]) -> DataFrame:
    return to_frame(spark, new_records(files))


def load_manifest(spark: SparkSession, path: str) -> DataFrame:
    return to_frame(spark, read_records(path))


def save_manifest(manifest: DataFrame, path: str) -> None:
    write_records([r.asDict(recursive=True) for r in manifest.collect()], path)


def load_or_create(
    spark: SparkSession, path: str, files: list[tuple[str, str]]
) -> DataFrame:
    """Resume semantics (reference src/main.py:51-53): reuse the
    existing manifest if present, else plan a fresh one."""
    if os.path.exists(path):
        return load_manifest(spark, path)
    return new_manifest(spark, files)


def pending_for_stage(manifest: DataFrame, stage: str) -> DataFrame:
    """``pending_records`` as a filter expression."""
    if stage not in STAGES:
        raise ValueError(f"unknown stage {stage!r}")
    cond = F.col(f"status_{stage}") == PENDING
    for earlier in STAGES[: STAGES.index(stage)]:
        cond &= F.col(f"status_{earlier}") == SUCCESS
    return manifest.filter(cond)


def apply_updates(manifest: DataFrame, updates: DataFrame) -> DataFrame:
    """``update_records`` as a join: ``updates`` carries ``arquivo``
    plus any subset of manifest columns prefixed ``new_``; update
    columns win via coalesce."""
    joined = manifest.join(updates, "arquivo", "left")
    out_cols = []
    for f in MANIFEST_SCHEMA.fields:
        if f.name == "arquivo":
            out_cols.append(F.col("arquivo"))
        elif f"new_{f.name}" in updates.columns:
            out_cols.append(
                F.coalesce(F.col(f"new_{f.name}"), F.col(f.name)).alias(f.name)
            )
        else:
            out_cols.append(F.col(f.name))
    return joined.select(*out_cols)


def status_report(manifest: DataFrame) -> DataFrame:
    """Final tally (reference A16, src/main.py:222-237) as a DataFrame."""
    return manifest.groupBy("status_carga").agg(
        F.count(F.lit(1)).alias("n_files"),
        F.collect_list(F.when(F.col("status_carga") != SUCCESS, F.col("arquivo"))).alias(
            "files"
        ),
    )
