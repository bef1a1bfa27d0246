"""Monthly-run orchestrator: the reference's full lifecycle
(§3.1 plan → download → extract → correct → load → report) with the
§3.2 resume semantics, on Spark.

Stage-by-stage, each selecting its work from the manifest with the
reference's status lattice (src/main.py:82,108,125,183), completing
with a manifest update, persisted once per stage (the reference saves
after every single mutation — src/main.py:103,120,162,220 — which at
37 files/month is pure overhead; per-stage persistence gives the same
crash-resume granularity the status lattice can actually express).

The control plane runs on the driver: the manifest is a list of plain
records (``manifest.read_records`` and friends), so planning, download,
extraction, the completeness gate and the final bookkeeping run no
Spark job, and re-running a finished month submits none at all. Spark
work happens only inside ``load_table``.

Self-heal: a corrupt archive at the extract stage resets its
status_download to 'pendente' (reference src/main.py:116-119), so the
next run re-downloads it.

The correct+load stages collapse into one distributed pass per table
(read CSV with the sniffed encoding → silver → partitioned parquet):
the reference's intermediate '__corrigido' file copy exists only to
feed pandas a clean UTF-8 file, which the Spark reader does not need.
The month's tables load concurrently, one thread per table, each
thread starting from a clone of the caller's Spark thread properties
(job group, scheduler pool), so a caller's job group tags every load
job. Results come back in sorted-table order; if any load raises,
``run_month`` re-raises once every load has finished and records no
load-stage update, so the resume reloads those tables.
"""

from __future__ import annotations

import os
import zipfile
from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession

from rfb_data_pipeline_spark.pipeline import manifest as mf
from rfb_data_pipeline_spark.pipeline.discovery import default_fetch, discover_files
from rfb_data_pipeline_spark.pipeline.download import (
    default_stream,
    download_pending,
)
from rfb_data_pipeline_spark.pipeline.ingest import LoadResult, load_table
from rfb_data_pipeline_spark.sources.encoding import sniff_encoding
from rfb_data_pipeline_spark.sources.rfb_csv import route_table_py


@dataclass
class RunConfig:
    base_url: str
    work_dir: str
    out_dir: str
    ref_ym: str
    fetch: Callable[[str], str] = default_fetch
    stream: Callable[[str, str], int] = default_stream
    backoff_sec: float = 0.0  # reference uses 5 s; tests want 0


@dataclass
class RunReport:
    loads: list[LoadResult] = field(default_factory=list)
    manifest_path: str = ""
    # files whose download/extract has not succeeded when the load
    # stage came up — the tables they feed are HELD (not loaded, their
    # contributing files left pending) rather than risking a partial
    # (table, ref_ym) overwrite; alerting reports the incompleteness
    held_for: list[str] = field(default_factory=list)

    @property
    def passed(self) -> bool:
        return all(lr.passed for lr in self.loads)


def _route_one(filename: str) -> str | None:
    return route_table_py(filename)


def _zip_expected_table(zip_name: str) -> str | None:
    """Table a portal zip is expected to feed, from its name stem
    (``Empresas3.zip`` → ``rfb_empresas``) — the dados-abertos naming
    contract. None for unrecognized names (callers treat that
    conservatively)."""
    import re

    from rfb_data_pipeline_spark.schemas import TABLE_SCHEMAS

    stem = re.sub(r"\d+$", "", zip_name.rsplit(".", 1)[0]).lower()
    t = f"rfb_{stem}"
    return t if t in TABLE_SCHEMAS else None


def run_month(spark: SparkSession, cfg: RunConfig) -> RunReport:
    os.makedirs(cfg.work_dir, exist_ok=True)
    zips_dir = os.path.join(cfg.work_dir, "zips")
    extract_dir = os.path.join(cfg.work_dir, "extracted")
    os.makedirs(zips_dir, exist_ok=True)
    os.makedirs(extract_dir, exist_ok=True)
    manifest_path = os.path.join(cfg.work_dir, f"manifesto_{cfg.ref_ym}.json")

    # ---- plan (A1; resume short-circuits like src/main.py:51-53)
    if os.path.exists(manifest_path):
        manifest = mf.read_records(manifest_path)
    else:
        manifest = mf.new_records(discover_files(cfg.base_url, cfg.fetch))

    # ---- download (A2/A21)
    todo = [
        (r["arquivo"], r["url"], os.path.join(zips_dir, r["arquivo"]))
        for r in mf.pending_records(manifest, "download")
    ]
    if todo:
        results = download_pending(todo, stream=cfg.stream, backoff_sec=cfg.backoff_sec)
        manifest = mf.update_records(
            manifest,
            [
                {
                    "arquivo": r["arquivo"],
                    "status_download": mf.SUCCESS if r["ok"] else mf.FAILED,
                    "tentativas_download": r["attempts"],
                    "caminho_zip": r["caminho_zip"],
                }
                for r in results
            ],
        )
        mf.write_records(manifest, manifest_path)

    # ---- extract (A3, with BadZipFile self-heal)
    updates = []
    for r in mf.pending_records(manifest, "extracao"):
        try:
            with zipfile.ZipFile(r["caminho_zip"]) as zf:
                members = [m for m in zf.namelist() if not m.endswith("/")]
                zf.extractall(extract_dir)
            updates.append(
                {
                    "arquivo": r["arquivo"],
                    "status_extracao": mf.SUCCESS,
                    "status_correcao": mf.PENDING,
                    "arquivos_extraidos": members,
                }
            )
        except (zipfile.BadZipFile, OSError):
            # self-heal: reopen the download stage (src/main.py:116-119);
            # a fresh download must re-run, FAILED would stop the lattice.
            # OSError covers the zip VANISHING between runs (a crash
            # after the per-row os.remove but before the stage's
            # manifest save left caminho_zip dangling — r09 review:
            # FileNotFoundError used to abort run_month on every
            # resume until the manifest was hand-edited)
            if r["caminho_zip"] and os.path.exists(r["caminho_zip"]):
                os.remove(r["caminho_zip"])
            updates.append(
                {
                    "arquivo": r["arquivo"],
                    "status_download": mf.PENDING,
                    "status_extracao": mf.PENDING,
                }
            )
    if updates:
        manifest = mf.update_records(manifest, updates)
        mf.write_records(manifest, manifest_path)

    # ---- correct + load (A4-A13, A15) — grouped by ROUTED TABLE, not
    # by file: real months ship multi-part tables (Empresas0..9 all
    # route to rfb_empresas) and load_table's atomic partition
    # overwrite replaces the whole (table, ref_ym) partition, so each
    # table must load exactly once per month with every part in one
    # csv_paths list (round-2 ADVICE, high — the reference has the
    # same TRUNCATE-per-file quirk at src/main.py:200; we fix it).
    report = RunReport(manifest_path=manifest_path)
    pending = mf.pending_records(manifest, "correcao")
    # Completeness gate (r09 review): a file that has not extracted
    # has unknown members, and load_table's atomic partition overwrite
    # demands EVERY part of a table in one call — loading around a
    # failed Empresas3.zip would silently ship a 90%-complete
    # rfb_empresas partition marked sucesso. The portal's naming
    # contract identifies each zip's table (Empresas3.zip →
    # rfb_empresas), so only the AFFECTED tables are held (their
    # contributing files stay pending for the resume); an
    # unrecognizable zip name conservatively holds everything.
    held_tables: set[str] = set()
    hold_all = False
    incomplete_files = []
    for r in manifest:
        if r["status_extracao"] == mf.SUCCESS:
            continue
        incomplete_files.append(r["arquivo"])
        t = _zip_expected_table(r["arquivo"])
        if t is None:
            hold_all = True
        else:
            held_tables.add(t)
    if pending and incomplete_files:
        report.held_for = sorted(incomplete_files)
    # Group by routed table over ALL extracted files — not only the
    # correcao-pending ones: on a resume where one part's zip was
    # reset and re-done, the table must still re-load with its
    # already-loaded sibling parts in the same csv_paths list, or the
    # partition overwrite would clobber them (r09 review).
    zip_tables: dict[str, set[str | None]] = {}
    table_inputs: dict[str, list[str]] = {}
    table_encodings: dict[str, dict[str, str]] = {}
    pending_names = {r["arquivo"] for r in pending}
    tables_to_load: set[str] = set()
    member_owner: dict[str, str] = {}
    for r in manifest if pending else []:
        if r["status_extracao"] != mf.SUCCESS:
            continue
        arquivo = r["arquivo"]
        zip_tables[arquivo] = set()
        for member in r["arquivos_extraidos"] or []:
            path = os.path.join(extract_dir, member)
            table = _route_one(member)
            zip_tables[arquivo].add(table)
            if table is None:
                # An unroutable member (readme/layout file) never
                # feeds csv_paths, so a cross-zip name collision on it
                # cannot double-count rows — not worth aborting the
                # month over (ADVICE r11). It still can't claim
                # ownership of a loadable name, so skip before the
                # owner bookkeeping.
                continue
            # ROUTABLE member names must be UNIQUE across the month:
            # every zip extracts into one shared dir, so a repeated
            # name means the extracted file's content is whichever zip
            # ran last — and the repeated path would ride csv_paths
            # twice, double-reading its rows past the count gate
            # (which compares two counts of the same doubled scan).
            # Silent data corruption either way: fail loud (r11
            # review; the real portal's member names are unique by
            # contract).
            owner = member_owner.setdefault(member, arquivo)
            if owner != arquivo:
                raise RuntimeError(
                    f"extracted member name collision: {member!r} is "
                    f"claimed by both {owner!r} and {arquivo!r} — the "
                    "shared extract dir holds only one of the two "
                    "files, and loading it twice would double its "
                    "rows. The month's drop violates the unique-name "
                    "contract; inspect the portal listing."
                )
            if path in table_inputs.get(table, ()):  # same zip listed
                # the member twice (duplicate entries in one archive:
                # extractall kept one file; counting it once is the
                # only consistent reading)
                continue
            table_inputs.setdefault(table, []).append(path)
            table_encodings.setdefault(table, {})[path] = sniff_encoding(path)
            if arquivo in pending_names:
                tables_to_load.add(table)

    if hold_all:
        tables_to_load = set()
    else:
        tables_to_load -= held_tables

    # One thread per table: the loads are independent partition
    # overwrites, and most tables are too small to fill the cores on
    # their own. Each thread starts from the caller's Spark thread
    # properties (job group, scheduler pool), cloned per SUBMISSION: a
    # wrapper made once shares one clone among all threads, so a load
    # that sets its own job group would retag its siblings' jobs.
    tables = sorted(tables_to_load)
    if tables:
        with ThreadPoolExecutor(max_workers=len(tables)) as pool:
            futures = [
                pool.submit(
                    inheritable_thread_target(spark)(load_table),
                    spark,
                    table,
                    table_inputs[table],
                    cfg.out_dir,
                    ref_ym=cfg.ref_ym,
                    encoding=table_encodings[table],
                )
                for table in tables
            ]
        # every load has finished here. A failure re-raises (the first
        # in table order, naming the others) and leaves the load stage
        # unrecorded, so the resume reloads those tables.
        failures = [(t, f.exception()) for t, f in zip(tables, futures) if f.exception()]
        if failures:
            first = failures[0][1]
            for t, exc in failures[1:]:
                first.add_note(f"the load of {t} failed too: {exc!r}")
            raise first
        report.loads = [f.result() for f in futures]
    table_passed = {lr.table: lr.passed for lr in report.loads}

    if pending:
        updates = []
        for r in pending:
            member_tables = zip_tables[r["arquivo"]]
            routed = {t for t in member_tables if t is not None}
            if routed and not routed <= set(table_passed):
                # routes to a HELD table: this run did not load it, so
                # the file stays pending for the resume
                continue
            if routed and any(not table_passed[t] for t in routed):
                final = mf.FAILED
            elif not routed and member_tables:
                final = mf.IGNORED
            else:
                final = mf.SUCCESS
            updates.append(
                {"arquivo": r["arquivo"], "status_correcao": mf.SUCCESS, "status_carga": final}
            )
        manifest = mf.update_records(manifest, updates)
        mf.write_records(manifest, manifest_path)

    return report


def final_report(spark: SparkSession, manifest_path: str) -> DataFrame:
    """The A16 tally as a DataFrame (print-side effects belong to the
    caller, not the engine — READme.md:33-34's e-mail hook)."""
    return mf.status_report(mf.load_manifest(spark, manifest_path))
