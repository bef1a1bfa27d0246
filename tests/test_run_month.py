"""run_month's driver-side control plane and concurrent table loads:
a caller's job group reaches every load job, a finished month re-runs
without a single Spark job, a raising load fails the month without
recording the load stage, and manifests written through the DataFrame
views resume unchanged."""

from __future__ import annotations

import json
import os
import threading
import zipfile
from contextlib import contextmanager

import pytest

from rfb_data_pipeline_spark.pipeline import alerting
from rfb_data_pipeline_spark.pipeline import manifest as mf
from rfb_data_pipeline_spark.pipeline import run as run_mod
from rfb_data_pipeline_spark.pipeline.discovery import discover_files
from rfb_data_pipeline_spark.pipeline.run import RunConfig, final_report, run_month
from tests.test_orchestrator import CNAES, EMPRESAS, _file_fetch, _file_stream, _listing_html

SOCIOS = "00000001;2;JOAO DA SILVA;***123456**;49;20200101;;;;49;4\n"
ZIPS = {
    "Empresas0.zip": ("K001.EMPRECSV", EMPRESAS[0] + "\n"),
    "Empresas1.zip": ("K002.EMPRECSV", EMPRESAS[1] + "\n"),
    "Cnaes.zip": ("K003.CNAECSV", "\n".join(CNAES) + "\n"),
    "Socios0.zip": ("K004.SOCIOCSV", SOCIOS),
}
TABLES = ["rfb_cnaes", "rfb_empresas", "rfb_socios"]


@pytest.fixture()
def cfg(tmp_path):
    """A healthy four-zip, three-table month behind a file:// listing."""
    p = tmp_path / "portal"
    p.mkdir()
    for name, (member, text) in ZIPS.items():
        with zipfile.ZipFile(p / name, "w") as zf:
            zf.writestr(member, text.encode("latin-1"))
    (p / "index.html").write_text(_listing_html(list(ZIPS)))
    return RunConfig(
        base_url=f"file://{p}/index.html",
        work_dir=str(tmp_path / "work"),
        out_dir=str(tmp_path / "silver"),
        ref_ym="202405",
        fetch=_file_fetch,
        stream=_file_stream,
    )


GROUP = "spark.jobGroup.id"


@contextmanager
def _job_group(spark, group: str):
    sc = spark.sparkContext
    sc.setLocalProperty(GROUP, group)
    try:
        yield
    finally:
        sc.setLocalProperty(GROUP, None)


def _ungrouped_jobs(spark) -> set[int]:
    return set(spark.sparkContext.statusTracker().getJobIdsForGroup(None))


def _all_done(path: str) -> bool:
    return all(
        [r[f"status_{s}"] for s in mf.STAGES] == [mf.SUCCESS] * 4
        for r in mf.read_records(path)
    )


def test_caller_job_group_tags_every_load_job(spark, cfg):
    before = _ungrouped_jobs(spark)
    with _job_group(spark, "run-month-group"):
        report = run_month(spark, cfg)
    assert [lr.table for lr in report.loads] == TABLES
    assert report.passed
    tracker = spark.sparkContext.statusTracker()
    assert len(tracker.getJobIdsForGroup("run-month-group")) >= len(TABLES)
    assert _ungrouped_jobs(spark) - before == set()


def test_each_load_thread_owns_its_spark_properties(spark, cfg, monkeypatch):
    """A load that sets its own job group (a tracer's span, say) must
    not retag its siblings: every thread gets its own clone of the
    caller's properties. The barrier holds every load until all have
    set their group, which also proves they run at the same time."""
    real = run_mod.load_table
    barrier = threading.Barrier(len(TABLES), timeout=60)
    seen = {}

    def tagged(spark, table, *args, **kwargs):
        sc = spark.sparkContext
        inherited = sc.getLocalProperty(GROUP)
        sc.setLocalProperty(GROUP, f"load-{table}")
        barrier.wait()
        seen[table] = (inherited, sc.getLocalProperty(GROUP))
        return real(spark, table, *args, **kwargs)

    monkeypatch.setattr(run_mod, "load_table", tagged)
    with _job_group(spark, "run-month-caller"):
        run_month(spark, cfg)
    assert seen == {t: ("run-month-caller", f"load-{t}") for t in TABLES}
    tracker = spark.sparkContext.statusTracker()
    assert all(tracker.getJobIdsForGroup(f"load-{t}") for t in TABLES)


def test_rerun_of_finished_month_submits_no_jobs(spark, cfg):
    run_month(spark, cfg)
    before = _ungrouped_jobs(spark)
    with _job_group(spark, "run-month-rerun"):
        report = run_month(spark, cfg)
    assert report.loads == []
    tracker = spark.sparkContext.statusTracker()
    assert tracker.getJobIdsForGroup("run-month-rerun") == []
    assert _ungrouped_jobs(spark) - before == set()
    assert _all_done(report.manifest_path)


def test_raising_load_fails_month_and_resume_reloads_it(spark, cfg, monkeypatch):
    real = run_mod.load_table
    finished = []

    def flaky(spark, table, *args, **kwargs):
        if table != "rfb_cnaes":
            raise RuntimeError(f"disk full under {table}")
        out = real(spark, table, *args, **kwargs)
        finished.append(table)
        return out

    monkeypatch.setattr(run_mod, "load_table", flaky)
    with pytest.raises(RuntimeError, match="disk full under rfb_empresas") as exc:
        run_month(spark, cfg)
    assert "disk full under rfb_socios" in "".join(exc.value.__notes__)
    # the pool drained before the raise, and the load stage stayed open
    assert finished == ["rfb_cnaes"]
    path = os.path.join(cfg.work_dir, f"manifesto_{cfg.ref_ym}.json")
    assert {r["status_carga"] for r in mf.read_records(path)} == {mf.PENDING}

    monkeypatch.setattr(run_mod, "load_table", real)
    report = run_month(spark, cfg)
    assert [lr.table for lr in report.loads] == TABLES
    assert report.passed
    assert _all_done(report.manifest_path)


def test_frame_written_manifest_resumes_and_new_file_reads_back(spark, cfg, tmp_path):
    path = os.path.join(cfg.work_dir, f"manifesto_{cfg.ref_ym}.json")
    files = discover_files(cfg.base_url, cfg.fetch)
    mf.save_manifest(mf.new_manifest(spark, files), path)
    with open(path, "rb") as f:
        assert f.read() == json.dumps(
            mf.new_records(files), ensure_ascii=False, indent=1
        ).encode()

    report = run_month(spark, cfg)
    assert [lr.table for lr in report.loads] == TABLES
    assert _all_done(path)

    # the new code's file reads back unchanged through the frame views
    frame = mf.load_manifest(spark, path)
    assert [r.asDict(recursive=True) for r in frame.collect()] == mf.read_records(path)
    copy = str(tmp_path / "copy.json")
    mf.save_manifest(frame, copy)
    with open(copy, "rb") as a, open(path, "rb") as b:
        assert a.read() == b.read()
    tally = {r.status_carga: r.n_files for r in final_report(spark, path).collect()}
    assert tally == {mf.SUCCESS: len(ZIPS)}
    assert alerting.evaluate_run(frame, cfg.ref_ym).severity == "success"


def test_load_clears_a_killed_writers_staging_dir(spark, cfg):
    """A driver killed mid-write leaves its dynamic-overwrite staging
    dir behind; the next load of that table removes it."""
    table_dir = os.path.join(cfg.out_dir, "rfb_cnaes")
    debris = os.path.join(table_dir, ".spark-staging-dead", "_temporary")
    os.makedirs(debris)
    open(os.path.join(debris, "part-0.parquet"), "w").close()
    run_month(spark, cfg)
    assert not [d for d in os.listdir(table_dir) if d.startswith(".spark-staging")]
