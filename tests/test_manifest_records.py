"""The driver-side manifest records against their DataFrame views:
the lattice filter and the coalescing update must agree row for row,
and the JSON file must round-trip byte for byte through both."""

from __future__ import annotations

import itertools

import pytest

from rfb_data_pipeline_spark.pipeline import manifest as mf

STATUSES = (mf.PENDING, mf.SUCCESS, mf.FAILED, mf.IGNORED)


def _all_status_records() -> list[dict]:
    """One record per combination of the four stage statuses (4⁴)."""
    recs = mf.new_records(
        (f"f{i:03d}.zip", f"u{i}") for i in range(len(STATUSES) ** len(mf.STAGES))
    )
    for rec, combo in zip(recs, itertools.product(STATUSES, repeat=len(mf.STAGES))):
        rec.update({f"status_{s}": st for s, st in zip(mf.STAGES, combo)})
    return recs


def _rows(frame) -> list[dict]:
    return sorted((r.asDict(recursive=True) for r in frame.collect()), key=lambda r: r["arquivo"])


def test_pending_records_match_pending_for_stage(spark):
    recs = _all_status_records()
    frame = mf.to_frame(spark, recs)
    for stage in mf.STAGES:
        want = sorted(r.arquivo for r in mf.pending_for_stage(frame, stage).collect())
        got = sorted(r["arquivo"] for r in mf.pending_records(recs, stage))
        assert got == want, stage
        assert got, f"no combination is pending for {stage}"
    with pytest.raises(ValueError):
        mf.pending_records(recs, "nope")


def test_update_records_match_apply_updates(spark):
    recs = mf.new_records([("A.zip", "ua"), ("B.zip", "ub"), ("C.zip", "uc")])
    recs = mf.update_records(recs, [{"arquivo": "B.zip", "caminho_zip": "/z/B.zip"}])
    updates = [
        # None keeps the old value, on both sides
        ("A.zip", mf.SUCCESS, None, 3, ["a.csv"]),
        ("B.zip", mf.FAILED, None, None, None),
        ("Z.zip", mf.SUCCESS, mf.SUCCESS, 1, []),  # not in the manifest
    ]
    cols = ["status_download", "caminho_zip", "tentativas_download", "arquivos_extraidos"]
    frame_updates = spark.createDataFrame(
        updates,
        "arquivo string, new_status_download string, new_caminho_zip string, "
        "new_tentativas_download int, new_arquivos_extraidos array<string>",
    )
    want = _rows(mf.apply_updates(mf.to_frame(spark, recs), frame_updates))
    got = mf.update_records(recs, [dict(zip(["arquivo", *cols], u)) for u in updates])
    assert got == want
    assert got[1]["caminho_zip"] == "/z/B.zip"  # the None update kept it
    assert recs[0]["status_download"] == mf.PENDING  # input not mutated


def test_record_file_is_byte_compatible_with_frame_path(spark, tmp_path):
    recs = mf.update_records(
        mf.new_records([("Empresas0.zip", "u0"), ("Cnaes.zip", "u1")]),
        [{"arquivo": "Cnaes.zip", "status_download": mf.SUCCESS, "arquivos_extraidos": ["Ç.CSV"]}],
    )
    by_records = tmp_path / "records.json"
    by_frame = tmp_path / "frame.json"
    mf.write_records(recs, str(by_records))
    mf.save_manifest(mf.to_frame(spark, recs), str(by_frame))
    assert by_records.read_bytes() == by_frame.read_bytes()
    assert mf.read_records(str(by_frame)) == recs
    assert _rows(mf.load_manifest(spark, str(by_records))) == sorted(
        recs, key=lambda r: r["arquivo"]
    )
