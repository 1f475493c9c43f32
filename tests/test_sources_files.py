"""CSV / telemetry / JSON source tests + runner CLI smoke."""

from __future__ import annotations

import json

from pyspark.sql import functions as F
import os
import subprocess
import sys
from pathlib import Path

import pytest

from cosmo_spark.sources.files import (
    read_ancillary_csv,
    read_json_states,
    read_mnemonic_descriptions,
    read_telemetry_series,
    write_results_csv,
)

#: the checkout these tests belong to; the CLI subprocess runs from it
REPO_ROOT = Path(__file__).resolve().parents[1]


def test_ancillary_csv_dedup(spark, tmp_path):
    p = tmp_path / "anc.csv"
    p.write_text(
        "ROOTNAME,PROP_TYP,APERXPOS,APERYPOS\n"
        "r1,CAL,1.0,311.0\n"
        "r1,CAL,1.0,311.0\n"   # duplicate rootname -> deduped
        "r2,GO,2.0,312.0\n"
    )
    df = read_ancillary_csv(spark, str(p))
    assert df.count() == 2
    r = {x.ROOTNAME: x.APERYPOS for x in df.collect()}
    assert r == {"r1": 311.0, "r2": 312.0}


def test_telemetry_series_from_filename(spark, tmp_path):
    (tmp_path / "LMMCETMP.txt").write_text("58000.0 20.5\n58001.0 21.5\n\n")
    df = read_telemetry_series(spark, str(tmp_path / "LMMCETMP.txt"))
    rows = df.orderBy("MJD").collect()
    assert [r.mnemonic for r in rows] == ["LMMCETMP", "LMMCETMP"]
    assert rows[0].MJD == 58000.0 and rows[0].Data == 20.5


def test_json_states(spark, tmp_path):
    p = tmp_path / "states.json"
    p.write_text(json.dumps({
        "LOSM1POS": {"G130M": 2.0, "G140L": 3.0},
        "LOSM2POS": {"MIRRORA": 1.0},
    }))
    df = read_json_states(spark, str(p))
    got = {(r.mnemonic, r.state): r.numeric for r in df.collect()}
    assert got == {
        ("LOSM1POS", "G130M"): 2.0,
        ("LOSM1POS", "G140L"): 3.0,
        ("LOSM2POS", "MIRRORA"): 1.0,
    }


def test_mnemonic_descriptions_csv(spark, tmp_path):
    p = tmp_path / "mn.csv"
    p.write_text("Mnemonic,Description\nLMMCETMP,MCE temperature\n")
    assert read_mnemonic_descriptions(spark, str(p)).first().Description == "MCE temperature"


def test_mnemonic_descriptions_native_xlsx(spark, tmp_path):
    """Native .xlsx via the stdlib codec (ref: pd.read_excel,
    telemetry_monitors.py:84)."""
    from cosmo_spark.sources.xlsx_io import write_xlsx

    p = tmp_path / "mn.xlsx"
    write_xlsx(str(p), [
        ["Mnemonic", "Description"],
        ["LMMCETMP", "MCE temperature"],
        ["LOSM1POS", "OSM1 position"],
    ])
    got = {r.Mnemonic: r.Description
           for r in read_mnemonic_descriptions(spark, str(p)).collect()}
    assert got == {"LMMCETMP": "MCE temperature", "LOSM1POS": "OSM1 position"}


def test_mnemonic_descriptions_legacy_xls(spark, tmp_path):
    """Legacy binary .xls via the CFB+BIFF8 codec (sources/xls_io) — the
    container the reference's real COSMnemonics.xls uses; full coverage in
    tests/test_xls_io.py."""
    from cosmo_spark.sources.xls_io import write_xls

    p = tmp_path / "mn.xls"
    write_xls(str(p), [
        ["Mnemonic", "Description"], ["LMMCETMP", "MCE temperature"],
    ])
    assert read_mnemonic_descriptions(spark, str(p)).first().Description == "MCE temperature"


def test_xlsx_codec_roundtrip(tmp_path):
    from cosmo_spark.sources.xlsx_io import read_xlsx, write_xlsx

    p = str(tmp_path / "t.xlsx")
    write_xlsx(p, [["a", "b", "c"], ["x", 1, None], [None, 2.5, "z"]])
    rows = read_xlsx(p)
    assert rows == [["a", "b", "c"], ["x", "1", None], [None, "2.5", "z"]]


def test_write_results_csv_single_file(spark, tmp_path):
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id INT, v STRING")
    dest = str(tmp_path / "out")
    write_results_csv(df, dest)
    parts = [f for f in os.listdir(dest) if f.startswith("part-") and f.endswith(".csv")]
    assert len(parts) == 1


def test_runner_cli_end_to_end(spark, tmp_path):
    # build a tiny acq table, run the CLI as a subprocess, check CSV output
    acq = spark.createDataFrame(
        [("r1", "ACQ/IMAGE", 3.0, 4.0, 58000.0, "IMAGING", 3000.0, "Open",
          600.0, "Success", "NO", "1.001", "PSA", "MIRRORA", "F1", 0)],
        "ROOTNAME STRING, EXPTYPE STRING, ACQSLEWX DOUBLE, ACQSLEWY DOUBLE, "
        "EXPSTART DOUBLE, OBSTYPE STRING, NEVENTS DOUBLE, SHUTTER STRING, "
        "LAMPEVNT DOUBLE, ACQSTAT STRING, EXTENDED STRING, LINENUM STRING, "
        "APERTURE STRING, OPT_ELEM STRING, FGS STRING, CENWAVE LONG",
    )
    data_dir = tmp_path / "tables"
    acq.write.parquet(str(data_dir / "acq.parquet"))
    out_dir = tmp_path / "results"
    proc = subprocess.run(
        [sys.executable, "-m", "cosmo_spark.runner", "--cadence", "monthly",
         "--data-dir", str(data_dir), "--out", str(out_dir),
         "--figures", "--master", "local[2]"],
        capture_output=True, text=True, cwd=REPO_ROOT, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    written = os.listdir(out_dir)
    assert any(d.startswith("acq_image_") for d in written), written
    figures = os.listdir(out_dir / "figures")
    assert any(f.endswith(".html") for f in figures), figures


def test_attach_prop_typ(spark):
    from cosmo_spark.sources.files import attach_prop_typ

    df = spark.createDataFrame([("r1",), ("r2",)], "ROOTNAME STRING")
    anc = spark.createDataFrame(
        [("r1", "CAL"), ("r1", "CAL"), ("r9", "GO")],
        "ROOTNAME STRING, PROP_TYP STRING",
    )
    got = {r.ROOTNAME: r.PROP_TYP for r in attach_prop_typ(df, anc).collect()}
    assert got == {"r1": "CAL", "r2": None}  # dedupe + left join (ref :151-157)


# ----------------------------------------------------------- quarantine


def test_jsonl_quarantine_splits_and_retains_evidence(spark, tmp_path):
    """Per-record isolation: parseable rows flow, unparseable lines are
    retained verbatim in the quarantine channel (and at rest when a
    path is given) — never a whole-file abort, never silent drops."""
    from cosmo_spark.sources.files import read_jsonl_quarantine

    src = tmp_path / "in.jsonl"
    src.write_text(
        '{"doc_id": 1, "text": "alpha"}\n'
        "THIS IS NOT JSON\n"
        '{"doc_id": 2, "text": "beta"}\n'
        '{"doc_id": "not-an-int", "text": "gamma"}\n'
        '{broken\n'
    )
    qdir = tmp_path / "quarantine"
    clean, bad = read_jsonl_quarantine(
        spark, str(src), "doc_id BIGINT, text STRING", str(qdir)
    )
    got = {(r["doc_id"], r["text"]) for r in clean.collect()}
    assert got == {(1, "alpha"), (2, "beta")}
    # natural aggregate shapes plan directly on the returned channel
    # (advice r7: the cached frame lifts the corrupt-only-column
    # restriction — count() used to raise QUERY_ONLY_CORRUPT_RECORD_COLUMN)
    assert bad.count() == 3
    raws = [r["_corrupt_record"] for r in bad.collect()]
    assert len(raws) == 3
    assert "THIS IS NOT JSON" in raws and "{broken" in raws
    # at-rest evidence matches the channel (the parquet quarantine is
    # the aggregable copy — the raw reader refuses corrupt-only queries)
    ondisk = spark.read.parquet(str(qdir))
    assert ondisk.count() == 3
    assert ondisk.filter(F.col("_corrupt_record").isNotNull()).count() == 3


def test_jsonl_quarantine_all_clean_and_all_bad(spark, tmp_path):
    from cosmo_spark.sources.files import read_jsonl_quarantine

    ok = tmp_path / "ok.jsonl"
    ok.write_text('{"doc_id": 7, "text": "x"}\n')
    clean, bad = read_jsonl_quarantine(spark, str(ok), "doc_id BIGINT, text STRING")
    assert clean.count() == 1 and bad.count() == 0

    nope = tmp_path / "nope.jsonl"
    nope.write_text("}{\nnot json either\n")
    clean, bad = read_jsonl_quarantine(
        spark, str(nope), "doc_id BIGINT, text STRING"
    )
    assert clean.count() == 0 and bad.count() == 2


def test_csv_quarantine_splits(spark, tmp_path):
    from cosmo_spark.sources.files import read_csv_quarantine

    src = tmp_path / "in.csv"
    src.write_text(
        "1,alpha\n"
        "not-an-int,beta\n"
        "2,gamma\n"
        "3,delta,extra-column\n"
    )
    clean, bad = read_csv_quarantine(
        spark, str(src), "doc_id BIGINT, text STRING"
    )
    got = {(r["doc_id"], r["text"]) for r in clean.collect()}
    assert got == {(1, "alpha"), (2, "gamma")}
    assert bad.count() == 2  # aggregates plan on the cached channel
    raws = [r["_corrupt_record"] for r in bad.collect()]
    assert len(raws) == 2
    assert "not-an-int,beta" in raws and "3,delta,extra-column" in raws
