"""The SMS ingest round (``cosmo --ingest`` analog) driven through
``runner.main`` in-process on the session fixture: a round parses only
the reports the finder flags as new, and the ``sms_file_stats`` log is the
commit marker — a report whose rows did not land is never logged, so the
next run redoes it (ref: SMSFinder + ingest_files,
cosmo/sms/ingest_sms.py:201-301)."""

from __future__ import annotations

import os

import pytest

import cosmo_spark.operators.merge as merge_mod
import cosmo_spark.sources.sms as sms_mod
from cosmo_spark import runner
from cosmo_spark.sources.sms import SmsParseError
from cosmo_spark.sources.versioned import read_current

LINE = (
    "{exp} {root} 14440 FUV TIME-TAG 1330.0 2018.016:00:00:11 163/163 PSA "
    "G130M N/A 1291 -1 {t1} 25111.0\n"
)


def write_report(sms_dir, name, exposures, t1=125111.0):
    body = "# SMS schedule report\n" + "".join(
        LINE.format(exp=exp, root=f"ld{exp[-4:].lower()}", t1=t1)
        for exp in exposures
    )
    (sms_dir / name).write_text(body)


@pytest.fixture
def dirs(spark, tmp_path, monkeypatch):
    """Landing and store dirs; ``runner.main`` gets the fixture session."""
    monkeypatch.setattr("cosmo_spark.session.get_spark", lambda **kw: spark)
    sms_dir, data_dir = tmp_path / "sms", tmp_path / "tables"
    sms_dir.mkdir()
    data_dir.mkdir()
    return sms_dir, data_dir


def ingest(sms_dir, data_dir) -> int:
    return runner.main(["--ingest", str(sms_dir), "--data-dir", str(data_dir)])


def logged(spark, data_dir) -> set[str]:
    path = os.path.join(data_dir, "sms_file_stats.parquet")
    if not os.path.exists(path):
        return set()
    return {r.FILEID for r in read_current(spark, path).collect()}


def exposures(spark, data_dir) -> dict[str, tuple]:
    path = os.path.join(data_dir, "sms_exposures.parquet")
    if not os.path.exists(path):
        return {}
    return {
        r.EXPOSURE: (r.FILEID, r.TSINCEOSM1)
        for r in read_current(spark, path).collect()
    }


def test_round_parses_only_new_reports(spark, dirs, monkeypatch, capsys):
    sms_dir, data_dir = dirs
    write_report(sms_dir, "181137b4.txt", ["DQ01K01", "DQ01K02"], t1=1.0)
    write_report(sms_dir, "181150a1.txt", ["DQ02K01"])
    assert ingest(sms_dir, data_dir) == 0
    assert logged(spark, data_dir) == {"181137b4", "181150a1"}

    parsed: list = []
    real_parse = sms_mod.parse_sms_reports

    def spy(spark_, path, *a, **kw):
        parsed.append(path)
        return real_parse(spark_, path, *a, **kw)

    monkeypatch.setattr(sms_mod, "parse_sms_reports", spy)
    # a new SMS and a superseding version of an ingested one
    write_report(sms_dir, "181160a1.txt", ["DQ03K01"])
    write_report(sms_dir, "181137c2.txt", ["DQ01K01"], t1=2.0)
    capsys.readouterr()
    assert ingest(sms_dir, data_dir) == 0
    out = capsys.readouterr().out
    assert "2 new files" in out and "merged 2 exposure rows" in out
    assert [sorted(os.path.basename(f) for f in p) for p in parsed] == [
        ["181137c2.txt", "181160a1.txt"]
    ]
    # the log keeps one row per SMSID: the newer version replaces b4
    assert logged(spark, data_dir) == {"181137c2", "181150a1", "181160a1"}
    assert exposures(spark, data_dir) == {
        "DQ01K01": ("181137c2", 2.0),      # newer FILEID supersedes
        "DQ01K02": ("181137b4", 1.0),
        "DQ02K01": ("181150a1", 125111.0),
        "DQ03K01": ("181160a1", 125111.0),
    }

    # a round with nothing new parses nothing and publishes nothing
    parsed.clear()
    assert ingest(sms_dir, data_dir) == 0
    assert "0 new files" in capsys.readouterr().out
    assert parsed == []


def test_malformed_new_report_is_not_logged(spark, dirs):
    sms_dir, data_dir = dirs
    write_report(sms_dir, "181137c2.txt", ["DQ01K01"])
    assert ingest(sms_dir, data_dir) == 0

    (sms_dir / "181150a1.txt").write_text("# header\ngarbage line\n")
    with pytest.raises(SmsParseError):
        ingest(sms_dir, data_dir)
    assert logged(spark, data_dir) == {"181137c2"}
    assert set(exposures(spark, data_dir)) == {"DQ01K01"}

    # once the report is fixed, the next run ingests it
    write_report(sms_dir, "181150a1.txt", ["DQ02K01"])
    assert ingest(sms_dir, data_dir) == 0
    assert logged(spark, data_dir) == {"181137c2", "181150a1"}
    assert set(exposures(spark, data_dir)) == {"DQ01K01", "DQ02K01"}


def test_failure_between_publishes_is_retried(spark, dirs, monkeypatch):
    sms_dir, data_dir = dirs
    write_report(sms_dir, "181137c2.txt", ["DQ01K01", "DQ01K02"])
    real_merge = merge_mod.merge_into_path
    calls: list[str] = []

    def fail_second(spark_, path, *a, **kw):
        calls.append(os.path.basename(path))
        if len(calls) == 2:
            raise RuntimeError("crash between the two publishes")
        return real_merge(spark_, path, *a, **kw)

    monkeypatch.setattr(merge_mod, "merge_into_path", fail_second)
    with pytest.raises(RuntimeError, match="between the two publishes"):
        ingest(sms_dir, data_dir)
    assert logged(spark, data_dir) == set()

    monkeypatch.setattr(merge_mod, "merge_into_path", real_merge)
    assert ingest(sms_dir, data_dir) == 0
    assert logged(spark, data_dir) == {"181137c2"}
    assert exposures(spark, data_dir) == {
        "DQ01K01": ("181137c2", 125111.0),
        "DQ01K02": ("181137c2", 125111.0),
    }
