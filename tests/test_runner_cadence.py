"""The daily cadence (``cosmo --daily`` analog) driven through
``runner.main`` in-process on the session fixture, over a monitor input
that version-guarded merges maintain: the monitors must see exactly the
table's current published version (ref: ingest-before-analyze over one
store, cosmo/run_monitors.py:95-108)."""

from __future__ import annotations

import glob
import os

from cosmo_spark import runner
from cosmo_spark.monitors.telemetry import telemetry_monitor
from cosmo_spark.operators.merge import merge_into_path
from cosmo_spark.sources.versioned import read_current

TELEMETRY = "mnemonic STRING, MJD DOUBLE, Data DOUBLE, ver INT"


def test_daily_cadence_reads_the_current_version(spark, tmp_path, monkeypatch):
    monkeypatch.setattr("cosmo_spark.session.get_spark", lambda **kw: spark)
    data_dir, out = tmp_path / "tables", tmp_path / "results"
    path = str(data_dir / "telemetry.parquet")
    first = [("LMMCETMP", 58000.0 + i, float(i), 1) for i in range(11)]
    merge_into_path(spark, path, spark.createDataFrame(first, TELEMETRY),
                    ["mnemonic", "MJD"], "ver")
    # one sample superseded, one new: the table now holds 12 rows in v=2,
    # beside the 11 of v=1
    second = [("LMMCETMP", 58005.0, 50.0, 2), ("LMMCETMP", 58011.0, 11.0, 1)]
    merge_into_path(spark, path, spark.createDataFrame(second, TELEMETRY),
                    ["mnemonic", "MJD"], "ver")

    assert runner.main(["--cadence", "daily", "--data-dir", str(data_dir),
                        "--out", str(out)]) == 0

    expected = telemetry_monitor(read_current(spark, path))
    band = expected["results"].collect()[0]
    assert (band["n"], band["max"]) == (12, 50.0)
    for frame in ("results", "smoothed", "outliers"):
        want = expected[frame]
        dest = str(out / f"telemetry_{frame}")
        (csv,) = glob.glob(os.path.join(dest, "*.csv"))
        with open(csv) as f:
            assert f.readline().rstrip("\n") == ",".join(want.columns), frame
        got = spark.read.schema(want.schema).option("header", True).csv(dest)
        assert sorted(got.collect()) == sorted(want.collect()), frame
