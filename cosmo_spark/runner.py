"""CLI runner — the ``cosmo --monthly`` analog.

The reference's entry point maps cadence flags to a pytest collection that
instantiates monitors and persists their new data
(ref: cosmo/run_monitors.py:120-146, cosmo/pytest.ini:1-8).  Here the runner
is a plain CLI: load the tables that exist under --data-dir, run every
monitor registered for the cadence, write each result frame to the output
directory as CSV.

    python -m cosmo_spark.runner --cadence monthly \
        --data-dir /data/tables --out /tmp/results
"""

from __future__ import annotations

import argparse
import os
import sys


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="cosmo-spark", description=__doc__)
    ap.add_argument("--cadence", choices=["monthly", "daily"],
                    help="run the monitors registered for this cadence")
    ap.add_argument("--ingest", metavar="SMS_DIR",
                    help="ingest SMS reports from this directory before/instead "
                         "of monitors (ref: cosmo --ingest)")
    ap.add_argument("--data-dir", required=True,
                    help="directory of <table>.parquet inputs (acq, osm, ...)")
    ap.add_argument("--out", help="output directory for result CSVs "
                                  "(required with --cadence)")
    ap.add_argument("--figures", action="store_true",
                    help="also render one HTML figure per monitor into "
                         "<out>/figures (the reference's write_figure step)")
    ap.add_argument("--master", default=None, help="Spark master override")
    args = ap.parse_args(argv)
    if not args.cadence and not args.ingest:
        ap.error("one of --cadence or --ingest is required")
    if args.cadence and not args.out:
        ap.error("--out is required with --cadence")

    from cosmo_spark.session import get_spark
    from cosmo_spark.monitors import MONITORS, run_monitors
    from cosmo_spark.sources.files import write_results_csv
    from cosmo_spark.sources.versioned import read_current

    spark = get_spark(app_name="cosmo-spark-runner", master=args.master)

    if args.ingest:
        # ingest-before-analyze ordering, as the reference marks RunIngestion
        # both 'ingest' and 'monthly' (ref: cosmo/run_monitors.py:95-108)
        _ingest_sms(spark, args.ingest, args.data_dir)
        if not args.cadence:
            return 0

    # load whichever monitor inputs exist under data-dir; monitors whose
    # inputs are absent are skipped (ref behavior: monitors run independently).
    # read_current: a table a merge maintains reads as its manifest-pinned
    # current version, a plain parquet input as itself
    wanted = sorted({k for _, fn in MONITORS.values() for k in fn.__required_inputs__})
    inputs = {}
    for name in wanted:
        path = os.path.join(args.data_dir, f"{name}.parquet")
        inputs[name] = read_current(spark, path) if os.path.exists(path) else None

    results = run_monitors(args.cadence, inputs)
    if not results:
        print(f"no {args.cadence} monitors runnable from {args.data_dir} "
              f"(need one of: {', '.join(wanted)})", file=sys.stderr)
        return 1

    os.makedirs(args.out, exist_ok=True)
    for monitor_name, frames in results.items():
        for frame_name, df in frames.items():
            if frame_name == "data":
                continue  # full exploded data stays in the lake, not CSV
            dest = os.path.join(args.out, f"{monitor_name}_{frame_name}")
            write_results_csv(df, dest)
            print(f"wrote {dest}")
    if args.figures:
        from cosmo_spark.monitors.figures import write_monitor_figures

        for mon, path in write_monitor_figures(
            results, os.path.join(args.out, "figures")
        ).items():
            print(f"wrote {path}")
    return 0


def _ingest_sms(spark, sms_dir: str, data_dir: str) -> None:
    """SMS ingest round: catalog + exposures with version-guarded merges
    (ref: SMSFinder + ingest_files, cosmo/sms/ingest_sms.py:201-301).

    A round costs O(new reports): only the reports the finder flags as new
    are parsed, validated and merged, whatever the history on disk.
    Publish order makes the ``sms_file_stats`` log the commit marker — the
    exposures publish first, the log last — so a report whose rows failed
    to parse or publish is still new to the next run, which redoes it;
    re-merging rows that did land is a no-op under the FILEID guard.
    """
    from cosmo_spark.operators.merge import merge_into_path
    from cosmo_spark.sources.sms import find_new, parse_sms_reports, sms_catalog
    from cosmo_spark.sources.versioned import read_current

    catalog_path = os.path.join(data_dir, "sms_file_stats.parquet")
    rows_path = os.path.join(data_dir, "sms_exposures.parquet")

    catalog = sms_catalog(spark, sms_dir)
    # merges publish snapshot versions now — read the manifest-pinned
    # current state, not the table root
    log = read_current(spark, catalog_path) if os.path.exists(catalog_path) else None
    # a local read: the catalog is an in-memory relation and find_new has
    # already resolved the log, so `new` is also the log merge's input
    new = find_new(catalog, log)
    new_files = [r.FILENAME for r in new.select("FILENAME").collect()]
    print(f"sms ingest: {len(new_files)} new files")
    if not new_files:
        return
    # validates eagerly: a malformed report raises before anything publishes
    exposures = parse_sms_reports(spark, new_files)
    n_rows = exposures.count()
    merge_into_path(spark, rows_path, exposures, "EXPOSURE", "FILEID")
    merge_into_path(spark, catalog_path, new, "SMSID", "VERSION")
    print(f"sms ingest: merged {n_rows} exposure rows")


if __name__ == "__main__":
    sys.exit(main())
