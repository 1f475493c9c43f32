"""The benchmark's workloads.  Each is a closed loop with one client: the
next call into the program starts only after the previous one returned.

* ``pipeline`` -- the ingest -> store -> analyze path: an arrival round of
  SMS reports and corrtag FITS files goes through
  ``runner.main(["--ingest"])`` and a ``cosmo-fits`` availableNow
  micro-batch that merges into the store, then the daily monitors run
  through ``runner.main(["--cadence", "daily"])`` to their CSV sinks.
* ``catalog``  -- analyst queries from the query catalog, each collected.

Every workload exposes the same interface to ``run.py``: ``generate``
(inputs from the seed), ``stage`` (program-side set-up), ``run_pass`` (one
pass; returns its wall time and per-operation latencies), ``op_samples``
(the latency samples of the warm passes), ``stored_bytes_per_input_byte``,
``check`` (independent output checks), ``detail`` (workload-named metrics)
and ``layers`` (per-layer metrics from a traced run).
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import re
import shutil
import statistics
import sys
import time
import traceback

import checks
import gen


class PassResult:
    def __init__(self):
        self.wall = 0.0
        self.ops: dict[str, float] = {}     # operation name -> latency
        self.attempted = 0
        self.failed = 0
        self.extra: dict = {}


def _failed(what: str) -> None:
    print(f"perfbench: {what} failed", file=sys.stderr)
    traceback.print_exc(file=sys.stderr)


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


class Workload:
    name = ""

    def __init__(self, work: str, seed: int, master: str, tracer):
        self.work, self.seed, self.master, self.tracer = work, seed, master, tracer
        self.input_bytes = 0

    def cleanup(self) -> None:
        pass


# --------------------------------------------------------------------------
# catalog
# --------------------------------------------------------------------------

#: One query from each module of ``cosmo_spark.queries`` (tpch, timeseries,
#: misc, textops, vectorops, trainprep), both streaming queries (q49, q50)
#: and the query that reads an at-rest artifact built in set-up (q146).
CATALOG_QUERIES = [
    "q01_pricing_summary", "q49_stream_window_rates", "q146_hdr_horizon",
    "q40_nearest_event", "q50_stream_dedup", "q30_array_stats",
    "q82_snapshot_diff",
]


class Catalog(Workload):
    name = "catalog"

    def generate(self) -> None:
        self.sf = os.path.join(self.work, "sf_bench")
        self.input_bytes = gen.catalog_tables(self.sf, self.seed, n_orders=1500,
                                              n_events=2000, n_docs=300, n_vecs=300)
        self.cold_rows: dict[str, tuple] = {}
        self.stage_s: list[float] = []

    def stage(self, spark) -> None:
        from cosmo_spark.queries.timeseries import _hdr_window_log_dir, ensure_hdr_window_log

        self.hdr_dir = _hdr_window_log_dir(self.sf)
        shutil.rmtree(self.hdr_dir, ignore_errors=True)
        t0 = time.perf_counter()
        with self.tracer.span("queries.artifact_build.hdr_log"):
            ensure_hdr_window_log(spark, self.sf)
        self.stage_s.append(time.perf_counter() - t0)
        spark.catalog.clearCache()
        self.hdr_sig = _tree_sig(self.hdr_dir)

    def run_pass(self, spark, idx: int) -> PassResult:
        from cosmo_spark.queries import all_queries

        qs = all_queries()
        res = PassResult()
        t_pass = time.perf_counter()
        for name in CATALOG_QUERIES:
            res.attempted += 1
            t0 = time.perf_counter()
            try:
                with self.tracer.span(f"queries.{name}"):
                    df = qs[name].spark_fn(spark, self.sf)
                    rows = [tuple(r) for r in df.collect()]
            except Exception:
                res.failed += 1
                _failed(name)
            else:
                res.ops[name] = time.perf_counter() - t0
                if idx == 0:
                    self.cold_rows[name] = (df.columns, rows)
            _clear(spark)
        res.wall = time.perf_counter() - t_pass
        return res

    def check(self, spark) -> tuple[int, list[str]]:
        from cosmo_spark.queries import all_queries

        qs = all_queries()
        con = checks.duck_catalog(self.sf)
        problems = []
        for name in CATALOG_QUERIES:
            if name not in self.cold_rows:
                problems.append(f"{name}: no result")
                continue
            cols, rows = self.cold_rows[name]
            problems += [f"{name}: {p}" for p in
                         checks.oracle_problems(cols, rows, con, qs[name].oracle)]
        # the at-rest artifact is set-up: no pass may rebuild or modify it
        if _tree_sig(self.hdr_dir) != self.hdr_sig:
            problems.append("hdr log artifact modified during the passes")
        return len(CATALOG_QUERIES) + 1, problems

    def op_samples(self, warm: list[PassResult]) -> list[float]:
        """One sample per query: its median over the warm passes, so a run's
        samples are the same queries whatever its pass count."""
        return [statistics.median(p.ops[q] for p in warm if q in p.ops)
                for q in CATALOG_QUERIES if any(q in p.ops for p in warm)]

    def stored_bytes_per_input_byte(self, last: PassResult) -> float:
        """Bytes of the at-rest artifact built in set-up per input byte."""
        return _dir_bytes(self.hdr_dir) / self.input_bytes

    def detail(self, cold: PassResult, warm: list[PassResult]) -> dict:
        ops = self.op_samples(warm)
        tail, pct = tail_of(ops)
        return {"query_p50_s": _median(ops), "query_tail_s": tail,
                "query_tail_pct": pct, "query_samples": len(ops),
                "catalog_pass_s": _median([p.wall for p in warm])}

    def layers(self, spans, traced: list[PassResult]) -> dict:
        out = {"queries.artifact_build_s": _median(self.stage_s),
               "queries.artifact_build.hdr_log_s": _median(self.stage_s)}
        for q in CATALOG_QUERIES:
            mine = [s for s in spans if s.name == f"queries.{q}"]
            out[f"queries.{q}.p50_s"] = _median([s.end - s.start for s in mine])
            c = [self.tracer.counts(s) for s in mine]
            out[f"queries.{q}.jobs"] = _median([x["jobs"] for x in c])
            out[f"queries.{q}.tasks"] = _median([x["tasks"] for x in c])
        return out

    def cleanup(self) -> None:
        if getattr(self, "hdr_dir", None):
            shutil.rmtree(self.hdr_dir, ignore_errors=True)


def _clear(spark) -> None:
    """Between queries drop the SQL cache and persisted RDDs, so no query is
    measured under another's cached partitions."""
    spark.catalog.clearCache()
    for jrdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        jrdd.unpersist()


def _tree_sig(d: str) -> tuple:
    sig = []
    for root, _, files in sorted(os.walk(d)):
        for f in sorted(files):
            p = os.path.join(root, f)
            sig.append((p, os.path.getmtime(p), os.path.getsize(p)))
    return tuple(sig)


def tail_of(samples: list[float]) -> tuple[float, float]:
    """The highest percentile with at least ten samples beyond it, and that
    percentile; the maximum (percentile 100) when there are ten or fewer."""
    xs = sorted(samples)
    n = len(xs)
    if n == 0:
        return 0.0, 0.0
    if n <= 10:
        return xs[-1], 100.0
    return xs[n - 11], round(100.0 * (n - 10) / n, 1)


# --------------------------------------------------------------------------
# pipeline: ingest round, then the daily monitors
# --------------------------------------------------------------------------

#: round 0 is the backlog the cold pass lands into an empty store; round 1
#: is the round every warm pass lands on top of it
INGEST_ROUNDS = 2
SMS_PER_ROUND = 16
FITS_PER_ROUND = 4
EXPOSURES_PER_REPORT = 6

#: daily monitor families; a result frame belongs to the family its
#: directory name starts with
FAMILIES = ("dark", "telemetry")

_SMS_COLS = ("EXPOSURE FILEID ROOTNAME PROPOSID DETECTOR OPMODE EXPTIME EXPSTART "
             "FUVHVSTATE APERTURE OSM1POS OSM2POS CENWAVE FPPOS TSINCEOSM1 "
             "TSINCEOSM2").split()
_CHECK_COLS = {
    "sms_file_stats": ("sms_file_stats.parquet", ["SMSID", "VERSION", "FILEID"]),
    "sms_exposures": ("sms_exposures.parquet", _SMS_COLS),
    "dark": ("dark", ["ROOTNAME", "SEGMENT", "PROCTIME", "EXPTIME", "EXPSTART",
                      "PHA", "XCORR", "YCORR", "TIME"]),
}


def family_of(path: str) -> str:
    base = os.path.basename(path.rstrip("/"))
    return next((f for f in FAMILIES if base.startswith(f)), "other")


class Pipeline(Workload):
    """One pass = one arrival round, then one daily monitor cadence.

    The round lands SMS reports and FITS dark exposures, runs
    ``runner.main(["--ingest", ...])`` and a ``cosmo-fits`` availableNow
    micro-batch whose ``foreachBatch`` merges into the store; then
    ``runner.main(["--cadence", "daily", ...])`` writes the dark-rate and
    telemetry results.  The cold pass lands the backlog (round 0) into an
    empty store in a fresh session.  Its end state -- store, landing
    directories and stream checkpoint -- is kept, and every warm pass
    starts from a copy of it and lands round 1, so the warm passes repeat
    the same work on the same history and their median means something.
    The operation is the round: the time from its last landed file until
    the SMS tables' and the dark table's new versions are all published.
    """

    name = "pipeline"

    def generate(self) -> None:
        self.plan = gen.ingest_rounds(
            os.path.join(self.work, "gen"), self.seed, rounds=INGEST_ROUNDS,
            sms_per_round=SMS_PER_ROUND, fits_per_round=FITS_PER_ROUND,
            exp_per_report=EXPOSURES_PER_REPORT)
        self.base = os.path.join(self.work, "ingest")
        self.snap = os.path.join(self.work, "ingest_after_cold")
        self.land_sms = os.path.join(self.base, "sms")
        self.land_fits = os.path.join(self.base, "fits")
        self.store = os.path.join(self.base, "store")
        self.ckpt = os.path.join(self.base, "ckpt")
        for d in (self.land_sms, self.land_fits, self.store):
            os.makedirs(d)
        self.tables = os.path.join(self.work, "tables")
        self.out = os.path.join(self.work, "results")
        monitor_bytes = gen.monitor_tables(self.tables, self.seed, n_dark=60, n_tel=2000)
        self.rounds_done = 0
        self.landed_bytes = sum(rd["bytes"] for rd in self.plan["rounds"])
        self.input_bytes = monitor_bytes + self.landed_bytes

    def stage(self, spark) -> None:
        from cosmo_spark.sources import fits_datasource

        fits_datasource.register(spark)

    def _merge_batch(self, batch_df, batch_id):
        from cosmo_spark.operators import merge

        merge.merge_into_path(batch_df.sparkSession, os.path.join(self.store, "dark"),
                              batch_df, "ROOTNAME", "PROCTIME")

    def run_pass(self, spark, idx: int) -> PassResult:
        if idx:
            shutil.rmtree(self.base)
            shutil.copytree(self.snap, self.base)
        rnd = min(idx, 1)
        res = self._round(spark, rnd)
        if idx == 0:
            shutil.copytree(self.base, self.snap)
        return res

    def _round(self, spark, rnd: int) -> PassResult:
        from cosmo_spark import runner

        rd = self.plan["rounds"][rnd]
        res = PassResult()
        res.attempted = 2
        t_pass = time.perf_counter()
        for sub, dest in (("sms", self.land_sms), ("fits", self.land_fits)):
            for f in rd[sub]:
                shutil.copyfile(os.path.join(rd["dir"], sub, f), os.path.join(dest, f))
        t_land = time.perf_counter()
        info = {"fits_files": len(rd["fits"]), "files": len(rd["sms"]) + len(rd["fits"])}
        try:
            out = io.StringIO()
            with self.tracer.span("runner.main", cadence="ingest"), \
                    contextlib.redirect_stdout(out):
                rc = runner.main(["--ingest", self.land_sms, "--data-dir", self.store,
                                  "--master", self.master])
            if rc != 0:
                raise RuntimeError(f"runner --ingest exit {rc}")
            m = re.search(r"merged (\d+) exposure rows", out.getvalue())
            n = re.search(r"(\d+) new files", out.getvalue())
            info["rows_merged"] = int(m.group(1)) if m else 0
            info["new_files"] = int(n.group(1)) if n else 0
            with self.tracer.span("streaming.fits_microbatch"):
                q = (spark.readStream.format("cosmo-fits")
                     .option("ddl", gen.FITS_DDL)
                     .option("header_request", json.dumps(gen.FITS_HEADER_REQUEST))
                     .option("table_request", json.dumps(gen.FITS_TABLE_REQUEST))
                     .load(self.land_fits)
                     .writeStream.foreachBatch(self._merge_batch)
                     .option("checkpointLocation", self.ckpt)
                     .trigger(availableNow=True).start())
                q.awaitTermination()
            res.ops["round"] = time.perf_counter() - t_land
            if self.tracer.active:
                info["lines_parsed"] = sum(_line_count(os.path.join(self.land_sms, f))
                                           for f in os.listdir(self.land_sms))
                offsets = os.path.join(self.ckpt, "offsets")
                last = max((f for f in os.listdir(offsets) if f.isdigit()), key=int)
                info["offset_bytes"] = os.path.getsize(os.path.join(offsets, last))
        except Exception:
            res.failed += 1
            _failed(f"ingest round {rnd}")
        self.rounds_done = rnd + 1
        t_mon = time.perf_counter()
        try:
            with self.tracer.span("runner.main", cadence="daily"), \
                    contextlib.redirect_stdout(io.StringIO()):
                rc = runner.main(["--cadence", "daily", "--data-dir", self.tables,
                                  "--out", self.out, "--master", self.master])
            if rc != 0:
                raise RuntimeError(f"runner --cadence daily exit {rc}")
            res.extra["daily_s"] = time.perf_counter() - t_mon
        except Exception:
            res.failed += 1
            _failed(f"daily monitors after round {rnd}")
        res.wall = time.perf_counter() - t_pass
        info["store_bytes"] = _dir_bytes(self.store)
        info["store_versions"] = sum(
            1 for t in os.listdir(self.store) if os.path.isdir(os.path.join(self.store, t))
            for v in os.listdir(os.path.join(self.store, t)) if v.startswith("v="))
        res.extra.update(info)
        return res

    def op_samples(self, warm: list[PassResult]) -> list[float]:
        """One sample per warm round."""
        return [p.ops["round"] for p in warm if "round" in p.ops]

    def stored_bytes_per_input_byte(self, last: PassResult) -> float:
        """Bytes under the store after the last round per byte landed."""
        return last.extra["store_bytes"] / self.landed_bytes

    def check(self, spark) -> tuple[int, list[str]]:
        from cosmo_spark.sources.versioned import read_current

        got = {}
        for table, (sub, cols) in _CHECK_COLS.items():
            try:
                rows = read_current(spark, os.path.join(self.store, sub)).select(*cols).collect()
            except Exception:
                _failed(f"reading {table}")
                continue
            got[table] = sorted(tuple(list(v) if isinstance(v, list) else v for v in r)
                                for r in rows)
        problems = checks.ingest_problems(got, self.plan["expected"][self.rounds_done - 1])
        n_mon, mon_problems = checks.monitor_problems(self.tables, self.out)
        return len(_CHECK_COLS) + n_mon, problems + mon_problems

    def detail(self, cold: PassResult, warm: list[PassResult]) -> dict:
        rounds = self.op_samples(warm)
        tail, pct = tail_of(rounds)
        files = sum(p.extra["files"] for p in warm if "round" in p.ops)
        return {"ingest_round_p50_s": _median(rounds), "ingest_round_tail_s": tail,
                "ingest_round_tail_pct": pct, "ingest_round_samples": len(rounds),
                "ingest_files_per_s": files / sum(rounds) if rounds else 0.0,
                "store_bytes_per_input_byte": self.stored_bytes_per_input_byte(warm[-1]),
                "monitor_daily_s": _median([p.extra["daily_s"] for p in warm
                                            if "daily_s" in p.extra])}

    def layers(self, spans, traced: list[PassResult]) -> dict:
        per_pass = max(len(traced), 1)

        def total(name, **match):
            return sum(s.end - s.start for s in spans if s.name == name and all(
                s.attrs.get(k) == v for k, v in match.items())) / per_pass

        out = {"sources.sms_catalog_s": total("sources.sms_catalog"),
               "sources.versioned.read_current_s": total("sources.read_current")}
        for table in ("sms_file_stats", "sms_exposures", "dark"):
            out[f"operators.merge_into_path.{table}_s"] = total(
                "operators.merge_into_path", table=table)
        micro = total("streaming.fits_microbatch")
        out["streaming.fits_microbatch_s"] = micro
        out["sources.fits_read_s"] = micro - out["operators.merge_into_path.dark_s"]
        rounds = [p.extra for p in traced]
        files = sum(r["fits_files"] for r in rounds) / per_pass
        out["sources.fits_files_per_s"] = files / out["sources.fits_read_s"] \
            if out["sources.fits_read_s"] > 0 else 0.0
        lines = sum(r.get("lines_parsed", 0) for r in rounds)
        merged = sum(r.get("rows_merged", 0) for r in rounds)
        out["sources.sms_lines_parsed"] = lines / per_pass
        out["sources.sms_parse_useful_ratio"] = merged / lines if lines else 0.0
        last = rounds[-1] if rounds else {}
        out["streaming.offset_bytes"] = last.get("offset_bytes", 0)
        out["sources.store_bytes"] = last.get("store_bytes", 0)
        out["sources.store_versions"] = last.get("store_versions", 0)
        out["sources.store_bytes_per_input_byte"] = last.get("store_bytes", 0) / self.landed_bytes
        arriving = sum(r.get("new_files", 0) + r.get("rows_merged", 0) + r["fits_files"]
                       for r in rounds)
        written = sum(s.attrs.get("rows_written", 0) for s in spans
                      if s.name == "operators.merge_into_path")
        out["operators.merge_write_amp"] = written / arriving if arriving else 0.0
        out["monitors.run_monitors_s"] = total("monitors.run_monitors")
        sinks = [s for s in spans if s.name == "sources.write_results_csv"]
        out["sources.write_results_csv_s"] = sum(s.end - s.start for s in sinks) / per_pass
        for fam in FAMILIES:
            mine = [s for s in sinks if s.attrs.get("family") == fam]
            out[f"monitors.{fam}.s"] = sum(s.end - s.start for s in mine) / per_pass
            out[f"monitors.{fam}.rows_out"] = sum(
                checks.csv_rows(self.out, os.path.basename(s.attrs["path"])) for s in mine
            ) / per_pass
            out[f"monitors.{fam}.jobs"] = sum(
                self.tracer.counts(s)["jobs"] for s in mine) / per_pass
        return out


def _line_count(path: str) -> int:
    with open(path, "rb") as f:
        return sum(1 for _ in f)


WORKLOADS = {w.name: w for w in (Pipeline, Catalog)}
