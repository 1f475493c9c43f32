"""Seeded input generator for the benchmark's two workloads.

Everything here runs in the benchmark's own process with numpy/pyarrow; the
program under test only ever sees the files written here.  The same seed
writes byte-identical inputs.

Traffic dimensions, with where each value comes from (a value that no
data in the repository or the reference backs is marked *assumed*):

``pipeline`` (ingest rounds)
    * round size: ``SMS_PER_ROUND`` reports and ``FITS_PER_ROUND`` exposures
      (``workloads.py``).  The sizing probe the benchmark was specified from
      landed 40 reports and 20 FITS files a round; the benchmark lands fewer
      only so that a run fits its time budget (``README.md``).
    * supersede share (``SUPERSEDE_SHARE`` = 2/13): the reference's SMS
      finder golden holds 13 reports of which two (``b4``, ``c2``) are newer
      versions of an SMSID already on disk (``FIXTURES.md`` section 3,
      ``tests/test_sms.py``).  Rounded to whole files per round after the
      first; FITS exposures get the same share, at least one per round, so
      the dark merge's version guard replaces rows in every round.
    * re-delivery share (``REDELIVER_SHARE`` = 0.05, *assumed*): "a few"
      unchanged copies of an earlier report per round.  No source gives a
      rate; the value only has to be non-zero, since ingest must treat such
      a file as a no-op that the full-directory re-parse still pays for.
    * backlog: the first round lands ``BACKLOG_ROUNDS`` rounds' worth of SMS
      reports at once, so every later round is parsed on top of a history
      (the runner re-reads every report in the directory each round).
    * events per exposure: log-normal with median ``FITS_EVENTS_MEDIAN`` =
      2000, the ~2k events per dark exposure of the sizing probe; the
      spread (sigma ``EVENTS_SIGMA`` = 0.8, *assumed*) makes file sizes
      range over an order of magnitude, as corrtag files do.
``pipeline`` (daily monitor tables)
    * dark exposures: the same median of ~2000 events, with a Pareto tail
      (alpha ``DARK_TAIL_ALPHA`` = 1.5, *assumed*) capped at 10x the median,
      so the ragged-array explode meets a few very long arrays.  There are
      fewer exposures than the probe's 2k only because one run must fit
      its time budget.
``catalog``
    * TPC-H-shaped star schema plus events/documents/embeddings in the shape
      of the catalog's test corpora (``TESTDATA.md``); a share of documents
      and embeddings are perturbed copies so the near-duplicate queries
      find pairs.  Far smaller than sf0.1, again for the time budget.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SUPERSEDE_SHARE = 2 / 13
REDELIVER_SHARE = 0.05
BACKLOG_ROUNDS = 2
FITS_EVENTS_MEDIAN = 2000
EVENTS_SIGMA = 0.8
DARK_TAIL_ALPHA = 1.5


def _lognormal_sizes(rng, n: int, median: float, sigma: float, cap: int) -> np.ndarray:
    """``n`` sizes at evenly spaced quantiles of a log-normal, in a seeded
    order: every seed gets the same multiset, so the total work a run does
    does not depend on the seed."""
    from statistics import NormalDist

    z = np.array([NormalDist().inv_cdf((i + 0.5) / n) for i in range(n)])
    return rng.permutation(np.minimum(median * np.exp(sigma * z), cap).astype(int) + 1)


def _pareto_sizes(rng, n: int, alpha: float, scale: float, cap: int) -> np.ndarray:
    """Like ``_lognormal_sizes`` for a Pareto tail (x >= scale)."""
    q = (np.arange(n) + 0.5) / n
    return rng.permutation(np.minimum(scale * (1 - q) ** (-1 / alpha), cap).astype(int))


def _exact(rng, n: int, kinds: dict) -> list:
    """A seeded arrangement of ``n`` labels with exact counts per label
    (``kinds`` maps label -> count; the first label fills the rest)."""
    labels = [k for k, c in list(kinds.items())[1:] for _ in range(c)]
    labels += [next(iter(kinds))] * (n - len(labels))
    return [labels[i] for i in rng.permutation(n)]


def _write(table: dict, schema: pa.Schema, path: str) -> int:
    pq.write_table(pa.table(table, schema=schema), path)
    return os.path.getsize(path)


# --------------------------------------------------------------------------
# daily monitors: cosmo-shaped parquet tables
# --------------------------------------------------------------------------

_F64 = pa.float64()
_I64 = pa.int64()
_STR = pa.string()
_AF = pa.list_(_F64)
_AI = pa.list_(_I64)

#: per-segment (x range, y range) of the synthetic dark events: wider than
#: the monitor's regions so the band-join rejects a share of events
_DARK_BOX = {"FUVA": (1000, 15300, 280, 750), "FUVB": (750, 15250, 340, 800),
             "N/A": (0, 1024, 0, 1024)}


def monitor_tables(out_dir: str, seed: int, n_dark: int, n_tel: int) -> int:
    """Write the daily monitors' dark and telemetry parquet tables under
    ``out_dir``; returns the bytes written."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    total = 0
    mjd0 = 58000.0

    # dark: heavy-tailed events per exposure plus a 5 s orbital track
    cols = {k: [] for k in ("ROOTNAME", "SEGMENT", "EXPTIME", "EXPSTART", "PHA",
                            "XCORR", "YCORR", "TIME", "TIME_3", "LATITUDE",
                            "LONGITUDE")}
    n_events = _pareto_sizes(rng, n_dark, DARK_TAIL_ALPHA,
                             FITS_EVENTS_MEDIAN / 2 ** (1 / DARK_TAIL_ALPHA),
                             10 * FITS_EVENTS_MEDIAN)
    segs = _exact(rng, n_dark, {"FUVA": 0, "FUVB": int(0.4 * n_dark), "N/A": int(0.2 * n_dark)})
    exptimes = _exact(rng, n_dark, {300.0: 0, 600.0: n_dark // 3, 900.0: n_dark // 3})
    # a few exposures carry EXPSTART = 0, which the monitor skips
    unset = _exact(rng, n_dark, {False: 0, True: max(1, n_dark // 50)})
    for i in range(n_dark):
        seg, exptime, n = segs[i], exptimes[i], int(n_events[i])
        x0, x1, y0, y1 = _DARK_BOX[seg]
        cols["ROOTNAME"].append(f"ld{i:07d}")
        cols["SEGMENT"].append(seg)
        cols["EXPTIME"].append(exptime)
        cols["EXPSTART"].append(0.0 if unset[i] else float(mjd0 + rng.uniform(0, 3000)))
        cols["PHA"].append(rng.integers(0, 32, n).tolist())
        cols["XCORR"].append(rng.uniform(x0, x1, n).round(2).tolist())
        cols["YCORR"].append(rng.uniform(y0, y1, n).round(2).tolist())
        cols["TIME"].append(np.sort(rng.uniform(0, exptime, n)).round(3).tolist())
        track = np.arange(0.0, exptime, 5.0)
        phase = rng.uniform(0, 2 * np.pi)
        cols["TIME_3"].append(track.tolist())
        cols["LATITUDE"].append((28.5 * np.sin(phase + track / 900)).round(3).tolist())
        cols["LONGITUDE"].append(((rng.uniform(0, 360) + track / 15) % 360).round(3).tolist())
    total += _write(cols, pa.schema([
        ("ROOTNAME", _STR), ("SEGMENT", _STR), ("EXPTIME", _F64),
        ("EXPSTART", _F64), ("PHA", _AI), ("XCORR", _AF), ("YCORR", _AF),
        ("TIME", _AF), ("TIME_3", _AF), ("LATITUDE", _AF),
        ("LONGITUDE", _AF)]), os.path.join(out_dir, "dark.parquet"))

    # telemetry: a few mnemonics, irregular sampling over ~2 years so the
    # 365-day monitor window trims about half of it
    mn = rng.choice(["LMMCETMP", "LDCHVMON", "LOSM1POS", "LOSM2POS"], n_tel)
    total += _write({
        "mnemonic": mn.tolist(),
        "MJD": (mjd0 + rng.uniform(0, 730, n_tel)).tolist(),
        "Data": rng.normal(20, 3, n_tel).round(4).tolist(),
    }, pa.schema([("mnemonic", _STR), ("MJD", _F64), ("Data", _F64)]),
        os.path.join(out_dir, "telemetry.parquet"))

    return total


# --------------------------------------------------------------------------
# ingest: SMS reports and corrtag FITS dark exposures, landed in rounds
# --------------------------------------------------------------------------

def _sms_lines(rng, smsid: str, n_exp: int, rev: int) -> list[str]:
    """One SMS report body.  ``rev`` perturbs the values so a superseding
    version really changes rows."""
    lines = [f"# SMS {smsid} schedule report", "# generated"]
    for k in range(n_exp):
        doy = 1 + (int(smsid[2:5]) % 365)
        lines.append(" ".join([
            f"{smsid}{k:03d}",                              # EXPOSURE
            f"l{smsid}{k % 10}",                            # ROOTNAME (8)
            str(10000 + int(smsid) % 7000),                 # PROPOSID
            str(rng.choice(["FUV", "NUV"])),                 # DETECTOR
            str(rng.choice(["TIME-TAG", "ACCUM"])),          # OPMODE
            f"{rng.uniform(10, 3000) + rev:.1f}",           # EXPTIME
            f"20{smsid[:2]}.{doy:03d}:{k % 24:02d}:{rev:02d}:00",  # EXPSTART
            str(rng.choice(["NOM", "LOW"])),                 # FUVHVSTATE
            str(rng.choice(["PSA", "BOA"])),                 # APERTURE
            str(rng.choice(["G130M", "G160M", "NUV"])),      # OSM1POS
            str(rng.choice(["MIRRORA", "G185M", "N/A"])),    # OSM2POS
            str(rng.choice([1291, 1309, 1577])),             # CENWAVE
            str(int(rng.integers(-2, 2))),                   # FPOFFSET
            f"{rng.uniform(0, 9000):.1f}",                  # TSINCEOSM1
            f"{rng.uniform(0, 9000):.1f}",                  # TSINCEOSM2
        ]))
        if k == 1:
            # excluded exposure types the parser must drop
            lines.append(f"{smsid}M{k:02d} MEMORY 0 FUV ACCUM 0.0 2018.001:00:00:00 "
                         "NOM PSA N/A N/A 0 0 0.0 0.0")
    return lines


#: dark exposure FITS request: what the ``cosmo-fits`` source extracts
FITS_DDL = ("ROOTNAME STRING, SEGMENT STRING, PROCTIME DOUBLE, EXPTIME DOUBLE, "
            "EXPSTART DOUBLE, PHA ARRAY<BIGINT>, XCORR ARRAY<DOUBLE>, "
            "YCORR ARRAY<DOUBLE>, TIME ARRAY<DOUBLE>")
FITS_HEADER_REQUEST = {"0": ["ROOTNAME", "SEGMENT", "PROCTIME"],
                       "1": ["EXPTIME", "EXPSTART"]}
FITS_TABLE_REQUEST = {"1": ["PHA", "XCORR", "YCORR", "TIME"]}


def ingest_rounds(out_dir: str, seed: int, rounds: int, sms_per_round: int,
                  fits_per_round: int, exp_per_report: int) -> dict:
    """Pre-generate every round's files under ``out_dir/round_<r>/{sms,fits}``
    and the expected latest-version state after each round.

    Returns a plan dict: per round the file names and their byte count, and
    ``expected[r]`` = {table: sorted row tuples} once rounds 0..r landed.
    """
    from cosmo_spark.sources.fits_io import write_fits

    rng = np.random.default_rng(seed)
    plan = {"rounds": [], "expected": []}
    sms_landed: dict[str, bytes] = {}       # filename -> content
    fits_seq = 0
    dark_landed: dict[str, tuple] = {}      # rootname -> newest row
    smsid_base = 180000 + int(rng.integers(0, 1000)) * 10
    next_sms = 0
    # the ingest log as the runner keeps it: SMSID -> FILEID merged so far
    log: dict[str, str] = {}
    exposures: dict[str, tuple] = {}
    for r in range(rounds):
        rdir = os.path.join(out_dir, f"round_{r:02d}")
        os.makedirs(os.path.join(rdir, "sms"), exist_ok=True)
        os.makedirs(os.path.join(rdir, "fits"), exist_ok=True)
        sms_files, fits_files, nbytes = [], [], 0
        earlier = sorted(sms_landed)
        n_sms = sms_per_round if r else sms_per_round * BACKLOG_ROUNDS
        kinds = _exact(rng, n_sms, {
            "new": 0, "redeliver": max(1, round(n_sms * REDELIVER_SHARE)) if r else 0,
            "supersede": round(n_sms * SUPERSEDE_SHARE) if r else 0})
        for kind in kinds:
            if kind == "redeliver":
                name = earlier[int(rng.integers(0, len(earlier)))]
                body = sms_landed[name]
            elif kind == "supersede":
                old = earlier[int(rng.integers(0, len(earlier)))]
                smsid = old[:6]
                top = max(n[6:-4] for n in sms_landed if n.startswith(smsid))
                version = chr(ord(top[0]) + 1) + "1"
                name = f"{smsid}{version}.txt"
                body = "\n".join(_sms_lines(rng, smsid, exp_per_report + 1,
                                            ord(version[0]) - 96)).encode() + b"\n"
            else:
                smsid = str(smsid_base + next_sms)
                next_sms += 1
                name = f"{smsid}a1.txt"
                body = "\n".join(_sms_lines(rng, smsid, exp_per_report, 1)).encode() + b"\n"
            with open(os.path.join(rdir, "sms", name), "wb") as f:
                f.write(body)
            sms_landed[name] = body
            sms_files.append(name)
            nbytes += len(body)
        n_super = max(1, round(fits_per_round * SUPERSEDE_SHARE)) if r else 0
        new_events = iter(_lognormal_sizes(rng, fits_per_round - n_super, FITS_EVENTS_MEDIAN,
                                           EVENTS_SIGMA, 10 * FITS_EVENTS_MEDIAN))
        # a new version keeps its exposure's event count, and the replaced
        # exposures are those of median size, so the bytes landed and stored
        # do not depend on the seed
        by_size = sorted(dark_landed, key=lambda k: (len(dark_landed[k][5]), k))
        mid = len(by_size) // 2 - n_super // 2
        superseded = iter(by_size[mid:mid + n_super])
        for kind in _exact(rng, fits_per_round, {"new": 0, "supersede": n_super}):
            if kind == "supersede":
                root = next(superseded)
                seg = dark_landed[root][1]
                proc = dark_landed[root][2] + 1.0
                n = len(dark_landed[root][5])
            else:
                n = next(new_events)
                root = f"ld{seed % 1000:03d}{fits_seq:05d}"
                seg = str(rng.choice(["FUVA", "FUVB"]))
                proc = 60000.0
            fits_seq += 1
            n = int(n)
            exptime = float(rng.choice([300.0, 600.0]))
            # header floats are written with 6 significant digits
            expstart = float(np.round(58000 + rng.uniform(0, 3000), 1))
            pha = rng.integers(0, 32, n).astype(np.int64)
            x = rng.uniform(1000, 15000, n).round(2)
            y = rng.uniform(300, 780, n).round(2)
            t = np.sort(rng.uniform(0, exptime, n)).round(3)
            name = f"{root}_{fits_seq:05d}_corrtag.fits"
            path = os.path.join(rdir, "fits", name)
            write_fits(path, [
                {"header": {"ROOTNAME": root, "SEGMENT": seg, "PROCTIME": proc}},
                {"header": {"EXPTIME": exptime, "EXPSTART": expstart},
                 "columns": {"PHA": pha, "XCORR": x, "YCORR": y, "TIME": t}},
            ])
            fits_files.append(name)
            nbytes += os.path.getsize(path)
            row = (root, seg, proc, exptime, expstart, pha.tolist(), x.tolist(),
                   y.tolist(), t.tolist())
            if root not in dark_landed or dark_landed[root][2] < proc:
                dark_landed[root] = row
        # what the SMS ingest must have merged after this round: the newest
        # version per SMSID over every report landed so far
        top: dict[str, str] = {}
        for name in sms_landed:
            smsid, version = name[:6], name[6:-4]
            if version > top.get(smsid, ""):
                top[smsid] = version
        for smsid, version in top.items():
            fileid = smsid + version
            if log.get(smsid) == fileid:
                continue
            log[smsid] = fileid
            body = sms_landed[f"{fileid}.txt"].decode()
            for line in body.splitlines():
                tok = line.split()
                if not tok or line.startswith("#") or "MEMORY" in line:
                    continue
                row = (tok[0], fileid, tok[1], int(tok[2]), tok[3], tok[4],
                       float(tok[5]), tok[6], tok[7], tok[8], tok[9], tok[10],
                       int(tok[11]), int(tok[12]) + 3, float(tok[13]),
                       float(tok[14]))
                if tok[0] not in exposures or exposures[tok[0]][1] < fileid:
                    exposures[tok[0]] = row
        plan["rounds"].append({"dir": rdir, "sms": sms_files, "fits": fits_files,
                               "bytes": nbytes})
        plan["expected"].append({
            "sms_file_stats": sorted((s, f[6:], f) for s, f in log.items()),
            "sms_exposures": sorted(exposures.values()),
            "dark": sorted(dark_landed.values()),
        })
    return plan


# --------------------------------------------------------------------------
# catalog: star schema + events/documents/embeddings
# --------------------------------------------------------------------------

_WORDS = ("the fast key order sort table scan merge part window small hash join "
          "batch stream spark group query row data slow filter customer line "
          "value agg column big vector a").split()


def catalog_tables(out_dir: str, seed: int, n_orders: int, n_events: int,
                   n_docs: int, n_vecs: int) -> int:
    """Write region, nation, customer, supplier, part, orders, lineitem,
    events, documents and embeddings parquet files; returns bytes written."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    total = 0
    ts = pa.timestamp("us")
    i32 = pa.int32()

    def w(name, cols, schema):
        nonlocal total
        total += _write(cols, pa.schema(schema), os.path.join(out_dir, f"{name}.parquet"))

    w("region", {"r_regionkey": list(range(5)),
                 "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]},
      [("r_regionkey", i32), ("r_name", _STR)])
    w("nation", {"n_nationkey": list(range(25)),
                 "n_name": [f"NATION_{i}" for i in range(25)],
                 "n_regionkey": [i % 5 for i in range(25)]},
      [("n_nationkey", i32), ("n_name", _STR), ("n_regionkey", i32)])
    n_cust, n_supp, n_part = max(n_orders // 10, 20), 20, max(n_orders // 8, 20)
    w("customer", {
        "c_custkey": list(range(n_cust)),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).tolist(),
        "c_acctbal": rng.uniform(-999, 9999, n_cust).round(2).tolist(),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], n_cust).tolist()},
      [("c_custkey", _I64), ("c_name", _STR), ("c_nationkey", i32),
       ("c_acctbal", _F64), ("c_mktsegment", _STR)])
    w("supplier", {
        "s_suppkey": list(range(n_supp)),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).tolist(),
        "s_acctbal": rng.uniform(-999, 9999, n_supp).round(2).tolist()},
      [("s_suppkey", _I64), ("s_name", _STR), ("s_nationkey", i32),
       ("s_acctbal", _F64)])
    adj = ["cold", "small", "large", "red", "blue"]
    noun = ["widget", "bolt", "gear", "nut", "spring"]
    w("part", {
        "p_partkey": list(range(n_part)),
        "p_name": [f"{adj[i % 5]} {noun[(i // 5) % 5]}" for i in range(n_part)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(["ECONOMY", "PROMO", "STANDARD", "LARGE"], n_part).tolist(),
        "p_size": rng.integers(1, 51, n_part).tolist(),
        "p_retailprice": (900 + np.arange(n_part) * 0.1).round(2).tolist()},
      [("p_partkey", _I64), ("p_name", _STR), ("p_brand", _STR),
       ("p_type", _STR), ("p_size", i32), ("p_retailprice", _F64)])
    day = np.timedelta64(1, "D")
    o_date = np.datetime64("1995-01-01") + rng.integers(0, 2400, n_orders) * day
    w("orders", {
        "o_orderkey": list(range(n_orders)),
        "o_custkey": rng.integers(0, n_cust, n_orders).tolist(),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_orders).tolist(),
        "o_totalprice": rng.uniform(1000, 400000, n_orders).round(2).tolist(),
        "o_orderdate": o_date.astype("datetime64[us]"),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], n_orders).tolist()},
      [("o_orderkey", _I64), ("o_custkey", _I64), ("o_orderstatus", _STR),
       ("o_totalprice", _F64), ("o_orderdate", ts), ("o_orderpriority", _STR)])
    per = rng.permutation(np.arange(n_orders) % 7 + 1)
    okey = np.repeat(np.arange(n_orders), per)
    lnum = np.concatenate([np.arange(1, p + 1) for p in per])
    n_li = len(okey)
    qty = rng.integers(1, 51, n_li).astype(float)
    ship = o_date[okey] + rng.integers(1, 120, n_li) * day
    w("lineitem", {
        "l_orderkey": okey.tolist(),
        "l_partkey": rng.integers(0, n_part, n_li).tolist(),
        "l_suppkey": rng.integers(0, n_supp, n_li).tolist(),
        "l_linenumber": lnum.tolist(),
        "l_quantity": qty.tolist(),
        "l_extendedprice": (qty * rng.uniform(900, 2100, n_li)).round(2).tolist(),
        "l_discount": rng.integers(0, 11, n_li).astype(float) / 100,
        "l_tax": rng.integers(0, 9, n_li).astype(float) / 100,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li).tolist(),
        "l_linestatus": rng.choice(["F", "O"], n_li).tolist(),
        "l_shipdate": ship.astype("datetime64[us]")},
      [("l_orderkey", _I64), ("l_partkey", _I64), ("l_suppkey", _I64),
       ("l_linenumber", i32), ("l_quantity", _F64), ("l_extendedprice", _F64),
       ("l_discount", _F64), ("l_tax", _F64), ("l_returnflag", _STR),
       ("l_linestatus", _STR), ("l_shipdate", ts)])
    ev_ts = np.datetime64("2024-01-01T00:00:00", "us") + np.sort(
        rng.integers(0, 30 * 86400 * 10**6, n_events)) * np.timedelta64(1, "us")
    w("events", {
        "event_id": list(range(n_events)),
        "ts": ev_ts,
        "user_id": rng.integers(0, max(n_events // 60, 5), n_events).tolist(),
        "event_type": rng.choice(["click", "view", "purchase", "signup", "error"],
                                 n_events).tolist(),
        "value": rng.gamma(2.0, 25.0, n_events).round(2).tolist(),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_events)]},
      [("event_id", _I64), ("ts", ts), ("user_id", _I64), ("event_type", _STR),
       ("value", _F64), ("props", _STR)])
    texts = []
    lengths = rng.permutation(np.arange(n_docs) % 61 + 20)
    near_dup = _exact(rng, n_docs - 1, {False: 0, True: int(0.15 * n_docs)})
    for i in range(n_docs):
        if i and near_dup[i - 1]:
            # near-duplicate: an earlier document with one word swapped
            words = texts[int(rng.integers(0, len(texts)))].split()
            words[int(rng.integers(0, len(words)))] = str(rng.choice(_WORDS))
        else:
            words = rng.choice(_WORDS, int(lengths[i])).tolist()
        texts.append(" ".join(words))
    w("documents", {
        "doc_id": list(range(n_docs)),
        "text": texts,
        "lang": rng.choice(["en", "de", "fr", "es", "zh"], n_docs).tolist(),
        "source": [f"src{s}" for s in rng.integers(0, 20, n_docs)],
        "n_chars": [len(t) for t in texts]},
      [("doc_id", _I64), ("text", _STR), ("lang", _STR), ("source", _STR),
       ("n_chars", _I64)])
    vecs = rng.normal(0, 0.12, (n_vecs, 64)).astype(np.float32)
    dup = np.array(_exact(rng, n_vecs, {False: 0, True: n_vecs // 10}))
    src = rng.integers(0, n_vecs, n_vecs)
    vecs[dup] = vecs[src[dup]] + rng.normal(0, 0.001, (int(dup.sum()), 64)).astype(np.float32)
    w("embeddings", {
        "vec_id": list(range(n_vecs)),
        "embedding": [v.tolist() for v in vecs],
        "label": rng.integers(0, 10, n_vecs).tolist()},
      [("vec_id", _I64), ("embedding", pa.list_(pa.float32())), ("label", i32)])
    return total
