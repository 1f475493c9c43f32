"""SMS report ingestion: fixed-format text -> typed rows, Spark-first.

The reference parses human-readable "SMS" schedule reports with a set of
coupled regexes applied file-by-file in Python
(ref: cosmo/sms/ingest_sms.py:20-152 — 11 named patterns, header skip,
``MEMORY``/``ALIGN/OSM``/``ALIGN/APER`` line exclusion, ``FPPOS = fpoffset+3``,
typed via a dtype map :40-56), tracks files with an ingest log + version
supersede (:201-294), and upserts with conflict rules (:154-198).

Spark formulation (this module):
- ``spark.read.text`` with ``input_file_name()`` — every report in the
  directory, or just a given list of report files, parses in one
  distributed job (the reference loops per file);
- line filters + one ``regexp_extract`` per column — pure codegen, no UDF;
- a count-based parse validation action mirroring the reference's eager
  ``ValueError`` on malformed files;
- catalog/version logic: the top version per SMSID picked on the driver
  from the directory listing, anti-join new-file discovery, and the
  version-guarded merge from operators.merge.

Line format (this engine's canonical SMS serialization — the reference's
exact column widths are data-dependent; semantics, typing, and derivations
follow FIXTURES.md §4):

    EXPOSURE ROOTNAME PROPOSID DETECTOR OPMODE EXPTIME EXPSTART \
    FUVHVSTATE APERTURE OSM1POS OSM2POS CENWAVE FPOFFSET TSINCEOSM1 TSINCEOSM2

whitespace-separated, ``EXPSTART`` as ``yyyy.ddd:hh:mm:ss``; header lines
start with ``#``; ``MEMORY`` / ``ALIGN/OSM`` / ``ALIGN/APER`` exposure lines
are excluded (ref: ingest_sms.py:99-101).
"""

from __future__ import annotations

import os
import re
from collections.abc import Sequence

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: whitespace-separated field spec: (position, cast type)
_FIELDS: list[tuple[str, str]] = [
    ("EXPOSURE", "string"),
    ("ROOTNAME", "string"),
    ("PROPOSID", "long"),
    ("DETECTOR", "string"),
    ("OPMODE", "string"),
    ("EXPTIME", "double"),
    ("EXPSTART", "string"),
    ("FUVHVSTATE", "string"),
    ("APERTURE", "string"),
    ("OSM1POS", "string"),
    ("OSM2POS", "string"),
    ("CENWAVE", "long"),
    ("FPOFFSET", "long"),
    ("TSINCEOSM1", "double"),
    ("TSINCEOSM2", "double"),
]

#: exposure types excluded from the schedule table (ref: ingest_sms.py:99-101)
_EXCLUDED = ("MEMORY", "ALIGN/OSM", "ALIGN/APER")

#: SMS filenames look like <smsid:6><version:2-3>.txt, e.g. 181137c2.txt
_NAME_RE = re.compile(r"^(?P<smsid>[0-9]{6})(?P<version>[a-z0-9]{2,3})\.txt$")


class SmsParseError(ValueError):
    """A report line failed to parse (ref eager contract:
    tests/test_sms_ingest.py:50-55 — malformed file raises)."""


def parse_sms_reports(
    spark: SparkSession, path: str | Sequence[str], validate: bool = True
) -> DataFrame:
    """Parse SMS reports into typed exposure rows, one distributed job:
    every ``*.txt`` report under ``path`` when it is a directory, or
    exactly the report files ``path`` lists — the incremental form an
    ingest round uses, so a round parses O(new reports) lines whatever
    the history on disk.

    Output: FIXTURES.md §4 schema — all 15 columns plus ``FILEID``
    (``smsid || version`` derived from the filename) and
    ``FPPOS = FPOFFSET + 3`` (ref: ingest_sms.py:141).  With ``validate``
    the malformed-line check runs eagerly, before the caller can publish
    anything, and raises SmsParseError.

    Scale: ``spark.read.text`` splits by file; parsing is per-line regexp in
    codegen.  The reference's per-file Python loop becomes task parallelism.
    """
    files = [os.path.join(path, "*.txt")] if isinstance(path, str) else list(path)
    lines = spark.read.text(files).withColumn("__file", F.input_file_name())
    body = lines.filter(
        (F.length(F.trim("value")) > 0)
        & ~F.col("value").startswith("#")
        & ~F.col("value").rlike("|".join(re.escape(x) for x in _EXCLUDED))
    )
    # one whitespace-separated token per field, in declared order
    parts = F.split(F.trim(F.col("value")), r"\s+")
    cols = [
        F.element_at(parts, i + 1).cast(dtype).alias(name)
        for i, (name, dtype) in enumerate(_FIELDS)
    ]
    fileid = F.regexp_extract(
        F.element_at(F.split(F.col("__file"), "/"), -1), r"([0-9]{6}[a-z0-9]{2,3})\.txt$", 1
    )
    parsed = body.select(
        *cols,
        F.size(parts).alias("__n_tokens"),
        fileid.alias("FILEID"),
        F.col("value").alias("__line"),
    )
    if validate:
        bad = parsed.filter(
            (F.col("__n_tokens") != len(_FIELDS)) | F.col("EXPTIME").isNull()
        ).select("__line").limit(1).collect()
        if bad:
            raise SmsParseError(
                f"malformed SMS line (expected {len(_FIELDS)} fields): "
                f"{bad[0]['__line']!r}"
            )
    return parsed.select(
        *[name for name, _ in _FIELDS],
        "FILEID",
        (F.col("FPOFFSET") + 3).alias("FPPOS"),
    ).drop("FPOFFSET")


def sms_catalog(spark: SparkSession, path: str) -> DataFrame:
    """File catalog (FIXTURES.md §3): one row per SMSID found, with
    SMSID/VERSION split from the filename and only the top version per SMSID
    retained (ref: ingest_sms.py:274-280 — string-max version wins).

    The top version is picked on the driver from the directory listing
    this function already holds — the same string max, with no shuffle —
    and the rows enter Spark as an Arrow table, a local relation: reading
    them back (the ingest round collects its new-file set) runs no Spark
    job and starts no Python worker.
    """
    top: dict[str, tuple[str, str]] = {}
    for f in os.listdir(path):
        m = _NAME_RE.match(f)
        if m and m.group("version") > top.get(m.group("smsid"), ("",))[0]:
            top[m.group("smsid")] = (m.group("version"), f)
    if not top:
        raise OSError(f"no SMS files found in {path}")  # ref: ingest_sms.py:282-284
    ids = sorted(top)
    table = pa.table({
        "SMSID": ids,
        "VERSION": [top[i][0] for i in ids],
        "FILEID": [i + top[i][0] for i in ids],
        "FILENAME": [os.path.join(path, top[i][1]) for i in ids],
    })
    return spark.createDataFrame(table).withColumn(
        "INGEST_DATE", F.current_timestamp()
    )


def find_new(catalog: DataFrame, ingest_log: DataFrame | None) -> DataFrame:
    """New-file discovery (ref: SMSFinder._is_new, ingest_sms.py:288-294):
    catalog files whose FILEID is not in the ingest log — anti-join
    semantics (a NULL log FILEID matches nothing).

    The log's FILEID column is catalog-sized, like the directory listing
    ``sms_catalog`` already holds on the driver, so it comes to the driver
    in one column-pruned scan and the difference is a filter — no
    broadcast exchange, no dedup shuffle."""
    if ingest_log is None:
        return catalog
    done = {r.FILEID for r in ingest_log.select("FILEID").collect()} - {None}
    return catalog.filter(~F.col("FILEID").isin(sorted(done)))


def enrich_with_sms_tsince(exposures: DataFrame, sms: DataFrame) -> DataFrame:
    """Join TSINCEOSM1/TSINCEOSM2 from the SMS schedule onto exposure rows
    (ref: OSMDataModel, cosmo/monitors/data_models.py:156-182).

    The SMS table stores rootnames WITHOUT the trailing 'q' that the
    exposure files carry, so the join key is ``SMS.ROOTNAME || 'q'`` — the
    same fuzzy-key-normalization family as the lamptab rtrim join (J6).
    The merge is INNER, matching the reference's documented behavior: an
    exposure with no SMS entry (ingest lag) drops out of the monitored set.
    The SMS side is a schedule table (small), so it broadcasts.
    """
    tsince = sms.select(
        F.concat(F.col("ROOTNAME"), F.lit("q")).alias("ROOTNAME"),
        "TSINCEOSM1", "TSINCEOSM2",
    ).dropDuplicates(["ROOTNAME"])
    return exposures.join(F.broadcast(tsince), "ROOTNAME")
