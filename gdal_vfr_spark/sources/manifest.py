"""Batch-manifest source: the engine's replacement for the reference's
file-list/download machinery (S2/S3, vfrogr.py:224-359, parse.py:53-64,
utils.py:45-176).

The reference resolves `--type ST_UKSH --date 20240601:20240603` into
concrete VFR file names (date defaulting, interval expansion, URL
prefixing). Here the same resolution produces a *manifest DataFrame* of
batch ids that drives the per-batch loop — no network: at runtime
batches are pre-landed tables/partitions. The F8 file-name rule is one
table that `resolve_file_names` and `file_name_expr` both read.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame, functions as F


def infer_default_date(vfr_type: str, today: dt.date) -> dt.date:
    """Date defaulting (parse.py:53-57, utils.py:122-146): change types
    (ST_Z* / OB_Z*) default to yesterday; full dumps default to the last
    day of the previous month."""
    parts = vfr_type.split("_")
    is_change = len(parts) > 1 and parts[1].upper().startswith("Z")
    if is_change:
        return today - dt.timedelta(days=1)
    first_of_month = today.replace(day=1)
    return first_of_month - dt.timedelta(days=1)


def expand_date_interval(spec: str, today: dt.date | None = None) -> list[dt.date]:
    """`YYYYMMDD:YYYYMMDD` -> day list (utils.py:148-176); open-ended
    `YYYYMMDD:` runs to yesterday; single date passes through."""
    today = today or dt.date.today()

    def parse(s: str) -> dt.date:
        return dt.datetime.strptime(s, "%Y%m%d").date()

    if ":" not in spec:
        return [parse(spec)]
    lo, _, hi = spec.partition(":")
    start = parse(lo)
    end = parse(hi) if hi else today - dt.timedelta(days=1)
    if end < start:
        raise ValueError(f"empty date interval {spec!r}")
    return [start + dt.timedelta(days=i) for i in range((end - start).days + 1)]


# F8 — file-name synthesis `{prefix}{date}_{type}{ext}` (parse.py:74-79):
# types ending in UVOH live under specialni/ as .xml.zip (vfrogr.py:
# 346-350), every other type under soucasna/ as .xml.gz. The driver list
# and the Catalyst column both read this one rule.
SPECIAL_TYPE_SUFFIX = "UVOH"
SPECIAL_FILE = ("specialni/", ".xml.zip")
CURRENT_FILE = ("soucasna/", ".xml.gz")


def resolve_file_names(vfr_type: str, dates: list[dt.date]) -> list[str]:
    """F8 for one type over a date list (the manifest's batch ids)."""
    special = vfr_type.upper().endswith(SPECIAL_TYPE_SUFFIX)
    prefix, ext = SPECIAL_FILE if special else CURRENT_FILE
    return [f"{prefix}{d.strftime('%Y%m%d')}_{vfr_type}{ext}" for d in dates]


def file_name_expr(type_col, date_col):
    """F8 as a Catalyst column over (type, date) columns."""
    special = F.upper(type_col).endswith(SPECIAL_TYPE_SUFFIX)
    prefix, ext = (
        F.when(special, F.lit(s)).otherwise(F.lit(c))
        for s, c in zip(SPECIAL_FILE, CURRENT_FILE)
    )
    return F.concat(prefix, F.date_format(date_col, "yyyyMMdd"), F.lit("_"), type_col, ext)


def retry_plan(
    df: DataFrame,
    type_col: str = "vfr_type",
    date_col: str = "base_date",
) -> DataFrame:
    """S2 — the HTTP source's date-retry semantics as a manifest
    expansion (vfrogr.py:260-281): CUZK publishes full dumps on the
    last day of the month but slips by up to 3 days, so a full-dump
    download retries dates d, d+1, d+2, d+3 (ndays=3 => 4 attempts);
    change files (`ST_Z*`) get exactly one attempt (ndays=0). Output
    adds (attempt, candidate_date, candidate_name) rows per input —
    the declarative twin of the reference's imperative retry loop: at
    runtime a connector tries the candidates in attempt order and
    keeps the first that exists. Pure Catalyst sequence/explode."""
    ndays = F.when(
        F.locate("ST_Z", F.upper(F.col(type_col))) > 0, F.lit(0)
    ).otherwise(F.lit(3))
    attempts = F.sequence(F.lit(0), ndays)
    out = df.select("*", F.explode(attempts).alias("attempt"))
    cand_date = F.date_add(F.col(date_col), F.col("attempt"))
    return out.select(
        "*",
        cand_date.alias("candidate_date"),
        file_name_expr(F.col(type_col), cand_date).alias("candidate_name"),
    )


def parse_dsn(df: DataFrame, dsn_col: str = "dsn") -> DataFrame:
    """F9 — OGR datasource-name extraction (vfr2pg's PG DSN parsing,
    vfrpg.py / vfr2py.py argument handling): split a
    'PG:key=value key=value' connection string into typed columns with
    pure Catalyst regexp_extract (patterns stay in the
    Java∩RE2∩Python-re subset: explicit classes, no backrefs).
    Missing keys yield NULL (regexp_extract '' -> NULL via nullif)."""

    def part(key: str):
        return F.nullif(
            F.regexp_extract(F.col(dsn_col), f"{key}=([^ ]+)", 1), F.lit("")
        )

    return df.withColumns(
        {
            "driver": F.nullif(
                F.regexp_extract(F.col(dsn_col), "^([A-Za-z]+):", 1), F.lit("")
            ),
            "dbname": part("dbname"),
            "host": part("host"),
            "port": part("port").cast("int"),
            "user": part("user"),
        }
    )


def resolve_options(
    defaults: dict[str, str] | None = None,
    conf_path: str | None = None,
    env: dict[str, str] | None = None,
    env_keys: tuple[str, ...] = ("LOG_FILE", "DATA_DIR", "LOG_DIR"),
    overrides: dict[str, str] | None = None,
) -> dict[str, str]:
    """Config-file option resolution — the engine's analogue of the
    reference's `_read_conf` (vfrogr.py:179-223 over vfr4ogr.conf):
    built-in defaults < config-file `KEY=value` lines < environment
    variables (the reference checks exactly LOG_FILE/DATA_DIR/LOG_DIR)
    < explicit overrides (the CLI layer). `#` lines are comments; a
    non-comment line splits on its FIRST `=` (the value may itself
    contain `=`, and `KEY=` yields an empty value); a line with no `=`
    at all or an empty key raises (the reference constructs-but-forgets
    its VfrError there — we surface the error).
    Blank lines are skipped. No directory side effects: the driver, not
    the resolver, owns filesystem setup (vfrogr.py:214-220's makedirs
    belongs to the sink)."""
    conf = dict(defaults or {"LOG_DIR": ".", "DATA_DIR": "data"})
    if conf_path is not None:
        with open(conf_path) as f:
            for raw in f:
                line = raw.strip()
                if not line or line.startswith("#"):
                    continue
                key, sep, value = line.partition("=")
                if not sep or not key:
                    raise ValueError(f"invalid configuration line: {raw!r}")
                conf[key.strip()] = value.strip()
    src = env if env is not None else __import__("os").environ
    for key in env_keys:
        if key in src:
            conf[key] = src[key]
    conf.update(overrides or {})
    return conf


def batch_manifest(
    spark,
    vfr_type: str,
    date_spec: str | None = None,
    today: dt.date | None = None,
) -> DataFrame:
    """Manifest DataFrame: one row per batch with id, date, mode.
    Mode column implements M1 dispatch (vfrogr.py:992-1003)."""
    from gdal_vfr_spark.operators.merge import decide_mode

    today = today or dt.date.today()
    dates = (
        expand_date_interval(date_spec, today)
        if date_spec
        else [infer_default_date(vfr_type, today)]
    )
    names = resolve_file_names(vfr_type, dates)
    rows = [
        (name, d.strftime("%Y%m%d"), vfr_type, decide_mode(name))
        for name, d in zip(names, dates)
    ]
    return spark.createDataFrame(rows, "batch_id string, date string, vfr_type string, mode string")
