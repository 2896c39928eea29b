"""Sources (S1-S4): parquet testdata loaders, CSV, Excel, JSON.

The reference reads CSV/XLSX via pandas (app.py:85-88). Here: CSV/JSON/parquet
are native Spark readers (splittable, predicate-pushdown-capable); XLSX has no
scalable reader so it is a driver-side pandas read materialized into a
DataFrame — correct for config-sized inputs, documented as non-scalable.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def _pin_engine_confs(spark: SparkSession) -> None:
    """Engine session invariants, applied identically on EVERY table load.

    ``session.build_session`` already sets both; this re-pin exists for
    driver-provided sessions built elsewhere. Applying it unconditionally
    (not just when `events` happens to load first) makes query behavior
    independent of table-load order — the confs are a documented engine
    contract (UTC timestamp rendering matching the DuckDB oracle; NANOS
    parquet readable as int64), not a per-read toggle. Neither has a
    per-read DataFrameReader option in Spark, so a session conf is the only
    scoping available.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    _pin_engine_confs(spark)
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        # events.ts has shipped as parquet TIMESTAMP(NANOS) in some testdata
        # generations and TIMESTAMP(MICROS, isAdjustedToUTC=false) in others,
        # so normalize whatever the footer says to a session-tz TimestampType:
        #   - NANOS: Spark rejects it outright, so read as raw int64
        #     (nanosAsLong) and rebuild micros. Integer `div` is required —
        #     the values exceed double's 53 bits, so float division would
        #     corrupt low digits. DuckDB truncates ns->us on read the same
        #     way, keeping the oracle comparable.
        #   - MICROS NTZ: reads as TIMESTAMP_NTZ; cast to TIMESTAMP with the
        #     session pinned to UTC, which maps wall-clock to the same epoch
        #     micros DuckDB's epoch_us() reports for the naive value.
        from pyspark.sql import functions as F
        from pyspark.sql.types import LongType, TimestampType

        df = spark.read.parquet(path)
        ts_type = df.schema["ts"].dataType
        if isinstance(ts_type, LongType):
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif not isinstance(ts_type, TimestampType):
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    return spark.read.parquet(path)


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load_table(spark, sf_dir, t) for t in TESTDATA_TABLES}


def read_input(spark: SparkSession, path: str, header: bool = True) -> DataFrame:
    """S1/S2 dispatch by extension (reference app.py:85-88)."""
    lower = path.lower()
    if lower.endswith(".csv"):
        return spark.read.option("header", str(header).lower()).option(
            "inferSchema", "true"
        ).csv(path)
    if lower.endswith((".xlsx", ".xls")):
        return _read_excel_driver_side(spark, path)
    if lower.endswith((".json", ".jsonl", ".ndjson")):
        return spark.read.json(path)
    return spark.read.parquet(path)


def read_inputs(
    spark: SparkSession, paths: list[str], header: bool = True
) -> DataFrame:
    """U2 (reference app.py:76-128): the multi-file batch loop as ONE
    DataFrame. Each input is read via the ``read_input`` format dispatch,
    tagged with a ``source_file`` column (the file's basename, matching the
    reference's per-upload naming), and unioned by column NAME with missing
    columns null-filled — uploads with differing column sets still combine.

    Native-reader formats derive the tag from ``input_file_name()`` so it
    stays correct even when one glob path expands to many files; the
    driver-side xlsx reader tags with the literal path it was given.
    """
    from pyspark.sql import functions as F

    if not paths:
        raise ValueError("read_inputs: at least one input path required")
    parts: list[DataFrame] = []
    for p in paths:
        df = read_input(spark, p, header=header)
        if p.lower().endswith((".xlsx", ".xls")):
            tag = F.lit(os.path.basename(p))
        else:
            tag = F.element_at(F.split(F.input_file_name(), "/"), -1)
        parts.append(df.withColumn("source_file", tag))
    out = parts[0]
    for df in parts[1:]:
        out = out.unionByName(df, allowMissingColumns=True)
    return out


def _read_excel_driver_side(spark: SparkSession, path: str) -> DataFrame:
    """S2: driver-side xlsx read (reference app.py:85-88 semantics: first
    sheet, first row = header). pandas+openpyxl when available; otherwise the
    stdlib fallback (sources/xlsx_lite.py) parses the OOXML parts directly —
    no environment gate either way."""
    import pandas as pd

    try:
        pdf = pd.read_excel(path)
    except ImportError:  # no openpyxl: stdlib OOXML fallback
        from datafusion_dedup_ai_spark.sources.xlsx_lite import read_xlsx

        sheets = read_xlsx(path)
        rows = next(iter(sheets.values()), [])
        header = [str(h) for h in rows[0]] if rows else []
        pdf = pd.DataFrame(rows[1:], columns=header)
    return spark.createDataFrame(pdf)


def peek_schema(spark: SparkSession, path: str, n_rows: int = 1) -> dict:
    """S4 (reference app.py:66-71): the per-file column listing the UI shows
    before a run — column names, Spark types, and a tiny sample, WITHOUT
    scanning the file (schema from footer/header; sample via limit pushdown).
    """
    df = read_input(spark, path)
    return {
        "path": path,
        "columns": [(f.name, f.dataType.simpleString()) for f in df.schema.fields],
        "sample": [r.asDict() for r in df.limit(n_rows).collect()],
    }


def first_string_column(df: DataFrame) -> str:
    """S3: auto-detect the name column as the first string-typed field
    (reference engine_test.py:14-16)."""
    from pyspark.sql.types import StringType

    for f in df.schema.fields:
        if isinstance(f.dataType, StringType):
            return f.name
    raise ValueError("no string column found")


def load_spread(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """load_table + repartition to the session's default parallelism.

    The local testdata tables are single parquet row-groups, so Spark plans
    ONE input partition — fine for scans/aggregations, but it serializes
    CPU-heavy per-row work (regex folds, HOF char folds, pandas UDFs). A real
    100 TB table arrives in thousands of splits; this repartition recreates
    that shape locally for the compute-bound operators."""
    df = load_table(spark, sf_dir, name)
    return df.repartition(spark.sparkContext.defaultParallelism)
