"""Sinks (O7 + friends). The reference writes three xlsx workbooks via
openpyxl (outputs.py:9-20, 44-58); here the scalable sinks are native
partitioned parquet/CSV writers, with xlsx kept as a driver-side convenience
for config-sized results: pandas/openpyxl when openpyxl is installed, else
the stdlib OOXML writer (sources/xlsx_lite.py).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame


def write_parquet(df: DataFrame, path: str, partition_by: list[str] | None = None) -> None:
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def write_reports_parquet(reports: dict[str, DataFrame], out_dir: str) -> dict[str, str]:
    """The O7 multi-report sink, scalable form: one parquet dataset per report
    (clusters / canonical_summary / golden_mapping / review / stats)."""
    paths = {}
    for name, df in reports.items():
        p = os.path.join(out_dir, name)
        write_parquet(df, p)
        paths[name] = p
    return paths


def write_xlsx_driver_side(reports: dict, path) -> None:
    """O7: reference-parity multi-sheet xlsx sink (outputs.py:44-58),
    driver-side — results after dedup are config-sized; the scalable sink is
    write_reports_parquet. Each sheet is a pandas frame or a Spark frame
    (pulled with ``toPandas``). Uses pandas/openpyxl when available, else the
    stdlib OOXML writer (sources/xlsx_lite.py) — no environment gate.
    ``path`` may be a filesystem path OR any binary file-like object (both
    pd.ExcelWriter and the zipfile-backed lite writer accept either)."""
    import pandas as pd

    def as_pandas(df) -> pd.DataFrame:
        return df if isinstance(df, pd.DataFrame) else df.toPandas()

    try:
        import openpyxl  # noqa: F401

        with pd.ExcelWriter(path, engine="openpyxl") as writer:
            for sheet, df in reports.items():
                as_pandas(df).to_excel(writer, sheet_name=sheet[:31], index=False)
    except ImportError:
        from datafusion_dedup_ai_spark.sources.xlsx_lite import write_xlsx

        sheets: dict[str, list[list]] = {}
        for sheet, df in reports.items():
            pdf = as_pandas(df)
            rows: list[list] = [list(map(str, pdf.columns))]
            for rec in pdf.itertuples(index=False):
                rows.append([None if v is None else v for v in rec])
            sheets[sheet[:31]] = rows
        write_xlsx(path, sheets)


def write_xlsx_bytes(reports: dict, out_dir: str | None = None, filename: str = "report.xlsx"):
    """O7 in-memory form (reference outputs.py:9-20: save_xlsx renders each
    workbook into a BytesIO FIRST — the UI serves downloads from the buffer —
    and only optionally copies it to disk). Returns the rewound buffer;
    passes it straight through write_xlsx_driver_side, so the engine
    selection (openpyxl vs the stdlib OOXML writer) is shared."""
    import io

    buf = io.BytesIO()
    write_xlsx_driver_side(reports, buf)
    buf.seek(0)
    if out_dir:
        with open(os.path.join(out_dir, filename), "wb") as f:
            f.write(buf.getbuffer())
        buf.seek(0)
    return buf


SETTINGS_COLUMNS = ["Setting", "Value"]


def settings_rows(config) -> list[tuple[str, str]]:
    """O3: the (Setting, Value) rows auditing the run configuration
    (outputs.py:32-42)."""
    from datafusion_dedup_ai_spark.config import COUNTRY_TOKENS, LEGAL_SUFFIXES

    return [
        ("hard_threshold", str(config.hard_threshold)),
        ("soft_threshold", str(config.soft_threshold)),
        ("no_subsidiary_fold", str(config.no_subsidiary_fold)),
        ("web_search", str(config.enable_web_search)),
        ("enrichment", str(config.enable_enrichment)),
        ("suffix_list_size", str(len(LEGAL_SUFFIXES))),
        ("country_list_size", str(len(COUNTRY_TOKENS))),
        ("acronym_map_size", str(len(config.acronym_map))),
        ("max_block_size", str(config.max_block_size)),
    ]


def settings_sheet(config, spark) -> DataFrame:
    """O3: the settings_rows audit sheet as a Spark frame."""
    return spark.createDataFrame(settings_rows(config), SETTINGS_COLUMNS)
