"""TA/Waters Fox HFM ``.tst`` source (SURVEY.md §2A ``src_hfm_tst``).

The format is UTF-16LE "word-document-like" text (reference docs/hfm.md): a
metadata preamble, then per-setpoint blocks.  Two run modes produce two
output schemas (fox_hfm_parser.py:421-429 conductivity, :449-455 volumetric
heat capacity); mode is detected from the ``Run Mode: Specific Heat`` line.

Spark shape (SURVEY.md §3.2 pattern): the per-file state machine is pure
Python — inexpressible in Catalyst and not worth forcing — so it runs as a
whole-file operator over a ``binaryFile`` scan via ``mapInPandas``.
Parallelism is across files (one instrument run ≈ 15 KB, thousands of files
at lake scale → one task per file batch); within a file the parse is O(KB).

``load_hfm``     — single path, driver-side parse (the reference's call shape).
``scan_hfm``     — distributed multi-file scan, one row per setpoint, with
                   provenance columns; this is the 100 TB-lake entry point.
"""

from __future__ import annotations

import re
from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from ..meta import attach_provenance, file_blake2b, with_units

_DATE_RE = re.compile(
    r"^(Monday|Tuesday|Wednesday|Thursday|Friday|Saturday|Sunday),\s+\w+\s+\d+,\s+\d{4},\s+Time\s+\d+:\d+"
)
_VALUE_UNIT_RE = re.compile(r"([+-]?\d+(?:\.\d+)?)\s*([^\s\d]+)?")


def _num(s: str) -> float | None:
    m = _VALUE_UNIT_RE.search(s)
    return float(m.group(1)) if m else None


def parse_hfm_text(text: str) -> tuple[dict[str, Any], list[dict[str, Any]]]:
    """State machine over the decoded file → (file_metadata, setpoint_rows).

    Harvests the preamble keys the reference pins (fox_hfm_parser.py:36-404:
    date, sample id, thickness + corners, calibration, setpoint count) and
    one result dict per ``Setpoint No.`` block.
    """
    meta: dict[str, Any] = {}
    rows: list[dict[str, Any]] = []
    mode = "conductivity"
    current: dict[str, Any] | None = None
    comments: list[str] = []

    for raw in text.splitlines():
        line = raw.strip().strip("﻿")
        if not line:
            continue
        if _DATE_RE.match(line) and "date_performed" not in meta:
            meta["date_performed"] = line
            continue
        if line.startswith("Run Mode") and "Specific Heat" in line:
            mode = "volumetric_heat_capacity"
            continue
        if line.startswith("Sample Name:"):
            meta["sample_id"] = line.split(":", 1)[1].strip()
            continue
        if line.startswith("Thickness:"):
            v = line.split(":", 1)[1].strip()
            m = re.match(r"([\d.]+)\s*(\S+)", v)
            if m:
                meta["thickness"] = {
                    "value": float(m.group(1)),
                    "unit": m.group(2),
                }
            continue
        m = re.match(
            r"(Rear Left|Rear Right|Front Left|Front Right)\s*:\s*([\d.]+)\s*(\S+)",
            line,
        )
        if m:
            meta.setdefault("thickness", {})[
                m.group(1).lower().replace(" ", "_")
            ] = {"value": float(m.group(2)), "unit": m.group(3)}
            # corner pairs may share one line — scan the remainder too
            rest = line[m.end():]
            m2 = re.search(
                r"(Rear Left|Rear Right|Front Left|Front Right)\s*:\s*([\d.]+)\s*(\S+)",
                rest,
            )
            if m2:
                meta["thickness"][
                    m2.group(1).lower().replace(" ", "_")
                ] = {"value": float(m2.group(2)), "unit": m2.group(3)}
            continue
        if line.startswith("Thickness obtained"):
            meta.setdefault("thickness", {})["obtained"] = (
                line.split(":", 1)[1].strip()
            )
            continue
        if line.startswith("Calibration used"):
            meta.setdefault("calibration", {})["type"] = line.split(":", 1)[1].strip()
            continue
        if line.startswith("Calibration File Id"):
            meta.setdefault("calibration", {})["file"] = line.split(":", 1)[1].strip()
            continue
        m = re.match(
            r"Transducer Heat Capacity Coefficients:\s*A\s*=\s*([\d.]+)\s*B\s*=\s*([\d.]+)",
            line,
        )
        if m:
            meta.setdefault("calibration", {})["heat_capacity_coefficients"] = {
                "A": float(m.group(1)),
                "B": float(m.group(2)),
            }
            continue
        if line.startswith("Number of transducers per plate"):
            meta["number_of_transducers"] = int(_num(line) or 0)
            continue
        if line.startswith("Number of Setpoints"):
            meta["number_of_setpoints"] = int(_num(line) or 0)
            continue
        if line.startswith("[") and line.endswith("]"):
            body = line.strip("[]").strip()
            if body:
                comments.append(body)
            continue

        m = re.match(r"Setpoint No\.\s*(\d+)", line)
        if m:
            current = {"setpoint": int(m.group(1))}
            rows.append(current)
            continue
        if current is not None:
            for label, key in (
                ("Temperature Upper", "upper_temperature"),
                ("Temperature Lower", "lower_temperature"),
                ("Temperature Average", "average_temperature"),
            ):
                if line.startswith(label):
                    current[key] = _num(line.split(":", 1)[1])
                    break
            else:
                if line.startswith("Results Upper"):
                    current["upper_thermal_conductivity"] = _num(
                        line.split(":", 1)[1]
                    )
                elif line.startswith("Results Lower"):
                    current["lower_thermal_conductivity"] = _num(
                        line.split(":", 1)[1]
                    )
                elif line.startswith("Specific Heat"):
                    current["volumetric_heat_capacity"] = _num(
                        line.split(":", 1)[1]
                    )

    if comments:
        meta["comment"] = comments if len(comments) > 1 else comments[0]
    meta["type"] = mode
    return meta, rows


CONDUCTIVITY_SCHEMA = StructType(
    [
        StructField("setpoint", IntegerType()),
        StructField("upper_temperature", DoubleType()),
        StructField("lower_temperature", DoubleType()),
        StructField("upper_thermal_conductivity", DoubleType()),
        StructField("lower_thermal_conductivity", DoubleType()),
    ]
)
HEAT_CAPACITY_SCHEMA = StructType(
    [
        StructField("setpoint", IntegerType()),
        StructField("average_temperature", DoubleType()),
        StructField("volumetric_heat_capacity", DoubleType()),
    ]
)
CONDUCTIVITY_UNITS = {
    "upper_temperature": "°C",
    "lower_temperature": "°C",
    "upper_thermal_conductivity": "W/mK",
    "lower_thermal_conductivity": "W/mK",
}
HEAT_CAPACITY_UNITS = {
    "average_temperature": "°C",
    "volumetric_heat_capacity": "J/(m³K)",
}


def load_hfm(spark: SparkSession, path: str) -> DataFrame:
    """Single-file load mirroring the reference call shape
    (fox_hfm_parser.py:12-17): one row per setpoint + provenance columns."""
    with open(path, "rb") as f:
        text = f.read().decode("utf-16-le", errors="replace")
    meta, rows = parse_hfm_text(text)
    if meta.get("type") == "volumetric_heat_capacity":
        schema, units = HEAT_CAPACITY_SCHEMA, HEAT_CAPACITY_UNITS
    else:
        schema, units = CONDUCTIVITY_SCHEMA, CONDUCTIVITY_UNITS
    data = [
        tuple(r.get(f.name) for f in schema.fields) for r in rows
    ]
    df = with_units(spark.createDataFrame(data, schema), units)
    return attach_provenance(
        df, "HFM", path, file_blake2b(path), meta
    )


_SCAN_SCHEMA = StructType(
    [
        StructField("source_file", StringType()),
        StructField("run_mode", StringType()),
        StructField("setpoint", IntegerType()),
        StructField("upper_temperature", DoubleType()),
        StructField("lower_temperature", DoubleType()),
        StructField("average_temperature", DoubleType()),
        StructField("upper_thermal_conductivity", DoubleType()),
        StructField("lower_thermal_conductivity", DoubleType()),
        StructField("volumetric_heat_capacity", DoubleType()),
        StructField("sample_id", StringType()),
    ]
)


def hfm_parse_batch(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    """Arrow-batched whole-file parse kernel: (path, content) rows →
    unified-schema data rows.  Shared by the batch scan (:func:`scan_hfm`)
    and the streaming ingest (streaming/jobs.py ``instrument_ingest``), so
    both paths decode byte-identically."""
    for pdf in batches:
        out: list[dict[str, Any]] = []
        for path, content in zip(pdf["path"], pdf["content"]):
            meta, rows = parse_hfm_text(
                bytes(content).decode("utf-16-le", errors="replace")
            )
            for r in rows:
                out.append(
                    {
                        "source_file": path,
                        "run_mode": meta.get("type"),
                        "sample_id": meta.get("sample_id"),
                        **r,
                    }
                )
        yield pd.DataFrame(out, columns=[f.name for f in _SCAN_SCHEMA.fields])


def apply_hfm_units(df: DataFrame) -> DataFrame:
    return with_units(df, {**CONDUCTIVITY_UNITS, **HEAT_CAPACITY_UNITS})


def scan_hfm(spark: SparkSession, path_glob: str) -> DataFrame:
    """Distributed multi-file scan: ``binaryFile`` source → per-file parse in
    ``mapInPandas`` (Arrow-batched; one Python call per file partition, not
    per row).  Unified superset schema across both run modes — nulls where a
    mode lacks the column, exactly how a lake table unions heterogeneous
    instrument runs."""
    binary = spark.read.format("binaryFile").load(path_glob)
    return (
        binary.select("path", "content")
        .mapInPandas(hfm_parse_batch, _SCAN_SCHEMA)
        .transform(apply_hfm_units)
    )
