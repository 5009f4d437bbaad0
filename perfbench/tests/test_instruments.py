"""Round-trip generated MCC / STA files through the single-file loaders and
the distributed scans, against the generator's ground truth.

Run from the repository root:  python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [ROOT, BENCH]

import instruments  # noqa: E402


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    os.environ.setdefault("SPARK_GRAFT_CPUS", "2")
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        filter(None, [ROOT, os.environ.get("PYTHONPATH")])
    )
    from lab_etl_spark.session import get_spark

    s = get_spark("perfbench-tests")
    yield s
    s.stop()


@pytest.fixture(scope="module")
def corpus(tmp_path_factory):
    root = str(tmp_path_factory.mktemp("instruments"))
    return instruments.generate(
        root, seed=7, mcc_files=3, sta_files=3, mcc_rows=600, sta_rows=450
    )


def test_generator_is_seeded(tmp_path):
    a = instruments.generate(str(tmp_path / "a"), 11, 2, 2, 200, 200)
    b = instruments.generate(str(tmp_path / "b"), 11, 2, 2, 200, 200)
    c = instruments.generate(str(tmp_path / "c"), 12, 2, 2, 200, 200)
    digests = lambda corp: [f.blake2b for f in corp.files]  # noqa: E731
    assert digests(a) == digests(b)
    assert digests(a) != digests(c)
    assert len({f.rows for f in a.files}) > 1  # sizes differ


@pytest.mark.parametrize("fmt", ["MCC", "STA"])
def test_load_matches_truth(spark, corpus, fmt):
    from pyspark.sql import functions as F

    from lab_etl_spark.meta import file_blake2b, units_of
    from lab_etl_spark.sources import load_mcc, load_sta_csv

    load = load_mcc if fmt == "MCC" else load_sta_csv
    for truth in corpus.of(fmt):
        assert file_blake2b(truth.path) == truth.blake2b
        df = load(spark, truth.path)
        names = [n for n, _ in truth.channels]
        units = units_of(df)
        assert {n: units.get(n) for n in names} == {
            n: u for n, u in truth.channels if u is not None
        } | {n: None for n, u in truth.channels if u is None}
        row = df.agg(
            F.count("*").alias("n"),
            F.first("file_hash").alias("h"),
            F.first("file_metadata").alias("m"),
            *[F.sum(n).alias(n) for n in names],
        ).first()
        assert row["n"] == truth.rows
        assert row["h"] == truth.blake2b
        assert json.loads(row["m"])
        assert {n: row[n] for n in names} == truth.sums


def test_scan_matches_truth(spark, corpus):
    from pyspark.sql import functions as F

    from lab_etl_spark.sources.text_formats import scan_mcc, scan_sta_csv

    for fmt, scan, ext in (("MCC", scan_mcc, "txt"), ("STA", scan_sta_csv, "csv")):
        got = {
            (r["source_file"], r["channel"]): r
            for r in scan(spark, f"{corpus.root}/{fmt.lower()}/*.{ext}")
            .groupBy("source_file", "channel")
            .agg(
                F.count("*").alias("n"),
                F.sum("value").alias("s"),
                F.max("unit").alias("unit"),
                F.max("file_hash").alias("h"),
            )
            .collect()
        }
        want = {
            (os.path.basename(t.path), n): (t.rows, t.sums[n], u, t.blake2b)
            for t in corpus.of(fmt)
            for n, u in t.channels
        }
        assert set(got) == set(want)
        for key, (rows, total, unit, digest) in want.items():
            r = got[key]
            assert (r["n"], r["s"], r["unit"], r["h"]) == (rows, total, unit, digest)
