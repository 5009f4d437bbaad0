"""The two op mixes and their correctness checks.

Each workload exposes ``ops`` (one pass, in seeded order), ``run(op)`` (the
timed op; returns what ``verify`` needs) and ``check(op)`` (the full
correctness check, run on the untimed warm-up pass; returns the seconds
spent in program calls).  A check raises
``AssertionError`` on a wrong result.
"""

from __future__ import annotations

import hashlib
import os
import pickle
import random
import shutil
import time

#: fixed-point loops: PageRank (operators/graph.py) and connected
#: components (operators/dedup.py), each with the tables it reads
ITERATIVE = {"q_pagerank": ["lineitem"], "q_dedup_clusters": ["documents"]}


def _expect(ok, message: str) -> None:
    """A correctness check that also holds under ``python -O``."""
    if not ok:
        raise AssertionError(message)


class _Collected:
    """Hands an already collected frame to ``tests.compare.compare``."""

    def __init__(self, pdf):
        self.pdf = pdf

    def toPandas(self):
        return self.pdf


class QueryMix:
    """Registered queries over the bundled sf0.01 tables; each op builds the
    query with ``Query.fn`` and runs it into the noop sink."""

    def __init__(self, tables, data_dir, cache_dir, work, rng, spark_of, tracer):
        from lab_etl_spark.queries import load_all

        registry = load_all()
        names = sorted(tables)
        self.queries = {n: registry[n] for n in names}
        self.tables = tables
        self.data_dir = data_dir
        self.cache_dir = cache_dir
        self.work = work
        self.ops = rng.sample(names, len(names))
        self.spark_of = spark_of
        self.tr = tracer
        self.oracles: dict = {}

    def input_bytes(self, op: str | None = None) -> int:
        """On-disk bytes of the tables ``op`` reads (all tables if None)."""
        names = (
            [f"{t}.parquet" for t in self.tables[op]]
            if op
            else os.listdir(self.data_dir)
        )
        return sum(os.path.getsize(os.path.join(self.data_dir, f)) for f in names)

    def prepare(self) -> None:
        """DuckDB oracle results, cached per (oracle SQL, input bytes)."""
        from tests.compare import duck_con

        digest = hashlib.sha256()
        for f in sorted(os.listdir(self.data_dir)):
            with open(os.path.join(self.data_dir, f), "rb") as fh:
                digest.update(fh.read())
        con = None
        os.makedirs(self.cache_dir, exist_ok=True)
        for name, q in self.queries.items():
            key = hashlib.sha256(
                (q.oracle + digest.hexdigest()).encode()
            ).hexdigest()[:24]
            path = os.path.join(self.cache_dir, f"{name}-{key}.pkl")
            if not os.path.exists(path):
                if con is None:
                    con = duck_con(self.data_dir)
                    con.execute(f"SET temp_directory='{self.work}/duckdb'")
                frame = con.execute(q.oracle).fetchdf()
                with open(path + ".part", "wb") as fh:
                    pickle.dump(frame, fh)
                os.replace(path + ".part", path)
            with open(path, "rb") as fh:
                self.oracles[name] = pickle.load(fh)
        if con is not None:
            con.close()

    def run(self, op: str):
        with self.tr.span("queries.build"):
            df = self.queries[op].fn(self.spark_of(), self.data_dir)
        with self.tr.span("spark.action"):
            df.write.format("noop").mode("overwrite").save()

    def before(self, op: str) -> None:
        pass

    def verify(self, op: str, result) -> None:
        pass  # the noop sink returns nothing; results are checked in check()

    def check(self, op: str) -> float:
        from tests.compare import compare

        t0 = time.perf_counter()
        with self.tr.span("queries.build"):
            df = self.queries[op].fn(self.spark_of(), self.data_dir)
        with self.tr.span("spark.action"):
            pdf = df.toPandas()
        spent = time.perf_counter() - t0
        compare(_Collected(pdf), self.oracles[op], op)
        return spent


class LabIngest:
    """Generated MCC/STA runs: bulk scan -> parquet lake, a read-back of the
    lake, and ``etl_file`` on a fixed sample of single runs."""

    ETL_PER_FORMAT = 2

    def __init__(self, work, seed, rng, spark_of, tracer):
        import instruments

        self.work = work
        self.corpus = instruments.generate(os.path.join(work, "instruments"), seed)
        self.lake = os.path.join(work, "lake")
        self.etl_out = os.path.join(work, "etl")
        self.spark_of = spark_of
        self.tr = tracer
        # of each format, the runs nearest its median size: a like-for-like
        # sample per seed
        self.etl = {}
        for fmt in ("MCC", "STA"):
            runs = self.corpus.of(fmt)
            mid = sorted(t.rows for t in runs)[len(runs) // 2]
            near = sorted(runs, key=lambda t: (abs(t.rows - mid), t.path))
            for t in near[: self.ETL_PER_FORMAT]:
                self.etl[f"etl:{os.path.basename(t.path)}"] = t
        etl_ops = rng.sample(sorted(self.etl), len(self.etl))
        at = rng.randrange(len(etl_ops) + 1)
        self.ops = etl_ops[:at] + ["bulk", "read"] + etl_ops[at:]
        self.lake_files = 0
        self.lake_bytes = 0
        self._expected = {
            (os.path.basename(t.path), name): (t.rows, t.sums[name], unit, t.blake2b)
            for t in self.corpus.files
            for name, unit in t.channels
        }

    def input_bytes(self, op: str | None = None) -> int:
        """On-disk bytes of the files ``op`` reads (the corpus if None)."""
        if op == "read":
            return self.lake_bytes
        if op and op.startswith("etl:"):
            return self.etl[op].size
        return self.corpus.input_bytes

    def prepare(self) -> None:
        pass

    def _globs(self):
        root = self.corpus.root
        return f"{root}/mcc/*.txt", f"{root}/sta/*.csv"

    def run(self, op: str):
        from lab_etl_spark.api import etl_file
        from lab_etl_spark.sources.sink import write_parquet
        from lab_etl_spark.sources.text_formats import scan_mcc, scan_sta_csv

        spark = self.spark_of()
        if op == "bulk":
            mcc, sta = self._globs()
            with self.tr.span("sources.scan"):
                frames = [scan_mcc(spark, mcc), scan_sta_csv(spark, sta)]
            with self.tr.span("sources.sink"):
                for df in frames:
                    write_parquet(df, self.lake, mode="append")
            return None
        if op == "read":
            from pyspark.sql import functions as F

            with self.tr.span("spark.action"):
                return (
                    spark.read.parquet(self.lake)
                    .groupBy("source_file", "channel")
                    .agg(
                        F.count("*").alias("n"),
                        F.sum("value").alias("s"),
                        F.min("unit").alias("unit"),
                        F.max("unit").alias("unit_max"),
                        F.min("file_hash").alias("h"),
                        F.max("file_hash").alias("h_max"),
                    )
                    .collect()
                )
        with self.tr.span("api.etl_file"):
            return etl_file(spark, self.etl[op].path, self._etl_dir(op))

    def scan_probe(self) -> None:
        """The bulk op's two scans into the noop sink (traced runs only):
        splits the bulk time into scan and parquet-sink shares."""
        from lab_etl_spark.sources.text_formats import scan_mcc, scan_sta_csv

        spark = self.spark_of()
        mcc, sta = self._globs()
        for scan, glob in ((scan_mcc, mcc), (scan_sta_csv, sta)):
            scan(spark, glob).write.format("noop").mode("overwrite").save()

    def before(self, op: str) -> None:
        """Untimed preparation: the bulk op always lands in a fresh lake."""
        if op == "bulk":
            shutil.rmtree(self.lake, ignore_errors=True)

    def _etl_dir(self, op: str) -> str:
        return os.path.join(self.etl_out, op.split(":", 1)[1].replace(".", "_"))

    def verify(self, op: str, result) -> None:
        if op == "bulk":
            files = [
                os.path.join(d, f)
                for d, _, fs in os.walk(self.lake)
                for f in fs
                if f.endswith(".parquet")
            ]
            _expect(files, "bulk: the lake holds no parquet file")
            self.lake_files = len(files)
            self.lake_bytes = sum(os.path.getsize(f) for f in files)
        elif op == "read":
            got = {
                (r["source_file"], r["channel"]): (r["n"], r["s"], r["unit"], r["h"])
                for r in result
                if r["unit"] == r["unit_max"] and r["h"] == r["h_max"]
            }
            _expect(
                got == self._expected,
                f"read: {len(set(got) ^ set(self._expected))} (file, channel) "
                "groups differ in key set, and "
                f"{sum(got.get(k) != v for k, v in self._expected.items())} "
                "in rows, sum, unit or hash",
            )
        else:
            _expect(os.path.isdir(result), f"{op}: no output at {result}")

    def check(self, op: str) -> float:
        t0 = time.perf_counter()
        result = self.run(op)
        spent = time.perf_counter() - t0
        self.verify(op, result)
        if op.startswith("etl:"):
            self._check_etl(op, result)
        elif op == "bulk":
            self._check_unit_gate()
        return spent

    def _check_etl(self, op: str, target: str) -> None:
        from pyspark.sql import functions as F

        truth = self.etl[op]
        df = self.spark_of().read.parquet(target)
        units = {
            f.name: (f.metadata or {}).get("unit") for f in df.schema.fields
        }
        for name, unit in truth.channels:
            _expect(
                units.get(name) == unit,
                f"{op}: unit of {name} {units.get(name)!r} != {unit!r}",
            )
        names = [n for n, _ in truth.channels]
        row = df.agg(
            F.count("*").alias("__n"),
            F.min("file_hash").alias("__h"),
            F.countDistinct("file_hash").alias("__hs"),
            *[F.sum(n).alias(n) for n in names],
        ).first()
        _expect(row["__n"] == truth.rows, f"{op}: {row['__n']} rows != {truth.rows}")
        _expect((row["__h"], row["__hs"]) == (truth.blake2b, 1), f"{op}: file_hash")
        got = {n: row[n] for n in names}
        _expect(got == truth.sums, f"{op}: channel sums {got} != {truth.sums}")

    def _check_unit_gate(self) -> None:
        """The gate passes a run as loaded and rejects adding two channels
        whose units differ."""
        from pyspark.sql import functions as F

        from lab_etl_spark.api import load_file
        from lab_etl_spark.meta import UnitMismatchError, check_unit_consistency

        truth = self.corpus.files[0]
        df = load_file(self.spark_of(), truth.path)
        check_unit_consistency(df)
        units = dict(truth.channels)
        a = truth.channels[0][0]
        b = next(n for n, u in truth.channels if u and u != units[a])
        try:
            check_unit_consistency(df.select((F.col(a) + F.col(b)).alias("x")))
        except UnitMismatchError:
            return
        raise AssertionError(f"unit gate accepted {a} ({units[a]}) + {b} ({units[b]})")


def make(workload, root, work, seed, spark_of, tracer):
    rng = random.Random(seed)
    cache = os.path.join(root, ".bench_build", "perfbench", "oracle")
    data = os.path.join(root, "perfbench", "data", "sf0.01")
    if workload == "iterative":
        return QueryMix(ITERATIVE, data, cache, work, rng, spark_of, tracer)
    return LabIngest(work, seed, rng, spark_of, tracer)
