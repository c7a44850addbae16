"""The batch workloads. Each pass is one full job, forced to completion
and then checked; the next pass starts when the check is done.

A workload has four steps: ``generate`` (before the session exists),
``setup`` (after it exists), ``run_pass`` and ``check``. Sizes are fixed
here so that a warm pass takes a few seconds and one run, Spark start-up
included, stays well under a minute (see README.md).
"""

from __future__ import annotations

import os
import time

import pyarrow.parquet as pq

import checks
import gen

HORIZON = 7


def _part_files(path: str) -> list[str]:
    return [os.path.join(path, f) for f in sorted(os.listdir(path)) if f.startswith("part-")]


def _written(paths: list[str]) -> tuple[int, int]:
    """(bytes, files) of the data files under the given output datasets."""
    files = [f for p in paths for f in _part_files(p)]
    return sum(os.path.getsize(f) for f in files), len(files)


def _noop_write(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _cpu_ms_per_series(fit, n_series: int, repeats: int = 3) -> float:
    """Median process CPU time of ``fit()`` per series, in ms."""
    times = []
    for _ in range(repeats):
        t0 = time.process_time()
        fit()
        times.append(time.process_time() - t0)
    return sorted(times)[len(times) // 2] * 1000.0 / n_series


class CatalogNightly:
    """The reference job: forecast every numeric column of every table of a
    database with a 7-day horizon and write ``bucket_forecast_<table>``."""

    name = "catalog_nightly"
    # numeric columns per table: a narrow table, as the reference's daily
    # rollups are, and a wide one that gives the fit stage work
    WIDTHS = (6, 24)
    # pass time falls for about ten table runs after the first pass; with
    # the pass after the heap reading, six passes come before the timed ones
    warmup_passes = 4

    def __init__(self, workdir: str):
        self.root = os.path.join(workdir, "db")

    def generate(self, seed: int) -> dict:
        return gen.write_catalog(self.root, seed, list(self.WIDTHS))

    def setup(self, spark, truth: dict) -> None:
        from clickhouse_forecasting_spark.catalog import ParquetCatalog

        self.spark, self.truth = spark, truth
        self.catalog = ParquetCatalog(spark, self.root)

    def start_timing(self) -> None:
        pass  # warm-up and timed passes run over the same catalog

    @property
    def items(self) -> int:
        return self.truth["series"]

    @property
    def fits_per_pass(self) -> int:
        return self.truth["series"]

    @property
    def tables_per_pass(self) -> int:
        return len(self.truth["tables"])

    def trace_wrappers(self, tracer) -> None:
        from clickhouse_forecasting_spark import relational
        from clickhouse_forecasting_spark.catalog import ParquetCatalog
        from clickhouse_forecasting_spark.forecast import SeriesForecaster

        tracer.wrap(ParquetCatalog, "list_tables", "catalog.scan_s")
        tracer.wrap(ParquetCatalog, "table", "catalog.scan_s")
        tracer.wrap(ParquetCatalog, "write_table", "catalog.write_table_s")
        # transform_long only plans the fit, which otherwise runs inside
        # the write; forcing its output once more times the fit itself
        tracer.wrap(SeriesForecaster, "transform_long", "forecast.transform_long_s", force=_noop_write)
        tracer.wrap(relational, "unpivot_metrics", "relational.unpivot_s")
        tracer.wrap(relational, "pivot_forecasts_wide", "relational.pivot_wide_s")

    def run_pass(self, tracer) -> dict:
        from clickhouse_forecasting_spark.catalog import forecast_table_name
        from clickhouse_forecasting_spark.pipeline import run_forecast_pipeline

        with tracer.group("pipeline"):
            counters = run_forecast_pipeline(self.catalog, HORIZON)
        outputs = [self.catalog.path(forecast_table_name(t)) for t in self.truth["tables"]]
        return {"counters": counters, "outputs": outputs}

    def check(self, result: dict) -> list[str]:
        errs = []
        c = result["counters"]
        if sorted(c.successful) != self.truth["tables"]:
            errs.append(f"tables forecast {sorted(c.successful)}, want {self.truth['tables']}")
        if c.failed or c.failed_metrics:
            errs.append(f"failed tables {c.failed}, failed metrics {c.failed_metrics}")
        for t, path in zip(self.truth["tables"], result["outputs"]):
            tbl = pq.read_table(path).to_pandas()
            errs += [f"{os.path.basename(path)}: {e}" for e in checks.check_forecast_table(
                tbl, self.truth["metrics"][t], self.truth["days"], HORIZON)]
        return errs

    def layer_counts(self, result: dict) -> dict:
        nbytes, nfiles = _written(result["outputs"])
        return {"catalog.bytes_written": nbytes, "catalog.files_written": nfiles}

    def model_ms_per_series(self) -> float:
        """The model alone, in this process: one batched fit per table,
        as one table's fit stage sees its series."""
        from clickhouse_forecasting_spark.forecast.model import batched_fit_predict_long

        frames = []
        for t in self.truth["tables"]:
            wide = pq.read_table(self.catalog.path(t)).to_pandas()
            long = wide.melt(id_vars="date", value_vars=self.truth["metrics"][t], var_name="metric", value_name="y")
            frames.append(long.rename(columns={"date": "ds"}).astype({"y": "float64"}))

        def fit():
            for pdf in frames:
                batched_fit_predict_long(pdf, ["metric"], periods=HORIZON)

        return _cpu_ms_per_series(fit, self.truth["series"])


class CorpusCuration:
    """The LLM-data path: score quality, find exact duplicates, find and
    verify near-duplicates with MinHash LSH, and write the corpus without
    them. All of it runs in the JVM: no forecast, no Python workers."""

    name = "corpus_curation"
    # (documents, exact duplicates, planted pairs above the threshold,
    # planted pairs below it, which verification must reject)
    SIZES = {"corpus": (600, 15, 30, 30), "warmup": (120, 3, 6, 6)}
    THRESHOLD = 0.8
    # pass time falls for about six passes after the first and then holds;
    # it follows the number of passes, not their size (a 120-document pass
    # costs about 80 % of a 600-document one), so the first pass and four
    # more run over the small corpus, and one more over the corpus itself
    # before the timed passes
    warmup_passes = 4

    def __init__(self, workdir: str):
        self.root = os.path.join(workdir, "db")
        self.passes = 0
        self.input = "warmup"

    def generate(self, seed: int) -> dict:
        return {
            name: gen.write_corpus(os.path.join(self.root, f"{name}.parquet"), seed + k, *size)
            for k, (name, size) in enumerate(self.SIZES.items())
        }

    def setup(self, spark, truth: dict) -> None:
        from clickhouse_forecasting_spark.catalog import ParquetCatalog

        self.spark, self.truths = spark, truth
        self.catalog = ParquetCatalog(spark, self.root)

    def start_timing(self) -> None:
        self.input = "corpus"

    @property
    def items(self) -> int:
        return self.truths["corpus"]["docs"]

    fits_per_pass = 0
    tables_per_pass = 0

    def trace_wrappers(self, tracer) -> None:
        from clickhouse_forecasting_spark.catalog import ParquetCatalog

        tracer.wrap(ParquetCatalog, "table", "catalog.scan_s")
        tracer.wrap(ParquetCatalog, "write_table", "catalog.write_table_s")

    def run_pass(self, tracer) -> dict:
        from pyspark.sql import functions as F

        from clickhouse_forecasting_spark import runtime_cache
        from clickhouse_forecasting_spark.functions import dedup, text

        self.passes += 1
        key = f"perfbench-pass-{self.passes}"  # a fresh cache token per pass
        docs = self.catalog.table(self.input)
        scored = docs.withColumn("quality", text.quality_score(F.col("text")))
        if tracer.enabled:
            # the score on its own; otherwise it is computed inside the write
            with tracer.group("probe-quality"), tracer.span("text.quality_score_s"):
                _noop_write(scored)
        with tracer.group("exact"), tracer.span("dedup.exact_s"):
            exact = [(r.keeper_id, r.n_docs) for r in dedup.exact_duplicates(docs).collect()]
        # both stages persist under the pass's cache key; verification reuses them
        with tracer.group("signatures"), tracer.span("dedup.signatures_s"):
            dedup.banded_signatures(docs, cache_key=key).count()
        with tracer.group("candidates"), tracer.span("dedup.candidates_s"):
            n_cand = dedup.minhash_lsh_candidates(docs, cache_key=key).count()
        with tracer.group("verify"), tracer.span("dedup.verify_s"):
            pairs = [
                (r.id_a, r.id_b, r.jaccard)
                for r in dedup.lsh_verified_pairs(docs, threshold=self.THRESHOLD, cache_key=key).collect()
            ]
        with tracer.group("write"):
            kept = dedup.dedup_near(scored, threshold=self.THRESHOLD, cache_key=key)
            self.catalog.write_table(kept, "kept", order_by=None)
        entries = sum(key in k for k in runtime_cache.entries())
        runtime_cache.release(key)
        return {
            "exact": exact,
            "pairs": pairs,
            "candidates": n_cand,
            "entries": entries,
            "outputs": [self.catalog.path("kept")],
            "truth": self.truths[self.input],
        }

    def check(self, result: dict) -> list[str]:
        kept = pq.read_table(result["outputs"][0], columns=["doc_id", "quality"])
        truth = result["truth"]
        return checks.check_curation(
            truth["texts"],
            truth["exact"],
            truth["near"],
            truth["far"],
            result["exact"],
            result["pairs"],
            kept.column("doc_id").to_numpy(),
            kept.column("quality").to_numpy(),
            self.THRESHOLD,
        )

    def layer_counts(self, result: dict) -> dict:
        nbytes, nfiles = _written(result["outputs"])
        return {
            "catalog.bytes_written": nbytes,
            "catalog.files_written": nfiles,
            "dedup.candidates": result["candidates"],
            "dedup.verified_pairs": len(result["pairs"]),
            "runtime_cache.entries_built": result["entries"],
        }

    def model_ms_per_series(self) -> float:
        return 0.0


WORKLOADS = {w.name: w for w in (CatalogNightly, CorpusCuration)}
