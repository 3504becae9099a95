"""The benchmark workloads: inputs, the timed call, the output check and the
traced composition that splits one call into layer spans.

A workload's ``run`` is what a user pays for one call through the public
entry points.  ``traced`` makes the same computation layer by layer --
calling each layer's public function and materializing its output, so the
span around it holds the layer's own work -- and returns its output, which
must pass the same check, with the same digest, as the untraced call's.
"""

from __future__ import annotations

import os
import shutil

import gen
import oracle


def _storage_mb(sc) -> float:
    infos = sc._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / (1024.0 * 1024.0)


def _dir_files(path: str) -> list[str]:
    return [os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs]


class RadolanDay:
    """One day of hourly ESRI-ASCII grids and a basin shapefile through
    ``radohydro_run`` exactly as the CLI drives it (per-basin CSVs plus the
    wide GeoParquet, then a count of the returned result)."""

    name = "radolan_day"
    GRID = 240  # cells per side; 57.6k cells per grid, 24 grids
    HOURS = 24
    BASINS = 20

    def __init__(self, root: str, seed: int) -> None:
        self.inp = gen.radolan_mirror(root, seed, self.GRID, self.HOURS, self.BASINS)
        self.input_rows = self.inp.cells_decoded
        self.expected = oracle.precip_expected(self.inp)
        if None not in self.expected.values():
            raise RuntimeError("the inputs have no all-dirty basin with NULL rows")

    def run(self, spark, out_dir: str) -> str:
        from radohydro_spark.plans.pipeline import radohydro_run

        i = self.inp
        result = radohydro_run(
            spark, i.start, i.end, i.shapefile, i.mirror, out_dir, source=i.source
        )
        result.count()
        return out_dir

    def _read(self, out_dir: str):
        got = oracle.read_basin_csvs(out_dir)
        wide = oracle.read_wide_shape(os.path.join(out_dir, "basins_wide.parquet"))
        return got, wide

    def check(self, out_dir: str) -> tuple[list[str], str]:
        got, wide = self._read(out_dir)
        problems = oracle.check_precip(self.expected, got, wide, self.inp)
        shutil.rmtree(out_dir)
        return problems, oracle.digest(got.items())

    def self_test(self, out_dir: str) -> bool:
        """True when the check rejects the output with one value changed,
        and again with one NULL value filled in."""
        got, wide = self._read(out_dir)
        nulls = sorted(k for k, v in got.items() if v is None)
        values = sorted(k for k, v in got.items() if v is not None)
        if not nulls or not values:
            return False
        for key, bad in ((values[0], got[values[0]] + 0.01), (nulls[0], 0.0)):
            if not oracle.check_precip(self.expected, {**got, key: bad}, wide, self.inp):
                return False
        return True

    def traced(self, spark, tracer, out_dir: str) -> str:
        """``radohydro_run`` + ``precip_timeseries`` split at layer
        boundaries, each layer's output persisted so the next span reads it
        instead of recomputing it.  Returns the output for ``check``."""
        from pyspark import StorageLevel
        from pyspark.sql import functions as F

        from radohydro_spark.operators.aggregate import weighted_basin_timeseries
        from radohydro_spark.operators.spatial import (
            basin_bounds,
            buffered_clip_window,
            create_cell_grid,
            spatial_intersect,
            window_predicate,
        )
        from radohydro_spark.operators.weights import apply_nan_policy, basin_weights
        from radohydro_spark.sinks import write_basin_csvs, write_wide_geoparquet
        from radohydro_spark.sources.ascii_grid import decode_ascii_grids, grid_meta
        from radohydro_spark.sources.manifest import filter_members_by_range, local_manifest
        from radohydro_spark.sources.shapefile import basins_from_shapefile

        i = self.inp
        held = []

        def keep(df):
            df = df.persist(StorageLevel.MEMORY_AND_DISK)
            held.append(df)
            return df

        with tracer.span("sources") as s:
            manifest = filter_members_by_range(
                local_manifest(spark, i.mirror), i.start, i.end, "minutes"
            )
            meta = grid_meta(bytes(manifest.select("payload").first()["payload"]))
            obs = decode_ascii_grids(manifest, "minutes")
            with tracer.span("shapefile"):
                basins = basins_from_shapefile(spark, i.shapefile)
            s.built()
            obs = keep(obs)
            basins = keep(basins)
            s.count("rows_out", obs.count())
            basins.count()
            s.count("bytes_in", i.bytes_in)
        gm = (meta["ulx"], meta["uly"], meta["xres"], meta["yres"])
        with tracer.span("operators.spatial") as s:
            cells = create_cell_grid(
                spark, meta["n_rows"], meta["n_cols"], *gm
            )
            window = buffered_clip_window(
                basin_bounds(basins), *gm, meta["n_rows"], meta["n_cols"]
            )
            pred = window_predicate(window)
            fragments = spatial_intersect(cells.filter(pred), basins, grid_meta=gm)
            s.built()
            fragments = keep(fragments)
            s.count("fragments", fragments.count())
        with tracer.span("plans.pipeline") as s:
            frag_cells = fragments.select("cell_row", "cell_col").distinct()
            obs_in = obs.filter(pred)
            pruned = obs_in.join(F.broadcast(frag_cells), ["cell_row", "cell_col"], "left_semi")
            s.built()
            mb0 = _storage_mb(spark.sparkContext)
            pruned = keep(pruned)
            s.count("pruned_rows", pruned.count())
            s.count("persist_mb", _storage_mb(spark.sparkContext) - mb0)
        with tracer.span("operators.weights") as s:
            weighted = basin_weights(apply_nan_policy(fragments, pruned, pruned=True))
            s.built()
            weighted = keep(weighted)
            s.count("rows_out", weighted.count())
        with tracer.span("operators.aggregate") as s:
            result = weighted_basin_timeseries(pruned, weighted, numerator=10.0)
            result = result.withColumn("rainfall_mm", F.round("rainfall_mm", 3))
            s.built()
            result = keep(result)
            s.count("rows_out", result.count())
        # a sink call is its own action, so the whole span is build phase
        with tracer.span("sinks") as s:
            written = write_basin_csvs(result, basins, out_dir)
            write_wide_geoparquet(result, basins, os.path.join(out_dir, "basins_wide.parquet"))
        files = [p for p in _dir_files(out_dir) if p in written or p.endswith(".parquet")]
        nbytes = sum(os.path.getsize(p) for p in files)
        s.count("files", len(files))
        s.count("bytes_written", nbytes)
        result_rows = tracer.get("operators.aggregate").counts["rows_out"]
        s.count("bytes_per_result_row", nbytes / max(result_rows, 1))
        # every decoded hour has every cell, so the clip window's row count
        # follows from the window itself, without a Spark job
        row0, row1, col0, col1 = window
        rows_in = (row1 - row0 + 1) * (col1 - col0 + 1) * len(i.steps)
        src = tracer.get("sources")
        src.count("rows_kept_ratio", rows_in / src.counts["rows_out"])
        pipe = tracer.get("plans.pipeline")
        pipe.count("prune_ratio", pipe.counts["pruned_rows"] / rows_in)
        w = tracer.get("operators.weights")
        fragments_in = tracer.get("operators.spatial").counts["fragments"]
        w.count("dirty_share", 1.0 - w.counts["rows_out"] / fragments_in)
        for df in held:
            df.unpersist()
        return out_dir


class DedupCorpus:
    """A single-file parquet corpus with planted near-duplicates through
    four dedup operators, each result collected to the driver."""

    name = "dedup_corpus"
    DOCS = 600
    MEAN_TOKENS = 120
    THRESHOLD = 0.6
    OPS = ("ngram_jaccard_pairs", "minhash_lsh_pairs", "jaccard_prefix_pairs", "winnow_pairs")

    def __init__(self, root: str, seed: int) -> None:
        self.inp = gen.dedup_corpus(root, seed, self.DOCS, self.MEAN_TOKENS)
        self.input_rows = self.inp.n_docs
        self.expected = oracle.exact_jaccard_pairs(self.inp, self.THRESHOLD)

    def _docs(self, spark):
        # the scan fans out to the session's parallelism, as the repo's
        # declared dedup queries do over their single-file document table
        return spark.read.parquet(self.inp.path).repartition(
            spark.sparkContext.defaultParallelism
        )

    def _call(self, docs, op: str):
        from radohydro_spark.operators import dedup

        if op == "ngram_jaccard_pairs":
            return dedup.ngram_jaccard_pairs(
                docs, "text", "doc_id", threshold=self.THRESHOLD, max_doc_freq=None
            )
        if op == "jaccard_prefix_pairs":
            return dedup.jaccard_prefix_pairs(docs, "text", "doc_id", threshold=self.THRESHOLD)
        return getattr(dedup, op)(docs, "text", "doc_id")

    def run(self, spark, out_dir: str) -> dict[str, list[tuple]]:
        docs = self._docs(spark)
        return {op: [tuple(r) for r in self._call(docs, op).collect()] for op in self.OPS}

    def check(self, got: dict[str, list[tuple]]) -> tuple[list[str], str]:
        problems = oracle.check_dedup(self.expected, self.inp.planted, got)
        return problems, oracle.digest((op, row) for op, rows in got.items() for row in rows)

    def self_test(self, got: dict[str, list[tuple]]) -> bool:
        rows = sorted(got["ngram_jaccard_pairs"])
        a, b, j = rows[0] if rows else (1, 2, 0.99)
        bad = dict(got, ngram_jaccard_pairs=rows[1:] + [(a, b, j + 0.01)])
        return bool(oracle.check_dedup(self.expected, self.inp.planted, bad))

    def traced(self, spark, tracer, out_dir: str) -> dict[str, list[tuple]]:
        from radohydro_spark.operators.dedup import word_shingles

        docs = self._docs(spark)
        # word_shingles is the dedup family's explode of
        # functions.text.gram_array: its cost is the tokenize/slide law
        with tracer.span("functions.text") as s:
            sh = word_shingles(docs, "text", "doc_id", k=3)
            s.built()
            s.count("shingle_rows", sh.count())
        got = {}
        with tracer.span("operators.dedup") as parent:
            parent.built()
            for op in self.OPS:
                with tracer.span(op) as s:
                    df = self._call(docs, op)
                    s.built()
                    got[op] = [tuple(r) for r in df.collect()]
        true_pairs = set(self.expected)
        cand = {(a, b) for a, b, _ in got["minhash_lsh_pairs"]}
        parent.count("candidates", len(cand))
        parent.count("pairs", len(got["ngram_jaccard_pairs"]))
        parent.count("pair_yield", len(cand & true_pairs) / max(len(cand), 1))
        return got


WORKLOADS = {w.name: w for w in (RadolanDay, DedupCorpus)}
