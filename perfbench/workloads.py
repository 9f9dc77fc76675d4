"""The four workloads. Each drives the engine only through its public
API, gates every op on an engine-free expected answer (truth.py), and
names the spans and counts its layers are traced by.

A workload object lives for one run. ``prepare()`` generates the seeded
inputs and expected answers without the engine (or finds them in the
cache), so it can overlap the session start. ``setup(spark)`` may then be
called several times (the runner reports the median); ``op(i, span)``
runs op i and returns (input rows, output), and ``check(i, output)`` says
whether the output is right. ``layers(i, output, ledgers)`` turns the
traced ledgers of op i into per-layer metrics.
"""

from __future__ import annotations

import functools
import os
import shutil
import time

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import gen
import truth

PIP_PAGES = 2_000_000
HALO_PAGES = 20_000
HALO_N_SIDE = 30  # not divisible by 16, so no lattice point is on an edge
HALO_WARM_N_SIDE = 10  # the warm-up op's smaller layers: same code paths, less build work
HALO_MAX_DIST = 0.004
MERGE_TABLE = 100_000
MERGE_UPDATE = 1_000  # 1% of the table per batch
MERGE_NEW = 250
WEBTEXT_MULT = 1.0  # x sf0.1 row counts (5,000 documents, 2,000 embeddings)
WEBTEXT_CHECK_MULT = 0.1  # oracle-gate size
WEBTEXT_QUERIES = {
    "operators.text": "pipeline_e2e",
    "operators.dedup": "dedup_minhash_lsh",
    "operators.similarity": "embedding_near_dup",
}


def _obce_joiner(spark):
    """bench.py's make_joiner: broadcast PIP over densified obce."""
    from gdal_vfr_spark import datagen
    from gdal_vfr_spark.geo.pip import PIPJoiner

    obce = datagen.gen_obce(spark, densify=64)
    return PIPJoiner(obce, poly_key="kod", geom_col="originalni_hranice", out_key="obec_kod")


def _ratio(num: float, den: float) -> float:
    return num / den if den else 0.0


class Workload:
    name = ""
    warmup_ops = 1

    def __init__(self, repo: str, work: str, seed: int):
        self.repo, self.work, self.seed = repo, work, seed
        self.cache = os.path.join(work, "cache")
        self.spark = None

    def after_op(self, i) -> None:
        """Between ops, outside the timed window."""


class PipTiles(Workload):
    """bench.py:spatial_pipeline on a seeded page table."""

    name = "pip_tiles"
    # CPU time per op falls by ~30% over the first eight ops (JIT), and
    # timing ops on that slope made runs disagree by up to 30%
    warmup_ops = 8

    def __init__(self, repo: str, work: str, seed: int):
        super().__init__(repo, work, seed)
        self.build_times: list[float] = []

    def prepare(self):
        def build(tmp):
            pages = gen.pages(self.seed, PIP_PAGES, with_url=False)
            gen.write_table(pages.select(["page_id", "lon", "lat"]), os.path.join(tmp, "pages"), files=16)
            want = truth.tile_counts(pages)
            pq.write_table(pa.table({"obec_kod": [k[0] for k in want], "tile_prefix": [k[1] for k in want],
                                     "n": list(want.values())}), os.path.join(tmp, "want.parquet"))

        self.dir = gen.cached(self.cache, f"pip_tiles-s{self.seed}-n{PIP_PAGES}", build)

    def setup(self, spark):
        self.spark = spark
        want = pq.read_table(os.path.join(self.dir, "want.parquet")).to_pydict()
        self.want = dict(zip(zip(want["obec_kod"], want["tile_prefix"]), want["n"]))
        t0 = time.perf_counter()
        self.joiner = _obce_joiner(self.spark)
        self.build_times.append(time.perf_counter() - t0)

    def op(self, i, span):
        from pyspark.sql import functions as F

        from gdal_vfr_spark.geo import tiles

        pages = self.spark.read.parquet(os.path.join(self.dir, "pages"))
        keyed = tiles.with_tile_key(self.joiner.apply(pages), res=tiles.DEFAULT_TILE_RES)
        counts = keyed.groupBy(
            "obec_kod", tiles.tile_prefix_expr("tile_key", 6).alias("tile_prefix")
        ).agg(F.count("*").alias("n_pages"))
        return PIP_PAGES, {(r[0], r[1]): r[2] for r in counts.collect()}

    def check(self, i, output):
        return output == self.want

    def layers(self, i, output, ledgers):
        led = ledgers["op"]
        if not hasattr(self, "_interior"):
            self._interior = self._interior_share()
        hits = sum(output.values())
        return {
            "geo.pip.build_s": float(np.median(self.build_times)),
            "geo.pip.cover_rows": led.get("broadcast.rows", 0.0),
            "geo.pip.candidates": led.get("join.rows", 0.0),
            "geo.pip.interior_ratio": self._interior,
            "geo.pip.hit_ratio": _ratio(hits, led.get("join.rows", 0.0)),
        }

    def _interior_share(self) -> float:
        """Share of candidate rows the cover certifies as interior: the
        joiner's public cover table joined to the pages' cells in DuckDB."""
        cover = self.joiner.index.cover(self.joiner.res)[["cell", "interior"]]
        cell = truth._duck_cell()("lon", "lat", self.joiner.res)
        con = duckdb.connect()
        con.register("cover", cover)
        n_int, n_all = con.sql(
            f"""SELECT count(*) FILTER (WHERE c.interior), count(*)
                FROM read_parquet('{os.path.join(self.dir, "pages", "*.parquet")}') p
                JOIN cover c ON c.cell = {cell} WHERE p.lon IS NOT NULL"""
        ).fetchone()
        return _ratio(n_int, n_all)


class HaloJoins(Workload):
    """Fresh partitioned PIP and line-range joiners built and applied
    per op: the distributed index build plus the cogrouped refine."""

    name = "halo_joins"

    def prepare(self):
        def build(tmp):
            pages = gen.pages(self.seed, HALO_PAGES)
            gen.write_table(pages.select(["url", "lon", "lat"]), os.path.join(tmp, "pages"), files=4)
            ok = pages["k_lon"].is_valid().to_numpy(zero_copy_only=False)
            k_lon = pages["k_lon"].to_numpy(zero_copy_only=False)[ok].astype(np.int64)
            k_lat = pages["k_lat"].to_numpy(zero_copy_only=False)[ok].astype(np.int64)
            for n_side in (HALO_N_SIDE, HALO_WARM_N_SIDE):
                _, street = truth.street_pairs(k_lon, k_lat, n_side, HALO_MAX_DIST)
                want = {"parcel": truth.key_counts(truth.parcel_kod(k_lon, k_lat, n_side)),
                        "street": truth.key_counts(street)}
                for name, d in want.items():
                    pq.write_table(pa.table({"k": list(d), "n": list(d.values())}),
                                   os.path.join(tmp, f"want_{name}_{n_side}.parquet"))

        self.dir = gen.cached(self.cache, f"halo_joins-s{self.seed}-n{HALO_PAGES}-g{HALO_N_SIDE}", build)

    def setup(self, spark):
        self.spark = spark
        self.want = {}
        for n_side in (HALO_N_SIDE, HALO_WARM_N_SIDE):
            for name in ("parcel", "street"):
                d = pq.read_table(os.path.join(self.dir, f"want_{name}_{n_side}.parquet")).to_pydict()
                self.want.setdefault(n_side, {})[name] = dict(zip(d["k"], d["n"]))

    @staticmethod
    def _n_side(i):
        return HALO_WARM_N_SIDE if i == 0 else HALO_N_SIDE

    def op(self, i, span):
        from gdal_vfr_spark import datagen
        from gdal_vfr_spark.geo.knn import PartitionedLineRangeJoiner
        from gdal_vfr_spark.geo.pip import PartitionedPIPJoiner

        n_side = self._n_side(i)
        pages = self.spark.read.parquet(os.path.join(self.dir, "pages"))
        with span("geo.pip.ctor"):
            pip = PartitionedPIPJoiner(
                datagen.gen_parcely_large(self.spark, n_side=n_side),
                poly_key="kod", geom_col="originalni_hranice", out_key="parcel_kod")
        with span("geo.pip.apply"):
            parcel = self._counts(pip.apply(pages), "parcel_kod")
        with span("geo.knn.ctor"):
            line = PartitionedLineRangeJoiner(
                datagen.gen_ulice_large(self.spark, n_side=n_side),
                target_key="kod", max_dist=HALO_MAX_DIST)
        with span("geo.knn.apply"):
            street = self._counts(line.apply(pages), "neighbor_key")
        self.joiners = (pip, line, pages)
        return HALO_PAGES, {"parcel": parcel, "street": street}

    @staticmethod
    def _counts(df, key):
        return {r[0]: r[1] for r in df.groupBy(key).count().collect()}

    def check(self, i, output):
        return output == self.want[self._n_side(i)]

    def layers(self, i, output, ledgers):
        """Build time = constructor + the first apply's excess over a warm
        re-apply of the same joiner (timed here, outside the op)."""
        pip, line, pages = self.joiners
        t0 = time.perf_counter()
        self._counts(pip.apply(pages), "parcel_kod")
        t1 = time.perf_counter()
        self._counts(line.apply(pages), "neighbor_key")
        t2 = time.perf_counter()
        pa_, ka = ledgers["geo.pip.apply"], ledgers["geo.knn.apply"]
        pip_hits = sum(output["parcel"].values())
        refined = pa_.get("python.cogroup_rows", 0.0)
        return {
            "geo.pip.build_s": ledgers["geo.pip.ctor"]["wall_s"] + pa_["wall_s"] - (t1 - t0),
            "geo.pip.cover_rows": pa_.get("broadcast.rows", 0.0),
            "geo.pip.candidates": pa_.get("join.rows", 0.0),
            "geo.pip.interior_ratio": _ratio(pip_hits - refined, pa_.get("join.rows", 0.0)),
            "geo.pip.hit_ratio": _ratio(pip_hits, pa_.get("join.rows", 0.0)),
            "geo.knn.build_s": ledgers["geo.knn.ctor"]["wall_s"] + ka["wall_s"] - (t2 - t1),
            "geo.knn.candidates": ka.get("join.rows", 0.0),
            "geo.knn.hit_ratio": _ratio(sum(output["street"].values()), ka.get("join.rows", 0.0)),
        }

    def after_op(self, i):
        # each op builds fresh indexes; drop the previous op's persisted ones
        self.joiners = None
        self.spark.catalog.clearCache()


class ChangeMerge(Workload):
    """Daily change batches -> PIP left join + tile key -> bucketed merge."""

    name = "change_merge"

    def prepare(self):
        def build(tmp):
            pq.write_table(truth.keyed_pages(gen.pages(self.seed, MERGE_TABLE)),
                           os.path.join(tmp, "want.parquet"))

        self.dir = gen.cached(self.cache, f"change_merge-s{self.seed}-n{MERGE_TABLE}", build)

    def setup(self, spark):
        from gdal_vfr_spark.operators.merge import BucketedParquetTable

        self.spark = spark
        want = os.path.join(self.dir, "want.parquet")
        # the snapshot holds the expected rows, laid out by the engine
        snapshot = gen.cached(
            self.dir, "table", lambda tmp: BucketedParquetTable(spark, tmp, key="url").write(
                spark.read.parquet(want), overwrite=True))
        self.path = os.path.join(self.work, "change_merge_table")
        shutil.rmtree(self.path, ignore_errors=True)
        shutil.copytree(snapshot, self.path)
        self.table = BucketedParquetTable(self.spark, self.path, key="url")
        self.con = duckdb.connect()
        self.con.execute(f"CREATE OR REPLACE TABLE want AS SELECT * FROM '{want}'")
        self.joiner = _obce_joiner(self.spark)

    def _batch(self, i):
        return gen.change_batch(self.seed, i, MERGE_TABLE, MERGE_UPDATE, MERGE_NEW)

    def op(self, i, span):
        from gdal_vfr_spark.geo import tiles

        batch = self._batch(i)
        self._inodes = self._bucket_inodes()
        changes = self.spark.createDataFrame(batch.select(["page_id", "url", "lon", "lat"]).to_pandas())
        keyed = tiles.with_tile_key(self.joiner.apply(changes, how="left"))
        with span("operators.merge"):
            tally = {r["action"]: r["n"] for r in self.table.merge(keyed).collect()}
        return batch.num_rows, tally

    def _bucket_inodes(self) -> dict[str, int]:
        return {d: os.stat(os.path.join(self.path, d)).st_ino for d in os.listdir(self.path)
                if d.startswith("__bucket=")}

    def check(self, i, output):
        """Apply the batch to the expected table in DuckDB, then compare an
        order-free content hash with the merged table's parquet files."""
        self.con.register("batch", truth.keyed_pages(self._batch(i)))
        self.con.execute("DELETE FROM want WHERE url IN (SELECT url FROM batch)")
        self.con.execute("INSERT INTO want SELECT * FROM batch")
        self.con.unregister("batch")
        exp = self.con.sql(truth.CONTENT_HASH.format("want")).fetchone()
        got = self.con.sql(truth.CONTENT_HASH.format(
            f"read_parquet('{self.path}/*/*.parquet', hive_partitioning = false)")).fetchone()
        return got == exp and output == {"update": MERGE_UPDATE, "add": MERGE_NEW}

    def layers(self, i, output, ledgers):
        after = self._bucket_inodes()
        touched = sum(1 for d, ino in after.items() if self._inodes.get(d) != ino)
        merge = ledgers["operators.merge"]
        return {
            "operators.merge.merge_s": merge["wall_s"],
            "operators.merge.buckets_touched": float(touched),
            "operators.merge.rows_rewritten_per_changed": _ratio(
                merge.get("sink.rows", 0.0), MERGE_UPDATE + MERGE_NEW),
        }


class WebtextDedup(Workload):
    """Three queries() entries over seeded synthetic documents/embeddings.

    The DuckDB oracles take about a minute at the timed size (most of it
    dedup_minhash_lsh), so the oracle gate runs at the same seed on tables
    WEBTEXT_CHECK_MULT / WEBTEXT_MULT the size: that is warm-up op 0.
    Every later op runs at the timed size and must reproduce op 1's output
    exactly, with well-formed pairs (id_a < id_b, no duplicates)."""

    name = "webtext_dedup"

    def prepare(self):
        import __spark_entry__ as entry

        def build(tmp):
            for tag, mult in (("timed", WEBTEXT_MULT), ("check", WEBTEXT_CHECK_MULT)):
                d = os.path.join(tmp, tag)
                os.makedirs(d)
                for name, t in gen.webtext(self.repo, self.seed, mult).items():
                    pq.write_table(t, os.path.join(d, f"{name}.parquet"), row_group_size=1 << 31)
            con = duckdb.connect()
            for name in ("documents", "embeddings"):
                con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{os.path.join(tmp, 'check', name)}.parquet'")
            sql = entry.oracle_sql()
            for q in WEBTEXT_QUERIES.values():
                con.sql(sql[q]).write_parquet(os.path.join(tmp, f"want_{q}.parquet"))

        self.dir = gen.cached(
            self.cache, f"webtext-s{self.seed}-m{WEBTEXT_MULT:g}-c{WEBTEXT_CHECK_MULT:g}", build)

    def setup(self, spark):
        import __spark_entry__ as entry

        self.spark = spark
        self.queries = entry.queries()
        self.rows = sum(pq.read_metadata(os.path.join(self.dir, "timed", f"{t}.parquet")).num_rows
                        for t in ("documents", "embeddings"))
        self.want = {q: _normalize(self.repo, pq.read_table(os.path.join(self.dir, f"want_{q}.parquet")).to_pandas())
                     for q in WEBTEXT_QUERIES.values()}
        self.reference, self.oracle_ok = None, False

    def _run(self, sf_dir, span):
        out = {}
        for layer, q in WEBTEXT_QUERIES.items():
            with span(layer):
                out[q] = self.queries[q](self.spark, sf_dir).toPandas()
        return out

    def op(self, i, span):
        return self.rows, self._run(os.path.join(self.dir, "check" if i == 0 else "timed"), span)

    def check(self, i, output):
        got = {q: _normalize(self.repo, df) for q, df in output.items()}
        if i == 0:
            self.oracle_ok = all(_same(got[q], self.want[q]) for q in got)
            return self.oracle_ok
        for q in ("dedup_minhash_lsh", "embedding_near_dup"):
            pairs = got[q]
            if not (pairs["id_a"] < pairs["id_b"]).all() or pairs.duplicated().any():
                return False
        if self.reference is None:
            self.reference = got
        return self.oracle_ok and all(_same(got[q], self.reference[q]) for q in got)

    def layers(self, i, output, ledgers):
        out = {f"{layer}.s": ledgers[layer]["wall_s"] for layer in WEBTEXT_QUERIES}
        out["operators.dedup.pair_ratio"] = _ratio(
            len(output["dedup_minhash_lsh"]), ledgers["operators.dedup"].get("join.rows", 0.0))
        return out

    def after_op(self, i):
        # as bench.py does between queries: no op inherits another's caches
        self.spark.catalog.clearCache()


def _same(a, b) -> bool:
    return list(a.columns) == list(b.columns) and a.equals(b)


@functools.lru_cache(maxsize=None)
def _check_oracle(repo):
    import importlib.util

    spec = importlib.util.spec_from_file_location("check_oracle", os.path.join(repo, "tools", "check_oracle.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _normalize(repo, pdf):
    """tools/check_oracle.normalize: sorted columns and rows, exact values."""
    return _check_oracle(repo).normalize(pdf)


WORKLOADS = {w.name: w for w in (PipTiles, HaloJoins, ChangeMerge, WebtextDedup)}
