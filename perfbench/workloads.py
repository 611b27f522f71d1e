"""The benchmark's workloads.

A workload prepares seeded inputs and reference outputs in ``setup``,
then exposes an ordered list of operations. One iteration runs every
operation once; each operation returns something ``check`` can compare
with its reference. Operations fetch the library's functions through
their modules at call time, so the traced run sees every call.
"""

from __future__ import annotations

import functools
import os
import shutil
import threading

import numpy as np
import pandas as pd

# the order-insensitive result hash of the local correctness gate
from tools.check_correctness import value_hash

RES = 9
FEATURE_KEYS = ["region_id", "h3", "feature"]
FEATURE_COLS = FEATURE_KEYS + ["count"]
# registry query -> module of its pair producer: the three pair
# producers with the largest candidate sets, each with a DuckDB oracle
PAIR_QUERIES = {
    "phash_band_pairs": "operators.dedup",
    "ngram_jaccard": "operators.dedup",
    "interval_join_agg": "operators.joins",
}
FIXTURE_TABLES = ["orders", "supplier", "documents"]
IMAGE_COLS = ("image_id", "caption", "phash")


def id_start(seed: int) -> int:
    """First image id for a seed. Every image value is a pure function
    of its id and the hot-cell skew depends on id residues, so any
    offset keeps the table's shape; ids stay below 10^10 so image_id
    keeps its fixed width."""
    return (seed % 9973) * 1_000_003


def write_images(spark, path: str, start: int, n: int) -> None:
    """Seeded synthetic images (sources.synth), ids start..start+n-1,
    written to parquet with the columns the pipeline reads (the encoded
    image bytes are generated but not written)."""

    def gen(batches):
        from hex2vec_spark.sources.synth import images_pandas_ids

        for pdf in batches:
            if len(pdf):
                yield images_pandas_ids(pdf["id"].to_numpy())[list(IMAGE_COLS)]

    n_parts = spark.sparkContext.defaultParallelism
    (
        spark.range(start, start + n, numPartitions=n_parts)
        .mapInPandas(gen, schema="image_id string, caption string, phash long")
        .write.mode("overwrite").parquet(path)
    )


def reference_features(images_path: str, tiling: pd.DataFrame) -> pd.DataFrame:
    """(region_id, h3, feature, count) through the NumPy H3 kernel and
    pandas: the flagship's and the dataset build's expected output."""
    import pyarrow.parquet as pq

    from hex2vec_spark.functions.h3_fns import h3_from_phash_np

    img = pq.read_table(images_path, columns=["caption", "phash"]).to_pandas()
    img["h3"] = h3_from_phash_np(img["phash"].to_numpy(), RES)
    j = img.merge(tiling[["region_id", "h3"]], on="h3")
    j["feature"] = j["caption"].str.split(";")
    j = j.explode("feature")
    j["feature"] = j["feature"].str.strip()
    j = j[j["feature"] != ""]
    out = j.groupby(FEATURE_KEYS).size().rename("count").astype("float64").reset_index()
    return out[FEATURE_COLS]


def build_tiling_async() -> tuple[threading.Thread, dict]:
    """Start the res-9 tiling build (pure NumPy on the driver) in a
    thread, so it overlaps the Spark job that writes the images."""
    box: dict = {}

    def run():
        from hex2vec_spark.operators.spatial import build_tiling_cached
        from hex2vec_spark.sources.synth import regions_pandas

        box["regions"] = regions_pandas()
        box["tiling"] = build_tiling_cached(box["regions"], res=RES)

    t = threading.Thread(target=run)
    t.start()
    return t, box


class Workload:
    name = ""
    images_op = ""  # operation whose latency gives images_per_s
    ladder_is_iteration = False
    n_images = 0
    plan_passes, settle_passes = 0, 0  # warm-up after the cold pass (run.Runner.warm_up)
    min_iterations = 1  # measured iterations, however long they take

    def __init__(self, spark, out: str, seed: int, tracer):
        self.spark, self.out, self.seed, self.tracer = spark, out, seed, tracer
        self.ops: list[tuple[str, object]] = []

    def setup(self) -> None: ...

    def plans(self) -> list:
        """Builders of the DataFrames whose planning the warm-up repeats."""
        return []

    def check(self, op: str, result) -> bool: ...

    def after_iteration(self, k: int) -> None: ...

    def prefixes(self) -> list[tuple[str, object]]:
        """The cumulative noop ladder over the workload's images: scan,
        +encode, +join, +explode, +salted agg. Each rung adds one layer
        to the previous plan."""
        from hex2vec_spark.operators import agg, spatial

        def scan():
            return self.spark.read.parquet(self.images_path)

        def encode():
            return spatial.assign_h3(scan(), RES)

        def join():
            return spatial.spatial_join(scan(), self.tiling_sdf, res=RES)

        def explode():
            return agg.explode_caption_tags(join())

        def salted():
            return agg.salted_count(explode(), FEATURE_KEYS)

        return [
            ("sources.scan_s", scan),
            ("functions.h3_expr.encode_s", encode),
            ("operators.spatial.join_s", join),
            ("operators.agg.explode_s", explode),
            ("operators.agg.salted_count_s", salted),
        ]


class Flagship(Workload):
    """Seeded images (parquet, every row a distinct id) -> spatial_join
    (JVM encode + broadcast tiling join, res 9) -> explode_caption_tags
    -> salted_count, collected and checked against the NumPy-kernel
    reference."""

    name = "flagship"
    images_op = "flagship"
    ladder_is_iteration = True  # its last rung is this pass, with a noop sink for the collect
    n_images = 60_000
    plan_passes, settle_passes = 14, 2

    def setup(self) -> None:
        from hex2vec_spark.operators import spatial

        self.images_path = os.path.join(self.out, "images")
        thread, box = build_tiling_async()
        write_images(self.spark, self.images_path, id_start(self.seed), self.n_images)
        thread.join()
        tiling_path = os.path.join(self.out, "tiling")
        spatial.write_tiling_parquet(box["tiling"], tiling_path)
        self.tiling_sdf = self.spark.read.parquet(tiling_path)
        self.expected = value_hash(reference_features(self.images_path, box["tiling"]))
        self.ops = [("flagship", self.flagship)]

    def features(self):
        from hex2vec_spark.operators import agg, spatial

        images = self.spark.read.parquet(self.images_path)
        joined = spatial.spatial_join(images, self.tiling_sdf, res=RES)
        return agg.salted_count(agg.explode_caption_tags(joined), FEATURE_KEYS).select(*FEATURE_COLS)

    def flagship(self):
        return self.features().toPandas()

    def plans(self) -> list:
        return [self.features]

    def check(self, op: str, result) -> bool:
        return value_hash(result) == self.expected


class DatasetPairs(Workload):
    """The table path and the pair producers in one sweep.

    Table path: build_dataset (resumable assign stage, salted features,
    versioned commit) into a fresh root, merge_table upserting a fixed
    batch, load_processed reading the table back. Pair producers: three
    registry queries that generate candidate pairs (PAIR_QUERIES), at
    sf0.01 on the committed fixtures, through ``__spark_entry__.queries()``."""

    name = "dataset_pairs"
    images_op = "build_dataset"
    n_images = 10_000
    # planning the pair queries also settles the table path (the shared
    # Catalyst code): without it build_dataset takes ~5 passes to settle
    plan_passes = 8
    min_iterations = 3  # ~7 s each
    batch_rows = 400  # half updates of existing keys, half inserts

    def setup(self) -> None:
        import duckdb

        import __spark_entry__ as entry

        here = os.path.dirname(os.path.abspath(__file__))
        self.sf_dir = os.path.join(here, "fixtures", "sf0.01")
        self.images_path = os.path.join(self.out, "images")
        thread, box = build_tiling_async()
        write_images(self.spark, self.images_path, id_start(self.seed), self.n_images)

        con = duckdb.connect()
        con.sql("SET threads=2")
        for t in FIXTURE_TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.sf_dir}/{t}.parquet')")
        oracles = entry.oracle_sql()
        self.expected = {q: value_hash(con.sql(oracles[q]).df()) for q in PAIR_QUERIES}
        con.close()
        self.registry = entry.queries()
        thread.join()
        self.regions, self.tiling_pdf = box["regions"], box["tiling"]

        features = reference_features(self.images_path, box["tiling"])
        self.expected_rows = len(features)
        batch = self._merge_batch(features)
        self.batch_path = os.path.join(self.out, "merge_batch")
        os.makedirs(self.batch_path)
        batch.to_parquet(os.path.join(self.batch_path, "part-0.parquet"), index=False)
        merged = pd.concat([features, batch]).drop_duplicates(FEATURE_KEYS, keep="last")
        self.expected["load_processed"] = value_hash(merged)
        self.expected_merged_rows = len(merged)

        rng = np.random.default_rng(self.seed)
        pair_ops = [(q, self._query(q)) for q in rng.permutation(list(PAIR_QUERIES))]
        table_ops = [
            ("build_dataset", self.build),
            ("merge_table", self.merge),
            ("load_processed", self.load),
        ]
        at = int(rng.integers(0, len(pair_ops) + 1))
        self.ops = pair_ops[:at] + table_ops + pair_ops[at:]
        self.root = None
        self.table_bytes_per_row: list[float] = []

    def plans(self) -> list:
        return [functools.partial(self.registry[q], self.spark, self.sf_dir) for q in PAIR_QUERIES]

    @functools.cached_property
    def tiling_sdf(self):
        """The tiling as a DataFrame, for the ladder of a traced run
        (build_dataset keeps its own copy under the dataset root)."""
        from hex2vec_spark.operators import spatial

        path = os.path.join(self.out, "tiling")
        spatial.write_tiling_parquet(self.tiling_pdf, path)
        return self.spark.read.parquet(path)

    def _merge_batch(self, features: pd.DataFrame) -> pd.DataFrame:
        rng = np.random.default_rng(self.seed + 1)
        half = self.batch_rows // 2
        upd = features.iloc[rng.choice(len(features), half, replace=False)].copy()
        upd["count"] = upd["count"] + 1000.0
        ins = features.iloc[rng.choice(len(features), half, replace=False)].copy()
        ins["feature"] = [f"bench_new_{i}" for i in range(half)]
        ins["count"] = np.arange(1, half + 1, dtype="float64")
        return pd.concat([upd, ins], ignore_index=True)[FEATURE_COLS]

    def _query(self, name: str):
        def run():
            with self.tracer.span("layer:entry", name):
                df = self.registry[name](self.spark, self.sf_dir)
            return df.toPandas()

        return run

    def build(self):
        from hex2vec_spark.plans import pipeline

        self.root = os.path.join(self.out, "dataset")
        images = self.spark.read.parquet(self.images_path)
        # two buckets still exercise run_stage's per-bucket pool and
        # manifest; the default eight are eight rounds of fixed job cost
        # on a 10k-row input
        return pipeline.build_dataset(
            self.spark, images, self.regions, self.root, res=RES, n_buckets=2
        )

    def merge(self):
        from hex2vec_spark.operators import merge

        batch = self.spark.read.parquet(self.batch_path)
        return merge.merge_table(
            self.spark, os.path.join(self.root, "features"), batch, on=FEATURE_KEYS,
            partition_res=max(RES - 5, 0),
        )

    def load(self):
        from hex2vec_spark.plans import pipeline

        return pipeline.load_processed(self.spark, self.root).select(*FEATURE_COLS).toPandas()

    def check(self, op: str, result) -> bool:
        if op == "build_dataset":
            ok = result["added_rows"] == self.expected_rows
            data = os.path.join(self.root, "features", result["data_dirs"][-1])
            size = sum(
                os.path.getsize(os.path.join(d, f))
                for d, _, files in os.walk(data) for f in files if f.endswith(".parquet")
            )
            self.table_bytes_per_row.append(size / max(result["added_rows"], 1))
            return ok
        if op == "merge_table":
            return result["added_rows"] == self.expected_merged_rows
        return value_hash(result) == self.expected[op]

    def after_iteration(self, k: int) -> None:
        if self.root:
            shutil.rmtree(self.root, ignore_errors=True)
            self.root = None


WORKLOADS = {w.name: w for w in (Flagship, DatasetPairs)}
