"""The benchmark's workloads: ordered ops, each with an output check.

An op is one call a user of the engine makes and waits for (closed loop,
one client). Its ``run`` is timed; its ``check`` runs after the pass, off
the clock, and a failed check counts the op as failed.

``ingest_curate`` — the write path. lineitem columns are written as deflate
Avro shards through ``avro_datasource.write_distributed``, read back through
``format("avrofile")`` with several splits per shard, written as Parquet by
``Engine.write_parquet``, and queried with ``Engine.read_with_avro_schema``
plus a Q1-shaped ``Engine.sql``. Then the README pretraining pipeline runs
on the documents: ``redact_pii`` → ``dedup_near(0.7)`` → anti-join →
``select_dsir`` → ``resample_temperature`` → ``shuffle_export(seed)`` →
``write_parquet(partition_by=["shard"])``.

``query_stream`` — the read path. The six BASELINE queries (plan rebuilt for
every op) and three registered stateful streaming queries run as
availableNow micro-batches, in an order the seed permutes.
"""

from __future__ import annotations

import glob
import os
import random
import time
from dataclasses import dataclass
from typing import Any, Callable

from pyspark.sql import functions as F

import lake

LINEITEM_AVRO_SCHEMA = {
    "type": "record",
    "name": "LineItem",
    "namespace": "perfbench",
    "fields": [
        {"name": "l_orderkey", "type": "long"},
        {"name": "l_partkey", "type": "long"},
        {"name": "l_quantity", "type": "double"},
        {"name": "l_extendedprice", "type": "double"},
        {"name": "l_discount", "type": "double"},
        {"name": "l_returnflag", "type": "string"},
        {"name": "l_linestatus", "type": "string"},
    ],
}
AVRO_COLUMNS = [f["name"] for f in LINEITEM_AVRO_SCHEMA["fields"]]
#: Small enough that every shard spans several read splits.
AVRO_SPLIT_BYTES = 128 * 1024

#: Q1-shaped aggregate; exact decimal sums so Spark and DuckDB agree bit for bit.
Q1_SQL = """
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
       COUNT(*) AS count_order
FROM {table}
GROUP BY l_returnflag, l_linestatus
"""

LAKE_QUERIES = (
    "agg_scan_group",
    "join_shuffle_equi",
    "window_rank",
    "events_agg",
    "text_stats",
    "simsearch_bruteforce_topk",
)
STREAM_QUERIES = (
    "stream_watermark_dedup",
    "stream_stateful_agg",
    "stream_session_windowed",
)


class CheckFailed(Exception):
    pass


def expect(ok: bool, what: str) -> None:
    if not ok:
        raise CheckFailed(what)


@dataclass
class Op:
    name: str
    kind: str  # "read" or "write"
    run: Callable[[], Any]
    check: Callable[[Any], None]


def _row_hash(columns) -> Any:
    """Order-insensitive content hash: the sum of per-row xxhash64."""
    return F.sum(F.xxhash64(*[F.col(c) for c in columns]).cast("decimal(20,0)"))


def _dir_bytes(path: str, pattern: str) -> tuple[int, int]:
    files = glob.glob(os.path.join(path, "**", pattern), recursive=True)
    return len(files), sum(os.path.getsize(f) for f in files)


class IngestCurate:
    name = "ingest_curate"
    input_tables = ("lineitem", "documents")
    #: The modules whose per-layer metrics this workload produces.
    layers = (
        "sources.avro_binary",
        "sources.avro_datasource",
        "engine",
        "operators.dedup",
        "operators.curation",
    )

    def __init__(self, ctx):
        self.ctx = ctx
        work = ctx.work_dir
        self.shards = os.path.join(work, "lineitem_avro")
        self.parquet = os.path.join(work, "lineitem_parquet")
        self.curated = os.path.join(work, "curated")
        # The seed key-shifts l_orderkey, so every seed writes other keys.
        self.key_shift = ctx.seed * 10 * lake.SIZES["orders"]
        # shuffle_export's seed: fixed within a run, so every pass must
        # reproduce the first pass's output exactly.
        self.export_seed = ctx.seed
        self.rows = lake.SIZES["lineitem"]
        self.expected_avro = None
        self.q1_digest = ctx.oracle.digest(Q1_SQL.format(table="lineitem"))
        self.curated_digest = None

    def _source(self):
        spark = self.ctx.spark
        li = spark.read.parquet(os.path.join(self.ctx.lake_dir, "lineitem.parquet"))
        return li.select(*AVRO_COLUMNS).withColumn(
            "l_orderkey", F.col("l_orderkey") + F.lit(self.key_shift)
        )

    def ops(self) -> list[Op]:
        return [
            Op("avro_write", "write", self.avro_write, self.check_avro_write),
            Op("avro_read", "read", self.avro_read, self.check_avro_read),
            Op("parquet_write", "write", self.parquet_write, self.check_parquet_write),
            Op("q1_sql", "read", self.q1_sql, self.check_q1),
            Op("curate_pipeline", "write", self.curate, self.check_curate),
        ]

    # -- Avro ingest ---------------------------------------------------------

    def avro_write(self):
        from avro_parquet_spark_example_spark.sources import avro_datasource

        ctx = self.ctx
        src = self._source().repartition(ctx.cores)
        ctx.call(
            "sources.avro_datasource.write_s",
            avro_datasource.write_distributed,
            src,
            self.shards,
            LINEITEM_AVRO_SCHEMA,
            codec="deflate",
        )
        files, size = _dir_bytes(self.shards, "*.avro")
        self.ctx.written(self.rows, size)
        return files

    def check_avro_write(self, files) -> None:
        expect(files == self.ctx.cores, f"{files} Avro shards, want {self.ctx.cores}")

    def _avro_df(self):
        return (
            self.ctx.spark.read.format("avrofile")
            .option("path", self.shards)
            .option("split_bytes", AVRO_SPLIT_BYTES)
            .load()
        )

    def avro_read(self):
        ctx = self.ctx

        def scan():
            df = self._avro_df()
            per_split = (
                df.groupBy(F.spark_partition_id().alias("split"))
                .agg(F.count(F.lit(1)).alias("n"), _row_hash(AVRO_COLUMNS).alias("h"))
                .collect()
            )
            return df.rdd.getNumPartitions() if ctx.tracing else None, per_split

        splits, per_split = ctx.call("sources.avro_datasource.read_s", scan)
        if splits:
            empty = (splits - len(per_split)) / splits
            ctx.add("sources.avro_datasource.empty_task_ratio", empty)
        return per_split

    def check_avro_read(self, per_split) -> None:
        if self.expected_avro is None:  # after the cold pass, on a warmer JVM
            [row] = (
                self._source()
                .agg(F.count(F.lit(1)).alias("n"), _row_hash(AVRO_COLUMNS).alias("h"))
                .collect()
            )
            self.expected_avro = (row.n, row.h)
        n = sum(r.n for r in per_split)
        h = sum(r.h for r in per_split)
        expect((n, h) == self.expected_avro, "avrofile read-back differs from source")

    def parquet_write(self):
        df = self._avro_df()
        self.ctx.call(
            "engine.write_parquet_s", self.ctx.eng.write_parquet, df, self.parquet
        )
        self._parquet_written(self.rows, self.parquet)
        return self.parquet

    def _parquet_written(self, rows: int, path: str) -> None:
        files, size = _dir_bytes(path, "*.parquet")
        self.ctx.written(rows, size)
        self.ctx.add("engine.write_parquet_bytes", size)
        self.ctx.add("engine.write_parquet_files", files)

    def check_parquet_write(self, path) -> None:
        import pyarrow.parquet as pq

        files = glob.glob(os.path.join(path, "*.parquet"))
        rows = sum(pq.ParquetFile(f).metadata.num_rows for f in files)
        expect(rows == self.rows, f"Parquet holds {rows} rows, want {self.rows}")

    def q1_sql(self):
        eng = self.ctx.eng

        def query():
            eng.read_with_avro_schema(
                LINEITEM_AVRO_SCHEMA, self.parquet
            ).createOrReplaceTempView("lineitem_ingested")
            df = eng.sql(Q1_SQL.format(table="lineitem_ingested"))
            return df.columns, df.collect()

        return self.ctx.call("engine.sql_s", query)

    def check_q1(self, result) -> None:
        expect(lake.canon_digest(*result) == self.q1_digest, "Q1 differs from DuckDB")

    def codec_rates(self) -> tuple[dict[str, float], bool]:
        """Encode and decode one shard's worth of rows with the Avro codec,
        single-threaded in the driver; also whether they round-trip."""
        import pyarrow.parquet as pq

        from avro_parquet_spark_example_spark.sources import avro_binary

        path = os.path.join(self.ctx.lake_dir, "lineitem.parquet")
        table = pq.read_table(path, columns=AVRO_COLUMNS)
        rows = list(zip(*(table.column(c).to_pylist() for c in AVRO_COLUMNS)))
        rows = rows[: len(rows) // self.ctx.cores]
        out = os.path.join(self.ctx.work_dir, "codec_probe.avro")
        t0 = time.perf_counter()
        avro_binary.write_container(out, LINEITEM_AVRO_SCHEMA, rows, codec="deflate")
        t1 = time.perf_counter()
        back = list(avro_binary.read_container(out)[1])
        t2 = time.perf_counter()
        return {
            "sources.avro_binary.encode_rows_per_s": len(rows) / (t1 - t0),
            "sources.avro_binary.decode_rows_per_s": len(rows) / (t2 - t1),
        }, back == rows

    # -- curation pipeline ---------------------------------------------------

    def curate(self):
        from pyspark.sql import Observation

        ctx, eng = self.ctx, self.ctx.eng
        docs = eng.table("documents")
        docs = ctx.call("engine.redact_pii_s", eng.redact_pii, docs)
        clusters = ctx.call("operators.dedup.call_s", eng.dedup_near, docs, threshold=0.7)
        dupes = clusters.filter(F.col("cluster_id") != F.col("id"))
        docs = docs.join(dupes, docs.doc_id == dupes.id, "left_anti")
        keep = ctx.call(
            "operators.curation.call_s",
            eng.select_dsir,
            docs,
            is_target=F.col("lang") == "en",
        )
        docs = docs.join(keep.select("doc_id"), "doc_id", "left_semi")
        docs = ctx.call(
            "operators.curation.call_s",
            eng.resample_temperature,
            docs,
            "lang",
            alpha=0.5,
            budget=0.6,
        )
        selected = Observation()
        docs = docs.observe(selected, F.count(F.lit(1)).alias("n"))
        export = ctx.call(
            "operators.curation.call_s", eng.shuffle_export, docs, seed=self.export_seed
        )
        ctx.call(
            "engine.write_parquet_s",
            eng.write_parquet,
            export,
            self.curated,
            partition_by=["shard"],
        )
        n = selected.get["n"]
        self._parquet_written(n, self.curated)
        return n

    def check_curate(self, n) -> None:
        import pyarrow.dataset as ds

        table = ds.dataset(self.curated, format="parquet", partitioning="hive").to_table()
        expect(n > 0, "curation selected no documents")
        expect(
            table.num_rows == n,
            f"the shards hold {table.num_rows} rows, {n} were selected",
        )
        ids = table.column("doc_id").to_pylist()
        expect(len(set(ids)) == len(ids), "a doc_id appears twice in the export")
        # Every copy clusters with its lower-id original, so dedup drops it.
        kept = sorted(i for i in ids if i >= lake.DUP_OFFSET)
        expect(not kept, f"near-duplicates {kept[:5]} survived dedup")
        digest = lake.canon_digest(table.column_names, zip(*table.to_pydict().values()))
        if self.curated_digest is None:
            self.curated_digest = digest
        expect(digest == self.curated_digest, "rerun with the same seed changed the output")


class QueryStream:
    name = "query_stream"
    input_tables = ("customer", "orders", "lineitem", "events", "documents", "embeddings")

    def __init__(self, ctx):
        from avro_parquet_spark_example_spark.registry import get_query

        self.ctx = ctx
        self.order = list(LAKE_QUERIES + STREAM_QUERIES)
        random.Random(ctx.seed).shuffle(self.order)
        self.queries = {n: get_query(n) for n in self.order}
        self.layers = {self._layer(q) for q in self.queries.values()}
        self.digests = {n: ctx.oracle.digest(q.oracle) for n, q in self.queries.items()}

    def ops(self) -> list[Op]:
        return [
            Op(n, "read", (lambda n=n: self.run_query(n)), (lambda r, n=n: self.check(n, r)))
            for n in self.order
        ]

    def run_query(self, name: str):
        ctx, q = self.ctx, self.queries[name]
        layer = self._layer(q)
        if layer == "streaming.stateful":  # micro-batch counters come from the listener
            return ctx.call(f"{layer}.call_s", lambda: self._collect(q.fn(ctx.spark, ctx.lake_dir)))

        def build():
            return q.fn(ctx.spark, ctx.lake_dir)

        def plan(df):
            df._jdf.queryExecution().executedPlan()

        return ctx.phased_call(layer, build, plan, self._collect)

    @staticmethod
    def _layer(query) -> str:
        return query.fn.__module__.removeprefix("avro_parquet_spark_example_spark.")

    @staticmethod
    def _collect(df):
        return df.columns, df.collect()

    def check(self, name: str, result) -> None:
        got = lake.canon_digest(*result)
        want = self.digests[name]
        expect(got[0] == want[0], f"{got[0]} rows, oracle has {want[0]}")
        expect(got[1] == want[1], "rows differ from the DuckDB oracle")


WORKLOADS = {w.name: w for w in (IngestCurate, QueryStream)}
