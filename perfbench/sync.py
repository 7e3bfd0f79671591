"""One supplier-price sync, phase by phase, through the layers' public
functions — the reference lifecycle (load → compare → mutate → report).

Each phase is one span; the op span ``sync`` covers the whole sync, from
the start of the file read until the report and the merged base are
written.
"""

from __future__ import annotations

import dataclasses
import os

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mistocksync_spark.functions import clean_article_vitya
from mistocksync_spark.operators import filters, matching
from mistocksync_spark.operators.cascade import perform_comparison
from mistocksync_spark.operators.fuzzy import fuzzy_best_match
from mistocksync_spark.sinks import excel, mutate, report
from mistocksync_spark.sources import reader
from perfbench import checks, gen

# perform_comparison's result frames, in the order they are materialized
BUCKETS = ("matches", "price_changes", "new_items", "bracket_matches", "code_matches", "new_items_for_base")

# the phase spans under ``sync``, in call order
PHASES = (
    "ingest",
    "compare.construct",
    "compare.action",
    "fuzzy.construct",
    "fuzzy.action",
    "merge",
    "insert",
    "report.build",
    "report.write",
)


def configs() -> tuple[reader.SourceConfig, reader.SourceConfig]:
    """The vitya price-list config (plus the ``row_id`` list position as a
    long, so last-row-wins deduplication orders numerically) and the
    master-base config."""
    vitya = reader.SourceConfig.load("vitya")
    vitya = dataclasses.replace(vitya, data_types={**vitya.data_types, "row_id": "int"})
    return vitya, reader.SourceConfig.load("base")


@dataclasses.dataclass
class SyncResult:
    supplier: DataFrame  # the filtered, cleaned price list
    bucket_rows: dict[str, int]
    fuzzy_matched: int
    merged_path: str
    inserted_path: str
    report_path: str


def sync_once(
    spark: SparkSession,
    tracer,
    supplier_path: str,
    base_path: str,
    out_dir: str,
    vitya_cfg: reader.SourceConfig,
    base_cfg: reader.SourceConfig,
) -> SyncResult:
    merged_path = os.path.join(out_dir, "merged.parquet")
    inserted_path = os.path.join(out_dir, "inserted.parquet")
    report_path = os.path.join(out_dir, "report.xlsx")
    with tracer.span("sync"):
        with tracer.span("ingest"):
            if supplier_path.endswith(".csv"):
                sup = reader.read_csv(spark, supplier_path, vitya_cfg)
            else:
                sup = reader.read_excel(spark, supplier_path, vitya_cfg)
            sup = filters.filter_vitya_balance(filters.filter_by_price(sup, "price_usd"))
            sup = sup.withColumn("article_vitya", clean_article_vitya(F.col("article_raw")))
            base = reader.read_parquet(spark, base_path, base_cfg)

        with tracer.span("compare.construct"):
            res = perform_comparison(
                sup,
                base,
                supplier_article="article_vitya",
                supplier_price="price_usd",
                base_article="article_vitya",
                base_price="price_vitya_usd",
            )
        with tracer.span("compare.action"):
            bucket_rows = {k: res[k].count() for k in BUCKETS}

        with tracer.span("fuzzy.construct"):
            candidates = (
                res["new_items_for_base"]
                .withColumnRenamed("price", "price_usd")
                .withColumnRenamed("supplier_index", "cand_order")
            )
            fuzzy = fuzzy_best_match(
                candidates, base, candidate_name="name", candidate_order="cand_order", blocking="bounded"
            )
        with tracer.span("fuzzy.action"):
            fuzzy_matched = len(fuzzy.collect())

        with tracer.span("merge"):
            updates = matching.price_update_join(
                base,
                sup,
                base_article="article_vitya",
                base_price="price_vitya_usd",
                supplier_article="article_vitya",
                supplier_price="price_usd",
            )
            merged = mutate.price_merge(base, updates)
            merged.drop("updated").write.mode("overwrite").parquet(merged_path)

        with tracer.span("insert"):
            numbered = mutate.row_insert_autonumber(base, res["new_items_for_base"])
            anchor = base.agg(F.max("row_id").alias("insert_after_row"))
            rows = numbered.crossJoin(F.broadcast(anchor)).select(
                F.col("new_article").alias("article"),
                "name",
                F.col("price").alias("price_vitya_usd"),
                F.col("article").cast("long").alias("article_vitya"),
                "insert_after_row",
            )
            mutate.insert_rows(base, rows).write.mode("overwrite").parquet(inserted_path)

        with tracer.span("report.build"):
            sheets = report.build_report(res, base, sup, supplier_article="article_vitya")
            sheets["price_updates"] = report.price_updates_sheet(merged)
        with tracer.span("report.write"):
            excel.write_report_xlsx(sheets, report_path)

    return SyncResult(
        supplier=sup,
        bucket_rows=bucket_rows,
        fuzzy_matched=fuzzy_matched,
        merged_path=merged_path,
        inserted_path=inserted_path,
        report_path=report_path,
    )


class SyncWorkload:
    """The seeded inputs of a sync workload, one timed sync over them and
    its untimed output check.  Sync ``i`` reads price list ``i``, generated
    on first use, against the merged base sync ``i - 1`` wrote (sync 0
    against the generated base): one session syncing a sequence of lists."""

    op = "sync"

    def __init__(self, work: str, seed: int, base_rows: int, list_rows: int, fmt: str):
        self.work, self.seed, self.list_rows, self.fmt = work, seed, list_rows, fmt
        self.part = gen.catalog(np.random.default_rng([seed, 0]), base_rows)
        self.base_table = gen.base_table(self.part)
        self.base_path = os.path.join(work, "base.parquet")
        gen.write_parquet(self.base_table, self.base_path)
        self.lists: list[tuple] = []
        self.configs = configs()
        self.price_list(0)

    def price_list(self, i: int) -> tuple:
        """(feed table, file path) of list ``i``."""
        while len(self.lists) <= i:
            n = len(self.lists)
            feed = gen.supplier_feed(np.random.default_rng([self.seed, 1, n]), self.part, self.list_rows)
            path = os.path.join(self.work, f"list{n}.{self.fmt}")
            (gen.write_csv if self.fmt == "csv" else gen.write_xlsx)(feed, path)
            self.lists.append((feed, path))
        return self.lists[i]

    def _out(self, i: int) -> str:
        return os.path.join(self.work, f"sync{i}")

    def _base(self, i: int) -> tuple:
        """(base table, path) sync ``i`` reads."""
        if i == 0:
            return self.base_table, self.base_path
        path = os.path.join(self._out(i - 1), "merged.parquet")
        return pq.read_table(path).select(self.base_table.column_names), path

    def rows(self, i: int) -> int:
        return self.price_list(i)[0].num_rows

    def run(self, spark: SparkSession, tracer, i: int) -> SyncResult:
        return sync_once(spark, tracer, self.price_list(i)[1], self._base(i)[1], self._out(i), *self.configs)

    def verify(self, i: int, res: SyncResult, with_oracle: bool) -> tuple[list[str], dict]:
        """Failures of sync ``i`` (empty = correct) and its row counts."""
        feed = self.price_list(i)[0]
        base = self._base(i)[0]
        obs = checks.observe(res)
        exp = checks.expect(feed, base)
        fails = checks.check(exp, obs, base)
        filtered = res.supplier.count()
        if filtered != exp.filtered_rows:
            fails.append(f"the filtered price list has {filtered} rows, expected {exp.filtered_rows}")
        if with_oracle:
            fails += checks.oracle(feed, base, obs)
        counts = dict(
            res.bucket_rows,
            rows_in=feed.num_rows,
            rows_out=filtered,
            fuzzy_matched=res.fuzzy_matched,
            rows_updated=len(checks.updated_rows(base, obs.merged)),
            report_rows=sum(len(rows) for rows in obs.sheets.values()),
        )
        return fails, counts
