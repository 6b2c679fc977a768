"""``ingest_incremental``: land one day-slice per op through the paper's
core path — read, per-system prep + partitioned write + watermark, CDC
upsert, rollup maintenance."""

from __future__ import annotations

import glob
import json

import pyarrow.dataset as ds
import pyarrow.parquet as pq

from perfbench import gen
from perfbench.harness import expect

ROWS_PER_SLICE = 20_000
MAX_OPS = 18


def _settings(system: str):
    from pyspark_ingestion_spark.ingestion import TableSettings

    first = "2023-12-31T00:00:00.000000Z"
    if system == "sap":
        return TableSettings(ref_column="TS_REF", ref_first_value=first,
                             date_column="ERDAT", time_column="ERZET")
    if system == "lims":
        return TableSettings(ref_column="MODIFIED_ON", ref_first_value=first)
    return TableSettings(
        ref_column="LASTMODIFIEDDATE", ref_first_value=first,
        columns_to_import=["CONTACT_ID", "EMAIL__C", "IS_PRO__C", "LASTMODIFIEDDATE",
                           "REGION", "AMOUNT_CENTS", "QTY"],
        pii_sha256_columns=["EMAIL__C"], stringify_columns=["IS_PRO__C"])


def _rows(path: str) -> int:
    return sum(pq.ParquetFile(f).metadata.num_rows
               for f in glob.glob(f"{path}/**/*.parquet", recursive=True))


class IngestIncremental:
    name = "ingest_incremental"
    round_len = 3  # one op per source system
    max_ops = MAX_OPS

    def __init__(self, spark, seed: int, spans):
        self.spark, self.seed, self.spans = spark, seed, spans
        self.plan = gen.IngestPlan(seed, ROWS_PER_SLICE, MAX_OPS)

    def stage(self, root: str) -> None:
        self.stage_dir = root
        self.expected = gen.stage_ingest(self.plan, root)
        self.lake = f"{root}/lake"

    def shape(self, i: int) -> str:
        return gen.SYSTEMS[i % 3]

    def op(self, i: int) -> int:
        from pyspark.sql import functions as F

        from pyspark_ingestion_spark.ingestion import ingest_table
        from pyspark_ingestion_spark.ingestion.cdc import cdc_upsert
        from pyspark_ingestion_spark.ingestion.rollup import maintain_rollup
        from pyspark_ingestion_spark.sources.readers import read_file

        system = gen.SYSTEMS[i % 3]
        sp, spark = self.spans, self.spark
        with sp.span("sources.readers.read_file"):
            src = read_file(spark, f"{self.stage_dir}/src/{system}/op{i:04d}.parquet")
        with sp.span("ingestion.pipeline.ingest_table"):
            result = ingest_table(src, system, f"{system}_t", f"{self.lake}/{system}",
                                       _settings(system), mode="append")
        with sp.span("sources.readers.read_file"):
            cdc = read_file(spark, f"{self.stage_dir}/cdc/op{i:04d}.parquet")
        with sp.span("ingestion.cdc.cdc_upsert"):
            cdc_upsert(spark, cdc, f"{self.lake}/cdc_state", key_cols=["KEY"],
                       order_cols=["VER"], partition_columns=["CDAY"],
                       delete_col="DELETED")
        batch = src.select(F.lit(system).alias("SYS"),
                           F.lit(self.plan.month(i)).alias("MONTH"),
                           "REGION", "AMOUNT_CENTS", "QTY")
        with sp.span("ingestion.rollup.maintain_rollup"):
            maintain_rollup(
                spark, batch, f"{self.lake}/rollup", group_cols=["SYS", "MONTH", "REGION"],
                agg_exprs={"n": F.count(F.lit(1)), "amount": F.sum("AMOUNT_CENTS"),
                           "qty_max": F.max("QTY")},
                partition_columns=["SYS", "MONTH"])
        return self.plan.rows, result

    def check(self, i: int, result) -> None:
        e = self.expected[i]
        system = e["system"]
        expect(result.n_rows == self.plan.rows, f"n_rows {result.n_rows}")
        got = _rows(f"{self.lake}/{system}")
        expect(got == e["lake_rows"], f"{system} lake rows {got} != {e['lake_rows']}")
        with open(f"{self.lake}/{system}/sync.json") as f:
            wm = json.load(f)["sync"]["ref_last_value"]
        expect(wm == e["watermark"], f"{system} watermark {wm} != {e['watermark']}")
        cdc = ds.dataset(f"{self.lake}/cdc_state", format="parquet",
                         partitioning="hive").to_table(columns=["KEY", "AMOUNT_CENTS"])
        got_cdc = gen.key_digest(cdc["KEY"].to_numpy(), cdc["AMOUNT_CENTS"].to_numpy())
        expect(got_cdc == e["cdc"], f"cdc key set {got_cdc} != {e['cdc']}")
        roll = ds.dataset(f"{self.lake}/rollup", format="parquet",
                          partitioning=ds.partitioning(flavor="hive")).to_table()
        got_roll = {
            (r["SYS"], str(r["MONTH"]), r["REGION"]): (r["n"], r["amount"], r["qty_max"])
            for r in roll.to_pylist()}
        expect(got_roll == e["rollup"], "rollup sums")
