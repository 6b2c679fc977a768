"""``query_mix``: read-only registry queries over staged tables, in a
fixed order across the relational and LLM-ops families."""

from __future__ import annotations

import datetime as dt
import hashlib
import math
from concurrent.futures import ThreadPoolExecutor

from perfbench import gen
from perfbench.harness import expect

QUERIES = (
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q9_product_profit",
    "dedup_minhash_lsh",
    "corpus_clean_pipeline",
    "window_session",
    "ann_sign_bucket_topk",
)
SF = 0.05
MAX_OPS = len(QUERIES) * 40


def _norm(v):
    """Engine-neutral value: floats to 9 significant digits, datetimes
    naive ISO, lists as tuples, so Spark and DuckDB results compare equal."""
    if isinstance(v, float):
        return 0.0 if v == 0 else round(v, 9 - int(math.floor(math.log10(abs(v)))) - 1)
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    return v


def result_digest(columns: list[str], rows) -> tuple[int, str]:
    """(row count, order-independent hash) of a result, columns by name."""
    names = sorted(columns)
    idx = [columns.index(c) for c in names]
    keyed = sorted(repr(tuple(_norm(r[i]) for i in idx)) for r in rows)
    return len(keyed), hashlib.sha256("\n".join([repr(names), *keyed]).encode()).hexdigest()


class QueryMix:
    name = "query_mix"
    round_len = len(QUERIES)
    max_ops = MAX_OPS
    independent_shapes = True  # read-only

    def __init__(self, spark, seed: int, spans):
        from pyspark_ingestion_spark.queries import all_queries

        self.spark, self.seed, self.spans = spark, seed, spans
        self.specs = {n: all_queries()[n] for n in QUERIES}
        self.reference: dict[str, tuple[int, str]] = {}

    def stage(self, root: str) -> None:
        self.sf_dir = root
        gen.stage_queries(self.seed, SF, root)
        # the DuckDB answers are computed beside the warm-up pass
        pool = ThreadPoolExecutor(1)
        self.oracles = pool.submit(self.oracle_digests)
        pool.shutdown(wait=False)

    def shape(self, i: int) -> str:
        return QUERIES[i % len(QUERIES)]

    def op(self, i: int) -> int:
        name = self.shape(i)
        sp = self.spans
        with sp.span("queries.build"):
            df = self.specs[name].fn(self.spark, self.sf_dir)
        with sp.span("queries.plan"):
            df._jdf.queryExecution().executedPlan()
        with sp.span("queries.exec"):
            rows = df.collect()
        return 1, (df.columns, rows)

    def check(self, i: int, result) -> None:
        name = self.shape(i)
        got = result_digest(*result)
        if name not in self.reference:  # the warm-up pass: check against DuckDB once
            self.reference[name] = got
            want = self.oracles.result()[name]
            expect(got == want, f"{name}: spark {got} != duckdb {want}")
        expect(got == self.reference[name], f"{name}: {got} != warm-up {self.reference[name]}")

    def oracle_digests(self) -> dict[str, tuple[int, str]]:
        """Each query's result digest from its DuckDB ``oracle`` SQL."""
        import duckdb

        con = duckdb.connect()
        try:
            con.execute("SET threads = 1")
            for t in ("region", "nation", "customer", "supplier", "part", "orders",
                      "lineitem", "events", "documents", "embeddings"):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.sf_dir}/{t}.parquet'")
            out = {}
            for name in QUERIES:
                cur = con.execute(self.specs[name].oracle)
                out[name] = result_digest([d[0] for d in cur.description], cur.fetchall())
            return out
        finally:
            con.close()
