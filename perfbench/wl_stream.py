"""``stream_admission``: drop one batch file into a file-source stream,
then run one ``availableNow`` call of a public admission sink over it,
rotating the hotlog LSH, substring and fingerprint sinks."""

from __future__ import annotations

import os
import threading

import pyarrow.dataset as ds

from perfbench import gen
from perfbench.harness import expect

CORPUS_N = 400
BATCH_ROWS = 500
MAX_BATCHES = 6
SCHEMAS = {"hotlog": "doc_id long, text string",
           "substring": "doc_id long, text string",
           "fingerprint": "doc_id long, payload binary"}
CALLS = {"hotlog": "streaming.pipeline.stream_dedup_admission",
         "substring": "streaming.pipeline.stream_substring_admission",
         "fingerprint": "streaming.pipeline.stream_fingerprint_admission"}


class StreamAdmission:
    name = "stream_admission"
    round_len = len(gen.SINKS)
    max_ops = len(gen.SINKS) * MAX_BATCHES
    independent_shapes = True  # each sink has its own source, index and output

    def __init__(self, spark, seed: int, spans):
        self.spark, self.seed, self.spans = spark, seed, spans
        self.plan = gen.StreamPlan(seed, CORPUS_N, BATCH_ROWS)
        self.admitted = self.rows = 0
        self._count = threading.Lock()

    def stage(self, root: str) -> None:
        self.root, self.streams = root, {}
        self.expected = gen.stage_stream(self.plan, root, MAX_BATCHES)

    def shape(self, i: int) -> str:
        return gen.SINKS[i % len(gen.SINKS)]

    def op(self, i: int) -> int:
        from pyspark_ingestion_spark.streaming import pipeline

        sink, b = self.shape(i), i // len(gen.SINKS)
        d = f"{self.root}/{sink}"
        os.makedirs(f"{d}/src", exist_ok=True)
        os.replace(f"{d}/hold/b{b:04d}.parquet", f"{d}/src/b{b:04d}.parquet")
        if sink not in self.streams:  # the warm-up op; its listing job stays untimed
            self.streams[sink] = (
                self.spark.readStream.schema(SCHEMAS[sink]).parquet(f"{d}/src"),
                self.spark.read.parquet(f"{d}/base"))
        args = (*self.streams[sink], f"{d}/out", f"{d}/ckpt")
        with self.spans.span(CALLS[sink]):
            if sink == "hotlog":
                pipeline.stream_dedup_admission(*args, index_path=f"{d}/index",
                                                index_mode="hotlog", compact_every=4)
            elif sink == "substring":
                pipeline.stream_substring_admission(*args, index_path=f"{d}/index",
                                                    max_window_df=10)
            else:
                pipeline.stream_fingerprint_admission(*args, index_path=f"{d}/index")
        return BATCH_ROWS + BATCH_ROWS // 10, None

    def check(self, i: int, _) -> None:
        sink, b = self.shape(i), i // len(gen.SINKS)
        part = f"{self.root}/{sink}/out/__batch_id={b}"
        expect(os.path.isdir(part), f"{sink} batch {b}: no output partition")
        ids = ds.dataset(part, format="parquet").to_table(columns=["doc_id"])["doc_id"]
        got = ids.to_pylist()
        want = self.expected[sink][b]
        expect(len(got) == len(set(got)), f"{sink} batch {b}: duplicate admissions")
        # the rest of the batch (the planted near-duplicates) is rejected
        expect(set(got) == want,
               f"{sink} batch {b}: admitted {len(got)} ids, expected {len(want)}")
        with self._count:
            self.admitted += len(got)
            self.rows += BATCH_ROWS + BATCH_ROWS // 10
