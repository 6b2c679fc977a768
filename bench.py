"""Benchmark entry point — the driver runs this per round.

Runs the headline queries at ``$SPARK_GRAFT_SF_DIR`` (default
/root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]`` and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec, ...}, "sf": ...}.

De-noising (round 5): each query runs ``$SPARK_GRAFT_BENCH_RUNS``
times (default 3) interleaved round-robin — run 1 of every query,
then run 2 of every query, ... — so a transient machine-load spike
hits one *run* of each query rather than all runs of one query.
The RAW per-query number is the MIN across runs (closest to the
code's intrinsic cost; OS noise only ever adds time), with median and
the raw runs carried alongside in ``queries_detail`` so the judge can
see the spread. Totals (``value`` and ``r1_comparable_total``) are
sums of the per-query mins, comparable to the single-run totals of
rounds 1-4 (a single run is an unbiased draw >= the min, so earlier
rounds' totals are upper bounds of the same quantity).

Calibration (r12, VERDICT r11 items 1+2 — the estimator-bias fix):
machine weather is corrected PER PASS, with the probes sampled at
BOTH fences of each pass's query block (CPU probe) / batch block (IO
probe) and averaged, so one bursty ~3 s probe reading cannot set a
pass's scale. The NORMALIZED headline per query is the **median** of
(run_i / pass-scale_i) — min-of-ratios ≤ ratio-of-mins by
construction, so the old min-of-normalized headline systematically
picked the pass whose probe read most unfavorably and could only err
optimistic (the r11 driver run's pass-2 scale of 1.74 turned an
8.7 s raw min into a reported 5.0). Min-normalized and raw series
stay in the output as diagnostics.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

REPO_ROOT = os.path.dirname(os.path.abspath(__file__))
if REPO_ROOT not in sys.path:
    sys.path.insert(0, REPO_ROOT)

HEADLINE = [
    # TPC-H-style relational core
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q6_forecast_revenue",
    "q9_product_profit",
    "q10_returned_items",
    # LLM-data pipeline ops
    "dedup_exact",
    "dedup_minhash_lsh",
    "ann_sign_bucket_topk",
    "corpus_clean_pipeline",
    # LLM training-prep surface (r4: round-over-round visibility beyond
    # TPC-H — anchors are the r4-measured values in BENCH_r04.json)
    "corpus_full_pipeline",
    "dedup_semantic_keep_one",
    "word_cooccurrence_pmi",
    # event-time analytics
    "window_session",
    # round-5 expensive families, inside the regression gate from r6 on
    # (their own anchor round is r6 — excluded from r1_comparable_total)
    "dedup_substring_spans",
    "ann_ivf_pq_topk",
    # round-6 graph / record-linkage families (anchor round r6, excluded
    # from r1_comparable_total like the r5 additions; triangle_count_
    # copurchase is deliberately NOT a headliner — same graph family as
    # pagerank but ~2× its cost, low extra regression signal per second)
    "pagerank_copurchase",
    "entity_canonical_keep_one",
    # round-10 multimodal decode anchor (anchor round r10, excluded from
    # r1_comparable_total): full MJPEG-in-AVI synth + per-frame JPEG
    # decode — the engine's heaviest CPU-bound scan stage, newly on the
    # numpy fast path + core-count partitioning; a codec or parallelism
    # regression shows up here first
    "multimodal_video_frame_stats",
    # round-13 Bloom-prefiltered decontamination (anchor round r13,
    # excluded from r1_comparable_total): the containment join behind
    # corpus_decontaminate with the eval-shingle Bloom pruning the
    # corpus shingle stream scan-side — a prefilter regression (or a
    # plan flip back to the unpruned exchange) shows up here first
    "bloom_prefilter_decontaminate",
]


def _stream_admission_ctx(
    spark, tmp: str, corpus_n: int = 5_000, batch_rows: int = 200,
    words_per_doc: int = 40,
):
    """Per-batch hotlog indexed streaming admission on a fixed
    deterministic workload — the sink body of indexed
    ``stream_dedup_admission``, which equivalence
    tests pin to the recompute form. Returns ``run(bid) -> sec`` so the
    main loop can interleave the three stream families into per-batch
    PASSES with IO-probe fences (r12); batch 0 pays the one-time
    bootstrap and is dropped by the caller."""
    import random

    from pyspark_ingestion_spark.operators.dedup import release_shingle_caches
    from pyspark_ingestion_spark.sources.localtable import local_rows_df
    from pyspark_ingestion_spark.streaming.pipeline import _admit_dedup_batch_indexed

    words = [f"w{i}" for i in range(8000)]

    def rows(n, seed, start):
        rnd = random.Random(seed)
        return [
            (i, " ".join(rnd.choices(words, k=words_per_doc)))
            for i in range(start, start + n)
        ]

    spark.createDataFrame(
        rows(corpus_n, seed=5, start=0), "doc_id long, text string"
    ).repartition(8).write.mode("overwrite").parquet(f"{tmp}/base")
    base = spark.read.parquet(f"{tmp}/base")
    kwargs = dict(id_col="doc_id", text_col="text", n=3, num_hashes=8,
                  band_size=2, threshold_num=1, threshold_den=2,
                  max_doc_freq=25, max_bucket_size=None)

    def run(bid: int) -> float:
        # r14 measurement fix (guide §1.4): the batch rows enter through
        # the Arrow local-table path (JVM-resident LocalTableScan) — the
        # former list-backed createDataFrame planned as a pickled Python
        # RDD whose ONE evaluation inside the sink cost ~2.8 s of
        # JVM→Python round trip at this batch size, i.e. the metric was
        # timing the synthetic source, not the admission path. Same
        # rows, same schema, same timed region.
        bdf = local_rows_df(
            spark,
            rows(batch_rows, seed=100 + bid, start=corpus_n + bid * 10_000),
            "doc_id long, text string",
        ).coalesce(2)
        t0 = time.perf_counter()
        _admit_dedup_batch_indexed(
            bdf, bid, base, f"{tmp}/out", f"{tmp}/index", **kwargs
        )
        release_shingle_caches()
        return round(time.perf_counter() - t0, 3)

    return run


def _stream_substring_ctx(
    spark, tmp: str, corpus_n: int = 3_000, batch_rows: int = 150,
    words_per_doc: int = 40,
):
    """Per-batch INDEXED substring streaming admission (dfcnt ledger,
    k=20, cap=10) on a fixed deterministic workload — the sink body of
    ``stream_substring_admission(index_path=...)``, which equivalence
    tests pin to the recompute form. ~30% of docs carry a boilerplate
    sentence so the df cap (and therefore the r8 ledger read path) is
    actually exercised. Returns ``run(bid) -> sec``; batch 0 pays the
    one-time windowing bootstrap and is dropped by the caller."""
    import random

    from pyspark_ingestion_spark.sources.localtable import local_rows_df
    from pyspark_ingestion_spark.streaming.pipeline import (
        _admit_substring_batch_indexed,
    )

    words = [f"w{i}" for i in range(8000)]
    boiler = [
        "subscribe to our newsletter for the latest updates and offers",
        "all rights reserved reproduction without permission is prohibited",
    ]

    def rows(n, seed, start):
        rnd = random.Random(seed)
        out = []
        for i in range(start, start + n):
            ws = rnd.choices(words, k=words_per_doc)
            if rnd.random() < 0.3:
                pos = rnd.randrange(len(ws))
                ws[pos:pos] = rnd.choice(boiler).split()
            out.append((i, " ".join(ws)))
        return out

    spark.createDataFrame(
        rows(corpus_n, seed=5, start=0), "doc_id long, text string"
    ).repartition(8).write.mode("overwrite").parquet(f"{tmp}/base")
    base = spark.read.parquet(f"{tmp}/base")
    args = dict(id_col="doc_id", text_col="text", k=20, min_len=20,
                max_window_df=10, sample_mod=None)

    def run(bid: int) -> float:
        # r14 measurement fix: Arrow local-table batch source — see
        # _stream_admission_ctx
        bdf = local_rows_df(
            spark,
            rows(batch_rows, seed=100 + bid, start=corpus_n + bid * 10_000),
            "doc_id long, text string",
        ).coalesce(2)
        t0 = time.perf_counter()
        _admit_substring_batch_indexed(
            bdf, bid, base, f"{tmp}/out", f"{tmp}/index", **args
        )
        return round(time.perf_counter() - t0, 3)

    return run


def _stream_fingerprint_ctx(
    spark, tmp: str, corpus_n: int = 5_000, batch_rows: int = 200,
):
    """Per-batch INDEXED perceptual fingerprint streaming admission
    (image dHash, radius 7) on a fixed deterministic workload — the
    sink body of ``stream_fingerprint_admission(index_path=...)``,
    which equivalence tests pin to the recompute form. ~5% of each
    batch's images are near-duplicates of corpus images (3-char local
    edit) so the Hamming verify really rejects. Returns
    ``run(bid) -> sec``; batch 0 pays the one-time base decode
    bootstrap and is dropped by the caller."""
    import random

    from pyspark_ingestion_spark.operators.multimodal import (
        image_dhash,
        synthesize_bmp_payload,
    )
    from pyspark_ingestion_spark.sources.localtable import local_rows_df
    from pyspark_ingestion_spark.streaming.pipeline import (
        _admit_fingerprint_batch_indexed,
    )

    def texts(n, seed, start=0):
        rnd = random.Random(seed)
        return [
            (start + i,
             "".join(chr(rnd.randrange(32, 127)) for _ in range(360)))
            for i in range(n)
        ]

    corpus_texts = texts(corpus_n, seed=5)

    def synth(rows, parts):
        # r14 measurement fix: the text rows feeding the BMP synth ship
        # as Arrow instead of pickled-RDD rows, and the coalesce moves
        # ABOVE the mapInPandas synth — coalescing 32 local-table slices
        # below it made each of the 2 tasks run 16 sequential Python
        # evaluations (~3 s of worker round trips per batch, measured;
        # coalesce-first is one evaluation per task, ~0.3 s). The synth
        # stage itself (real fixture work) is unchanged
        return synthesize_bmp_payload(
            local_rows_df(spark, rows, "doc_id long, text string").coalesce(parts),
            "doc_id", "text", width=12,
        )

    synth(corpus_texts, 8).write.mode("overwrite").parquet(f"{tmp}/base")
    base = spark.read.parquet(f"{tmp}/base")

    def run(bid: int) -> float:
        rnd = random.Random(100 + bid)
        rows = texts(batch_rows, 100 + bid, start=corpus_n + bid * 10_000)
        rows += [
            (corpus_n + bid * 10_000 + batch_rows + i,
             "@@@" + corpus_texts[rnd.randrange(corpus_n)][1][3:])
            for i in range(batch_rows // 20)
        ]
        bdf = synth(rows, 2)
        t0 = time.perf_counter()
        _admit_fingerprint_batch_indexed(
            bdf, bid, base, f"{tmp}/out", f"{tmp}/index",
            hash_fn=image_dhash, hash_cols=("dh_hi", "dh_lo"),
            id_col="doc_id", radius=7,
        )
        return round(time.perf_counter() - t0, 3)

    return run


#: memo for the preassigned-corpus parquet (one ingest-time encode per
#: bench process — exactly the production amortization the detail row
#: below exists to measure); cleaned up at the end of main()
_PREASSIGNED_CORPUS: dict[str, str] = {}

#: which physical encode form the bench's IVF-PQ config takes (r13,
#: VERDICT r12 item 1: a silent literal-budget fallback flip must be
#: visible in the JSON, not masquerade as cross-round drift)
_PQ_ENCODE_BRANCH: dict[str, object] = {}


def _ivf_pq_split(spark, sf_dir: str) -> tuple[float, float, float]:
    """ann_ivf_pq_topk with the FIT (KMeans centroid + 8 PQ codebook
    trainings — an ingest-time one-off in production) timed separately
    from the QUERY path (ADC scoring + exact rerank — the part that runs
    per search and that the 2× regression gate should watch). Same
    parameters as the registry query; both stages' sum is reported under
    the original anchor name for series continuity (r8, VERDICT r7
    item 7). The fits are eager (MLlib .fit + driver-side codebook rows),
    so timing the calls captures the full fit cost.

    r12 (VERDICT r11 item 5): ALSO times the PRODUCTION query shape —
    ``preassigned=True`` over a corpus whose ``cell``/``codes`` columns
    were written at ingest (here: once per bench process into a temp
    parquet, exactly the production amortization) — as the
    ``ann_ivf_pq_preassigned_query`` detail row, so regressions in the
    shape users actually run at scale are gated, not only the ad-hoc
    re-encode-per-call shape (SCALING.md r11 measured the two ~10×
    apart at 100k vectors). Anchor round: r12."""
    from pyspark_ingestion_spark.operators.similarity import (
        ivf_pq_assign,
        ivf_pq_fit,
        ivf_pq_topk,
    )
    from pyspark_ingestion_spark.sources.readers import load_table

    from pyspark.sql import functions as F

    e = load_table(spark, sf_dir, "embeddings")
    t0 = time.perf_counter()
    # r14: the centroid and codebook trainings run OVERLAPPED inside
    # ivf_pq_fit (guide §2.6) — same fits, same seeds, identical output
    # tables (equality-pinned in tests); the timed region still covers
    # the full fit stage
    cents, cb = ivf_pq_fit(e, n_centroids=16, n_sub=8, k_codes=32, seed=42)
    fit_s = round(time.perf_counter() - t0, 3)

    if not _PQ_ENCODE_BRANCH:
        # record which encode form this config takes — the SAME literal
        # arithmetic ivf_pq_assign branches on (similarity.py), so a
        # budget change or a dim change flips this field, not silently
        # the timings
        from pyspark_ingestion_spark.operators import similarity as _sim

        cdim = e.select(F.size("embedding").alias("d")).first()["d"]
        n_lit = len(_sim.codebook_rows_of(cb)) * (cdim // 8) + len(
            _sim.centroid_rows_of(cents)
        ) * cdim
        _PQ_ENCODE_BRANCH.update(
            branch=(
                "expr" if n_lit <= _sim._PQ_EXPR_MAX_LITERALS
                else "aggregate_join"
            ),
            n_literals=n_lit,
            budget=_sim._PQ_EXPR_MAX_LITERALS,
        )
    queries = e.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    t1 = time.perf_counter()
    ivf_pq_topk(
        e, queries, cents, cb, k=5, nprobe=8, n_sub=8, k_codes=32, rerank=20
    ).collect()
    query_s = round(time.perf_counter() - t1, 3)

    # production layout: ingest-time cell+codes columns (deterministic
    # across passes — seed-fixed fits), built once and reused
    path = _PREASSIGNED_CORPUS.get(sf_dir)
    if path is None:
        import tempfile

        path = tempfile.mkdtemp(prefix="bench_pqpre_") + "/corpus"
        ivf_pq_assign(
            e.select("vec_id", "embedding"), cents, cb, n_sub=8
        ).write.mode("overwrite").parquet(path)
        _PREASSIGNED_CORPUS[sf_dir] = path
    pre_corpus = spark.read.parquet(path)
    t2 = time.perf_counter()
    ivf_pq_topk(
        pre_corpus, queries, cents, cb, k=5, nprobe=8, n_sub=8, k_codes=32,
        rerank=20, preassigned=True,
    ).collect()
    pre_s = round(time.perf_counter() - t2, 3)
    return fit_s, query_s, pre_s


#: per-stage detail rows: reported in `queries` for visibility but NOT
#: added into the totals (their sum already rides under the parent
#: anchor name; the preassigned row is a SEPARATE query shape gated on
#: its own r12 anchor, not a stage of the ad-hoc anchor)
_DETAIL_ONLY = {
    "ann_ivf_pq_fit",
    "ann_ivf_pq_query",
    "ann_ivf_pq_preassigned_query",
    "calibration_cpu",
}

#: reference wall-time of the calibration job (r9 anchor: min of 3 runs
#: on the round-9 build machine). The cross-round regression gate reads
#: the NORMALIZED series: raw_sec / (calibration_sec / _CAL_REF_SEC) —
#: r8's verdict measured every untouched query drifting +13–45% in one
#: round from machine weather alone, so raw cross-round deltas under
#: ~1.5x are not attributable to code without this correction.
_CAL_REF_SEC = 3.0


def _calibration_job(spark) -> float:
    """Fixed CPU-bound machine-conditions probe: a deterministic
    in-memory aggregate (12B-row range → xxhash64 → sum across 64
    partitions), zero I/O, zero shuffle beyond the final 64-row
    combine — its wall-time moves with CPU contention/thermals/VM
    placement, not with any query's plan. Interleaved into every bench
    run round like a query; min-of-runs reported (JIT warms on run 1)."""
    t0 = time.perf_counter()
    spark.range(0, 12_000_000_000, 1, 64).selectExpr(
        "sum(xxhash64(id) % 1000003) as h"
    ).collect()
    return round(time.perf_counter() - t0, 3)


#: reference wall-time of the IO/shuffle calibration job (r11 anchor:
#: the in-context reading on the round-11 build machine — the probe
#: runs once after the query passes, where it reads ~2.3 s; a
#: dedicated tight loop warms to ~1.6 s, but the anchor must match the
#: context the probe actually runs in or same-machine runs would show
#: a phantom 1.45x scale). The streaming
#: batch metrics are dominated by many small Spark jobs + ledger
#: parquet writes — a machine-sensitivity profile the CPU-only probe
#: provably misses: the r10 hotlog '+39 % regression' reproduced with
#: UNCHANGED r9 code on the r11 machine (16 s fresh / 12.8 s warm vs
#: the r9 driver's 9.0 s) while the CPU probe read near-flat, so the
#: drift was environment, not code (SCALING.md r11). This probe times
#: the same work shape (partitioned parquet write + read + shuffled
#: aggregate, 3×) so the stream tier normalizes by the resource class
#: it actually stresses.
_IO_CAL_REF_SEC = 2.3


def _calibration_io_job(spark) -> float:
    """IO/shuffle machine-conditions probe for the streaming tier: three
    rounds of partitioned parquet write → read → shuffled aggregate on
    deterministic synthetic rows (~24 MB total) — the hotlog batch's
    work profile in miniature, zero dependence on the sf dir."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    tmp = tempfile.mkdtemp(prefix="bench_cal_io_")
    try:
        t0 = time.perf_counter()
        for i in range(3):
            (
                spark.range(0, 1_000_000, 1, 8)
                .select((F.col("id") % 1000).alias("k"), F.col("id").alias("v"))
                .repartition(8, "k")
                .write.mode("overwrite")
                .parquet(f"{tmp}/t{i}")
            )
            spark.read.parquet(f"{tmp}/t{i}").groupBy("k").agg(
                F.sum("v")
            ).collect()
        return round(time.perf_counter() - t0, 3)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


#: reference wall-time of the small-jobs probe (r13 anchor, VERDICT
#: r12 item 2: set from the in-context r12 reading, the same rule the
#: CPU/IO anchors used — BENCH_r12 smalljobs_runs were [6.816, 6.418,
#: 3.878, 4.049, 2.954]; the first two fences carry scheduler/JIT
#: warmup, the steady in-context readings are [3.878, 4.049, 2.954],
#: median 3.9).
#:
#: DECISION RULE — which probe governs the streaming rows: the IO
#: probe (bulk write/shuffle throughput) remains the NORMALIZER for
#: `per_pass_stream_scales` and the stream rows' normalized figures,
#: keeping the r12→r13 normalized series comparable. The smalljobs
#: scale is the cross-round ADJUDICATOR for the drift mode the IO
#: probe provably misses (r12: stream batches ~30 % slow while the IO
#: probe read near-anchor — scheduler/FS-metadata latency, not
#: bandwidth): when the raw stream series drifts across rounds but the
#: IO scales are flat, read `per_pass_smalljobs_scales` BEFORE
#: suspecting code — smalljobs also flat ⇒ treat as code and
#: scratch-clone A/B it; smalljobs elevated ⇒ machine-tier drift,
#: covered. Both per-pass series ship in the JSON so either estimator
#: is recomputable post hoc.
_SMALLJOBS_CAL_REF_SEC = 3.9


def _calibration_smalljobs_job(spark) -> float:
    """Scheduler-latency probe (r12 diagnostic; ANCHORED r13): eight
    tiny Spark jobs, each a ~200-row partitioned parquet write → read
    → count — pure job-scheduling + filesystem-metadata latency, the
    cost profile of the admission sinks' many-small-writes batches.
    Motivation: the r12 scratch-clone A/B caught a window where stream
    batches ran ~30 % slow while the bulk-throughput IO probe read
    near its anchor — this drift mode needs its own series. Anchor and
    governing rule: :data:`_SMALLJOBS_CAL_REF_SEC`."""
    import shutil
    import tempfile

    tmp = tempfile.mkdtemp(prefix="bench_cal_sj_")
    try:
        t0 = time.perf_counter()
        for i in range(8):
            (
                spark.range(0, 200, 1, 2)
                .selectExpr("id", "id % 7 AS k")
                .write.mode("overwrite")
                .partitionBy("k")
                .parquet(f"{tmp}/t{i}")
            )
            spark.read.parquet(f"{tmp}/t{i}").count()
        return round(time.perf_counter() - t0, 3)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def _local_rows_path_counts() -> dict:
    """Per-process local_rows_df construction-path counters (r15,
    ADVICE) — which path the Arrow local tables actually took."""
    from pyspark_ingestion_spark.sources import localtable

    return dict(localtable.PATH_COUNTS)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    n_runs = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3")))

    from pyspark_ingestion_spark.queries import all_queries
    from pyspark_ingestion_spark.session import get_spark_session

    spark = get_spark_session(app_name="pyspark-ingestion-spark-bench")
    registry = all_queries()
    names = [n for n in HEADLINE if n in registry]
    # warm-up: JVM + parquet footer caches, so timings measure the plan not startup
    registry[names[0]].fn(spark, sf_dir).collect()

    runs: dict[str, list[float]] = {n: [] for n in names}
    probe_pairs: list[tuple[float, float]] = []
    for _ in range(n_runs):
        # machine-conditions probe samples BOTH fences of the pass's
        # query block (r12): the pass scale is the average of the two
        # readings, so one bursty ~3 s probe cannot set it alone
        pre_cal = _calibration_job(spark)
        runs.setdefault("calibration_cpu", []).append(pre_cal)
        for name in names:
            if name == "ann_ivf_pq_topk":
                fit_s, query_s, pre_s = _ivf_pq_split(spark, sf_dir)
                runs.setdefault("ann_ivf_pq_fit", []).append(fit_s)
                runs.setdefault("ann_ivf_pq_query", []).append(query_s)
                runs.setdefault("ann_ivf_pq_preassigned_query", []).append(pre_s)
                runs[name].append(round(fit_s + query_s, 3))
                continue
            t0 = time.perf_counter()
            registry[name].fn(spark, sf_dir).collect()
            runs[name].append(round(time.perf_counter() - t0, 3))
        post_cal = _calibration_job(spark)
        runs["calibration_cpu"].append(post_cal)
        probe_pairs.append((pre_cal, post_cal))

    # streaming steady-state (r7): indexed admission seconds/BATCH at
    # FIXED corpus/batch sizes (deterministic synthetic docs — the
    # metric tracks the read/write path's cost, not the sf dir), so a
    # regression in the streaming tier is visible to the driver instead
    # of living only in one-off SCALING.md A/Bs. Batch 0 (one-time index
    # bootstrap) is excluded. The three families run INTERLEAVED as
    # per-batch passes with the IO/shuffle probe at each fence (r12,
    # VERDICT r11 item 2): each steady-state batch is normalized by ITS
    # OWN pass's scale (avg of the two fence readings), the same
    # burstiness discipline as the CPU probe — the single post-hoc IO
    # reading of r11 had one-shot exposure. The IO probe (not the CPU
    # one) is the resource class these batch loops actually stress: the
    # r10 '+39 %' hotlog drift reproduced on unchanged r9 code while
    # the CPU probe read near-flat (see _IO_CAL_REF_SEC).
    import shutil
    import tempfile

    stream_tmp = tempfile.mkdtemp(prefix="bench_stream_")
    n_batches = 4
    io_probes: list[float] = []
    smalljobs_probes: list[float] = []
    try:
        stream_fams = {
            "stream_admission_hotlog_batch": _stream_admission_ctx(
                spark, f"{stream_tmp}/hot"
            ),
            "stream_substring_ledger_batch": _stream_substring_ctx(
                spark, f"{stream_tmp}/sub"
            ),
            "stream_fingerprint_batch": _stream_fingerprint_ctx(
                spark, f"{stream_tmp}/fp"
            ),
        }
        stream_batches: dict[str, list[float]] = {n: [] for n in stream_fams}
        for bid in range(n_batches):
            io_probes.append(_calibration_io_job(spark))
            smalljobs_probes.append(_calibration_smalljobs_job(spark))
            for name, run_batch in stream_fams.items():
                stream_batches[name].append(run_batch(bid))
        io_probes.append(_calibration_io_job(spark))
        smalljobs_probes.append(_calibration_smalljobs_job(spark))
    finally:
        shutil.rmtree(stream_tmp, ignore_errors=True)
    for name, batch_times in stream_batches.items():
        runs[name] = batch_times[1:]  # drop the bootstrap batch
    # per-pass IO scales for the steady-state batches (batch i's fences
    # are probes i and i+1); batch 0's pair is dropped with its batch
    stream_pass_scales = [
        ((io_probes[i] + io_probes[i + 1]) / 2) / _IO_CAL_REF_SEC
        for i in range(1, n_batches)
    ]
    # per-pass smalljobs scales (r13, VERDICT r12 item 2): same fence
    # pairing as the IO scales; adjudication-only — see the decision
    # rule on _SMALLJOBS_CAL_REF_SEC
    smalljobs_pass_scales = [
        ((smalljobs_probes[i] + smalljobs_probes[i + 1]) / 2)
        / _SMALLJOBS_CAL_REF_SEC
        for i in range(1, n_batches)
    ]

    timings = {n: min(rs) for n, rs in runs.items()}
    detail = {
        n: {
            "min": min(rs),
            "median": round(statistics.median(rs), 3),
            "runs": rs,
        }
        for n, rs in runs.items()
    }

    total = round(
        sum(v for n, v in timings.items() if n not in _DETAIL_ONLY), 3
    )
    # calibration-normalized series (r9, VERDICT r8 item 4; per-pass
    # since r11; r12 fixes the ESTIMATOR, VERDICT r11 items 1+2): each
    # pass's scale is the average of its two fence probes (one bursty
    # probe reading cannot set a scale), each run is divided by ITS OWN
    # pass's scale, and the reported per-query figure is the MEDIAN of
    # the normalized runs — the r11 min-of-normalized headline obeyed
    # min(r_i/s_i) <= min(r_i)/median(s_i), i.e. it systematically
    # selected the pass whose probe read most unfavorably and could
    # only err in the flattering direction. Min-normalized and raw
    # minima stay in the output as diagnostics. Lists not aligned to
    # passes fall back to the median scale. scale > 1 = slower
    # conditions than the reference machine.
    scales = [((a + b) / 2) / _CAL_REF_SEC for a, b in probe_pairs]
    med_scale = statistics.median(scales)
    med_stream_scale = statistics.median(stream_pass_scales)
    stream_names = set(stream_batches)

    def _norm_runs(name: str, rs: list[float]) -> list[float]:
        if name in stream_names:
            if len(rs) == len(stream_pass_scales):
                return [r / s for r, s in zip(rs, stream_pass_scales)]
            return [r / med_stream_scale for r in rs]
        if len(rs) == len(scales):
            return [r / s for r, s in zip(rs, scales)]
        return [r / med_scale for r in rs]

    cal = timings["calibration_cpu"]
    scale = round(med_scale, 4)
    normalized = {
        n: round(statistics.median(_norm_runs(n, rs)), 3)
        for n, rs in runs.items()
        if n != "calibration_cpu"
    }
    normalized_min = {
        n: round(min(_norm_runs(n, rs)), 3)
        for n, rs in runs.items()
        if n != "calibration_cpu"
    }
    # the headline set GREW in r4 (+corpus_full_pipeline, +dedup_semantic_
    # keep_one, +word_cooccurrence_pmi); this subtotal keeps the r1-r3
    # 11-query series comparable round-over-round without freezing the set
    r3_set = [n for n in names if n not in (
        "corpus_full_pipeline", "dedup_semantic_keep_one", "word_cooccurrence_pmi",
        "dedup_substring_spans", "ann_ivf_pq_topk",
        "pagerank_copurchase", "entity_canonical_keep_one",
        "multimodal_video_frame_stats", "bloom_prefilter_decontaminate",
        "stream_admission_hotlog_batch", "stream_substring_ledger_batch",
        "stream_fingerprint_batch")]
    print(
        json.dumps(
            {
                "metric": "headline_queries_total",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "queries_detail": detail,
                "bench_runs": n_runs,
                "sf": float(sf) if sf.replace(".", "", 1).isdigit() else sf,
                "r1_comparable_total": round(sum(timings[n] for n in r3_set), 3),
                "calibration": {
                    "sec": cal,
                    "ref_sec": _CAL_REF_SEC,
                    "scale": scale,
                    "runs": runs["calibration_cpu"],
                    "per_pass_probe_pairs": [
                        [a, b] for a, b in probe_pairs
                    ],
                    "per_pass_scales": [round(s, 4) for s in scales],
                    "stream_io_runs": io_probes,
                    "smalljobs_runs": smalljobs_probes,
                    "stream_io_ref_sec": _IO_CAL_REF_SEC,
                    "smalljobs_ref_sec": _SMALLJOBS_CAL_REF_SEC,
                    "per_pass_stream_scales": [
                        round(s, 4) for s in stream_pass_scales
                    ],
                    "per_pass_smalljobs_scales": [
                        round(s, 4) for s in smalljobs_pass_scales
                    ],
                    "stream_scale": round(med_stream_scale, 4),
                    "smalljobs_scale": round(
                        statistics.median(smalljobs_pass_scales), 4
                    ),
                    "mode": (
                        "per-pass median, dual-fence probes (r12); "
                        "smalljobs anchored r13 (adjudication-only)"
                    ),
                },
                "ivf_pq_encode_branch": _PQ_ENCODE_BRANCH or None,
                # r15 (ADVICE): local_rows_df construction-path counters
                # — a silent Arrow→pickled fallback in the stream batch
                # sources would re-time ~2.8 s of source cost per batch
                # and masquerade as a framework regression; diagnostics
                # only, no timed-region or row-construction change
                "local_rows_path_counts": _local_rows_path_counts(),
                "queries_normalized": normalized,
                "queries_normalized_min": normalized_min,
                "r1_comparable_total_normalized": round(
                    sum(normalized[n] for n in r3_set), 3
                ),
                "value_normalized": round(
                    sum(v for n, v in normalized.items() if n not in _DETAIL_ONLY),
                    3,
                ),
            }
        )
    )
    for path in _PREASSIGNED_CORPUS.values():
        shutil.rmtree(os.path.dirname(path), ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
