"""Structured Streaming pipelines — the principled replacement for the
reference's "incremental batch + sync.json" pattern (SURVEY §2.5).

The reference polled a JDBC source and tracked a high watermark by hand
(reference ingestion.py:143-164). Structured Streaming gives the same
semantics natively: source offsets in a checkpoint, event-time
watermarks for late data, and exactly-once file sinks. These helpers
run real ``readStream`` pipelines; tests drive them with
``Trigger.AvailableNow`` so they terminate deterministically on the
static testdata.
"""

from __future__ import annotations

import contextlib
import uuid
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pyspark_ingestion_spark.ingestion.watermark import (
    read_state_json,
    write_state_json,
)

if TYPE_CHECKING:  # annotation-only: the bloom import stays lazy at runtime
    from pyspark_ingestion_spark.operators.bloom import BloomState


def _write_batch_partition(df: DataFrame, path: str, batch_id: int) -> None:
    """Overwrite partition ``__batch_id=<batch_id>`` of ``path`` with
    ``df`` — the replay contract every per-batch table shares: a
    replayed batch rewrites exactly its own partition."""
    from pyspark_ingestion_spark.sources.writers import overwrite_partitions

    overwrite_partitions(
        df.withColumn("__batch_id", F.lit(batch_id)), path, ["__batch_id"]
    )


@contextlib.contextmanager
def _overlapped_writes(batch_id: int):
    """Run a batch's independent partition writes as concurrent Spark
    jobs. Yields ``(submit, wait)``: ``submit(name, df, path)`` starts
    :func:`_write_batch_partition` on its own thread (threads spawn on
    demand and the default pool width, at least 5, covers the widest
    sink, so every submitted write overlaps the others and the body);
    ``wait(*names)`` joins those writes, for a body step that must read
    what they wrote.

    Every write is joined before the block exits, so a batch completes
    only when all of its writes have. Each write failure gets the note
    ``batch <id>: <name> write to <path> failed``. If the body raises,
    its error is primary and every write failure rides along as a note
    (its original ``__context__`` chain is left intact); otherwise the
    first write failure is raised with the rest as notes."""
    import traceback
    from concurrent.futures import ThreadPoolExecutor

    pending: dict = {}  # name -> (future, path)

    def wait(*names: str) -> None:
        for name in names:
            fut, path = pending.pop(name)
            try:
                fut.result()
            except Exception as err:
                err.add_note(f"batch {batch_id}: {name} write to {path} failed")
                raise

    def join_all() -> list:
        errs = []
        for name in list(pending):
            try:
                wait(name)
            except Exception as err:
                errs.append(err)
        return errs

    def attach(primary: BaseException, errs: list) -> None:
        for err in errs:
            primary.add_note(
                "concurrent write also failed: "
                + "".join(traceback.format_exception(err)).rstrip()
            )

    with ThreadPoolExecutor() as ex:

        def submit(name: str, df: DataFrame, path: str) -> None:
            pending[name] = (
                ex.submit(_write_batch_partition, df, path, batch_id),
                path,
            )

        try:
            yield submit, wait
        except BaseException as body_err:
            attach(body_err, join_all())
            raise
        errs = join_all()
        if errs:
            attach(errs[0], errs[1:])
            raise errs[0]


def _run_foreach_batch(stream_df: DataFrame, checkpoint: str, fn) -> None:
    """Run one AvailableNow increment of a ``foreachBatch`` sink:
    ``fn(batch_df, batch_id)`` per micro-batch, offsets and commits in
    ``checkpoint``."""
    (
        stream_df.writeStream.foreachBatch(fn)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def _compaction_schedule(
    index_path: str | None,
    compact_every: int | None,
    compact_major_every: int | None,
):
    """Validate an in-sink compaction policy once and return
    ``batch_id -> None | "minor" | "major"``: a MINOR every
    ``compact_every`` batches (ids that are positive multiples of it),
    upgraded to a MAJOR every ``compact_major_every`` (default 8× the
    minor interval). See :func:`_run_admission_sink`."""
    if compact_every is not None and (index_path is None or compact_every < 1):
        raise ValueError("compact_every requires index_path and a positive interval")
    if compact_major_every is not None and (
        compact_every is None
        or compact_major_every < compact_every
        or compact_major_every % compact_every != 0
    ):
        # majors only fire ON compaction batches, so a non-multiple M
        # would silently degrade the major cadence to lcm(N, M) — and
        # M=0 would pass the modulo check while never firing (r7 review)
        raise ValueError(
            "compact_major_every requires compact_every and must be a "
            "positive multiple of it (majors run on compaction batches)"
        )
    major_every = compact_major_every or (compact_every or 0) * 8

    def schedule(batch_id: int) -> str | None:
        if not compact_every or batch_id <= 0 or batch_id % compact_every:
            return None
        return "major" if batch_id % major_every == 0 else "minor"

    return schedule


def _run_admission_sink(
    stream_df: DataFrame,
    checkpoint: str,
    index_path: str | None,
    schedule,
    compact_fn,
    admit_indexed,
    admit_recompute,
) -> None:
    """The batch loop every growing-corpus admission sink (LSH,
    substring, semantic, fingerprint) runs: each micro-batch is checked
    against the corpus as of its start (base ∪ everything admitted so
    far) and the survivors are appended.

    Forms. With ``index_path`` (the production form) the sink's
    corpus-side index is maintained incrementally next to the corpus and
    ``admit_indexed(batch_df, batch_id)`` runs; without it the reference
    form ``admit_recompute(batch_df, batch_id)`` (:func:`_admit_recompute`)
    re-derives the corpus side per batch. Both forms admit the same
    documents (pinned in tests/test_streaming.py).

    Replay contract (exactly-once). Every table a batch writes — the
    admitted rows and each index table — is partitioned by
    ``__batch_id`` and written with dynamic partition overwrite, so a
    replayed micro-batch (restart between the sink write and the
    checkpoint commit) rewrites its own partitions instead of
    duplicating. Every corpus and index READ excludes the current batch
    id's partition: on replay the first attempt's output is already on
    disk, and counting it as corpus would make the batch's own docs
    reject themselves and overwrite the partition with nothing.

    Compaction schedule (indexed form only; :func:`_compaction_schedule`).
    At the START of batch b, when ``schedule(b)`` names a level,
    ``compact_fn(spark, index_path, checkpoint=..., on_uncommitted="skip",
    mode=level)`` folds the index's per-batch partitions — inside the
    same foreachBatch serialization domain as every index read and
    write, so the stream never pauses and nothing reads the index
    mid-overwrite. A MINOR folds only the delta partitions since the
    last fold into one segment (O(deltas) rewrite, the base untouched);
    a MAJOR folds segments and deltas into the base, bounding segment
    count. Per-batch read cost between majors is O(base + k segments +
    N deltas) partitions — flat in stream length; amortized write cost
    is the standard LSM trade. Uncommitted partitions — exactly this
    batch's own, when the compaction batch is a replay — are skipped,
    not folded, preserving the replay read's self-exclusion; a crash
    mid-compaction resumes from the write-ahead staging on the replay
    of the same batch, before any index read of that replay."""

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if index_path is None:
            admit_recompute(batch_df, batch_id)
            return
        mode = schedule(batch_id)
        if mode:
            compact_fn(
                batch_df.sparkSession, index_path, checkpoint=checkpoint,
                on_uncommitted="skip", mode=mode,
            )
        admit_indexed(batch_df, batch_id)

    _run_foreach_batch(stream_df, checkpoint, sink)


def _admit_recompute(
    batch_df: DataFrame,
    batch_id: int,
    base: DataFrame,
    out_path: str,
    cols: tuple,
    rejects_fn,
) -> None:
    """One micro-batch of an admission sink's reference (recompute)
    form: reject ``batch_df`` against base ∪ everything admitted so far,
    re-deriving the corpus side from scratch, and write the survivors.
    ``cols`` are the corpus columns, id first; ``rejects_fn(corpus,
    batch)`` returns the rejected ids under ``cols[0]``. Module-level so
    the replay path is directly testable: calling it twice with the same
    ``batch_id`` reproduces (never erases) the first attempt's output."""
    from pyspark.errors import AnalysisException

    spark = batch_df.sparkSession
    # one source evaluation per batch (r14, guide §4): the batch feeds
    # the rejects subquery and the admitted anti-join + write
    batch = batch_df.localCheckpoint(eager=True)
    corpus = base.select(*cols)
    try:
        # EXCLUDE this batch's own partition (replay contract,
        # _run_admission_sink)
        prev = spark.read.parquet(out_path).filter(
            F.col("__batch_id").cast("long") != batch_id
        )
        corpus = corpus.unionByName(
            prev.select(*[F.col(c).cast(t).alias(c) for c, t in corpus.dtypes])
        )
    except AnalysisException:  # first batch: nothing admitted yet
        pass
    rejects = rejects_fn(corpus, batch)
    _write_batch_partition(
        batch.join(F.broadcast(rejects), cols[0], "left_anti"), out_path, batch_id
    )


def read_stream_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """File-source stream over one testdata parquet table.

    Schema comes from a batch footer read (streaming file sources require
    an explicit schema). TIMESTAMP(NANOS) columns arrive as int64 via the
    legacy conf and are converted executor-side, mirroring
    ``sources.readers.load_table``.
    """
    from pyspark_ingestion_spark.sources.readers import _nanos_timestamp_cols

    path = f"{sf_dir}/{name}.parquet"
    nanos_cols = _nanos_timestamp_cols(path)
    if nanos_cols:
        # microbatches re-read this conf at execution time, so it must stay
        # set for the life of the streaming query (batch reads bake it at
        # planning; see sources.readers.load_table which can reset it)
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = spark.read.parquet(path).schema
    # Sessions that infer parquet timestamps as TIMESTAMP_NTZ (the pip
    # default) would make withWatermark fail — event time must be
    # TIMESTAMP. Request TIMESTAMP in the explicit schema instead; the
    # parquet micros are read as-is, so values are unchanged under the
    # engine's pinned-UTC sessions.
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField(f.name, T.TimestampType(), f.nullable)
            if isinstance(f.dataType, T.TimestampNTZType)
            else f
            for f in schema.fields
        ]
    )
    # the file streaming source wants a directory; glob-filter to one table
    stream = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", f"{name}.parquet")
        .parquet(sf_dir)
    )
    for c in nanos_cols:
        stream = stream.withColumn(c, F.expr(f"timestamp_micros(`{c}` div 1000)"))
    return stream


def tumbling_counts(
    events: DataFrame,
    window_size: str = "1 hour",
    ts_col: str = "ts",
    key_col: str = "event_type",
) -> DataFrame:
    """Tumbling-window counts per key (works on both stream and batch frames)."""
    return (
        events.groupBy(F.window(F.col(ts_col), window_size), F.col(key_col))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            key_col,
            "n",
        )
    )


def sessionized(
    events: DataFrame,
    gap: str = "5 minutes",
    ts_col: str = "ts",
    key_col: str = "user_id",
) -> DataFrame:
    """Session windows (gap-based) per key — native ``session_window``."""
    return (
        events.groupBy(F.session_window(F.col(ts_col), gap), F.col(key_col))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            key_col,
            "n_events",
        )
    )


def run_stream_to_memory(
    stream_df: DataFrame,
    output_mode: str = "complete",
    name: str | None = None,
) -> DataFrame:
    """Run a streaming aggregation to completion (AvailableNow) into a
    memory sink and return the result as a batch DataFrame.

    AvailableNow processes everything currently in the source then stops
    — the streaming analog of one incremental batch. ``complete`` mode
    emits every window, so no watermark-withheld tail.
    """
    name = name or f"mem_{uuid.uuid4().hex[:12]}"
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return stream_df.sparkSession.table(name)


def stream_ingest_partitioned(
    stream_df: DataFrame,
    path: str,
    checkpoint: str,
    partition_columns: list[str] | None = None,
) -> None:
    """Streaming file-sink ingest with checkpointed exactly-once semantics —
    the Structured-Streaming version of ``ingest_table``: the checkpoint
    replaces sync.json, the commit log replaces the append/rename dance.
    Runs one AvailableNow increment and returns."""
    writer = (
        stream_df.writeStream.format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
        .trigger(availableNow=True)
    )
    if partition_columns:
        writer = writer.partitionBy(*partition_columns)
    q = writer.start()
    q.awaitTermination()


_GUARD_FILE = "_partition_guard.json"


def stream_foreach_batch_overwrite(
    stream_df: DataFrame,
    path: str,
    checkpoint: str,
    partition_columns: list[str],
) -> None:
    """Streaming sink via ``foreachBatch`` + dynamic partition overwrite.

    The escape hatch for sinks Structured Streaming lacks natively (JDBC
    upserts, REST, multi-table fan-out): each micro-batch arrives as a
    BATCH DataFrame, so the whole batch writer/connector surface applies.
    Combined with dynamic partition overwrite, a replayed micro-batch
    (restart between sink write and checkpoint commit) rewrites its
    partitions instead of duplicating — idempotence without sink-side
    transactions. The modern form of the reference's per-batch
    write-then-advance-sync loop (reference ingestion.py:80-96).
    """
    from pyspark_ingestion_spark.sources.writers import overwrite_partitions

    guard = f"{checkpoint}/{_GUARD_FILE}"
    # REQUIREMENT: partition_columns must be batch-aligned (each partition
    # value appears in at most one micro-batch — e.g. an ingest-date or
    # source-file column). If two batches carried rows of the same
    # partition, the second overwrite would DELETE the first batch's rows.
    # The guard fails the query instead of losing data silently, and its
    # state is DURABLE next to the checkpoint: an in-memory set would
    # reset on every restart / follow-up AvailableNow increment — exactly
    # when a recurring partition value (yesterday's date re-ingested)
    # would slip through and erase the earlier increment. A replayed
    # micro-batch passes (same batch id owns its partitions).

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        # one source evaluation per batch (r14, guide §4): the partition
        # probe and the overwrite both consume the batch
        batch_df = batch_df.localCheckpoint(eager=True)
        parts = {
            tuple(str(r[c]) for c in partition_columns)
            for r in batch_df.select(*partition_columns).distinct().collect()
        }
        spark = batch_df.sparkSession
        # partition key -> owning batch id
        owners = {k: int(v) for k, v in (read_state_json(guard, spark) or {}).items()}
        clash = {p for p in parts if owners.get("|".join(p), batch_id) != batch_id}
        if clash:
            raise ValueError(
                f"batch {batch_id} touches partitions already written by an "
                f"earlier micro-batch ({sorted(clash)[:3]}...): overwrite would "
                "drop their rows. Use batch-aligned partition columns (e.g. "
                "ingest date) or an append sink with downstream dedup."
            )
        owners.update({"|".join(p): batch_id for p in parts})
        # guard-then-write: a crash after the guard write replays with the
        # same batch id, which the guard admits
        write_state_json(guard, owners, spark)
        overwrite_partitions(batch_df, path, partition_columns)

    _run_foreach_batch(stream_df, checkpoint, sink)


def stream_cdc_upsert(
    stream_df: DataFrame,
    path: str,
    checkpoint: str,
    key_cols: list[str],
    order_cols: list[str],
    partition_columns: list[str],
    delete_col: str | None = None,
) -> None:
    """Streaming CDC apply: each micro-batch MERGEs into the lake.

    foreachBatch + ``ingestion.cdc.cdc_upsert`` — the streaming form of
    the upsert path, with the same latest-wins/tombstone semantics and
    the same cost model (each micro-batch rewrites only its partition
    footprint). Replayed micro-batches (restart between sink and
    checkpoint commit) are safe because the merge is idempotent: ties
    on ``order_cols`` resolve toward the incoming rows, so re-applying
    a batch reproduces the same partitions. Unlike the overwrite sink
    above, partitions may recur across batches — that's the normal CDC
    case (today's hot partition updated every batch).
    """
    from pyspark_ingestion_spark.ingestion.cdc import cdc_upsert

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        # one source evaluation per batch (r14, guide §4): cdc_upsert
        # consumes the batch twice (partition-footprint probe + merge)
        batch_df = batch_df.localCheckpoint(eager=True)
        cdc_upsert(
            batch_df.sparkSession,
            batch_df,
            path,
            key_cols=key_cols,
            order_cols=order_cols,
            partition_columns=partition_columns,
            delete_col=delete_col,
        )

    _run_foreach_batch(stream_df, checkpoint, sink)


def stream_dedup_admission(
    stream_df: DataFrame,
    base_corpus: DataFrame,
    out_path: str,
    checkpoint: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 8,
    band_size: int = 2,
    threshold_num: int = 1,
    threshold_den: int = 2,
    max_doc_freq: int | float | None = 25,
    max_bucket_size: int | None = None,
    index_path: str | None = None,
    index_mode: str = "hotlog",
    compact_every: int | None = None,
    compact_major_every: int | None = None,
    bucket_cap_mode: str = "drop",
    probe_salts: int = 4,
) -> None:
    """Continuous dedup admission: each micro-batch is LSH-checked
    against a GROWING corpus (base + everything admitted so far) and the
    survivors are appended — the streaming form of
    ``dedup_incremental_lsh`` (``operators/dedup.incremental_lsh_rejects``).
    Batch loop, replay contract and compaction schedule:
    :func:`_run_admission_sink`.

    Semantics per micro-batch: admitted = batch ∖ rejects(base ∪
    previously-admitted). Batch-INTERNAL near-dups are both admitted
    (each batch is checked against the corpus as of its start) — run
    ``minhash_lsh_dedup_pairs`` inside the sink first if intra-batch
    dedup is required. Equivalence with a sequential batch-mode loop
    over the same micro-batches is pinned in tests/test_streaming.py,
    including a checkpoint restart.

    100 TB shape: the admission cost is O(batch bands ⋈ corpus band
    table + verify on collisions). With ``index_path`` set (the
    PRODUCTION form), the corpus band table and shingle postings are
    maintained INCREMENTALLY next to the corpus — each batch appends the
    admitted docs' bands/postings and reads the index back instead of
    re-deriving it, so no micro-batch ever re-shingles (or even scans)
    the corpus text; see :func:`_admit_dedup_batch_indexed`. Without
    ``index_path`` the reference recompute form runs: the band table is
    re-derived per batch from (base ∪ admitted) — fine for bounded local
    corpora, O(corpus) per batch at scale. The dedup shingle caches are
    released after every batch so a long-lived stream never accumulates
    CacheManager entries.

    The index keeps df-count deltas and a hot-transition log, so the
    read path runs no corpus-wide aggregate; that needs an integer
    ``max_doc_freq`` (or None). Fractional caps run on the recompute
    form. ``index_mode`` accepts only ``"hotlog"``, the one index form.

    ``compact_every`` / ``compact_major_every`` (indexed form only)
    fold the index with :func:`compact_admission_index`; without it the
    per-batch cost grows O(versions) in the bands max and O(batches) in
    the dfcnt scan and the postings/hot small-file counts (measured over
    64 batches in SCALING.md).

    ``bucket_cap_mode="salt"`` (r12): inside an oversized corpus band
    bucket, salt-split instead of drop — each batch doc probes
    ``min(n_salts, probe_salts)`` sub-buckets, recovering
    ~probe_salts·cap candidate partners near a POPULAR corpus cluster
    that drop mode silently admits past. Same per-batch cost shape as
    drop (both pay the one corpus-band aggregate for the oversized
    list); the probe replicates only batch rows. Threaded through the
    indexed and the recompute form, so the equivalence pins hold.
    """
    if index_mode != "hotlog":
        raise ValueError(
            f"index_mode {index_mode!r}: the fingerprint index mode was "
            "retired; 'hotlog' is the only index form"
        )
    if index_path is not None:
        _check_index_cap(max_doc_freq)
    schedule = _compaction_schedule(index_path, compact_every, compact_major_every)
    kw = dict(
        id_col=id_col, text_col=text_col, n=n, num_hashes=num_hashes,
        band_size=band_size, threshold_num=threshold_num,
        threshold_den=threshold_den, max_doc_freq=max_doc_freq,
        max_bucket_size=max_bucket_size, bucket_cap_mode=bucket_cap_mode,
        probe_salts=probe_salts,
    )
    _run_admission_sink(
        stream_df, checkpoint, index_path, schedule, compact_admission_index,
        lambda b, i: _admit_dedup_batch_indexed(
            b, i, base_corpus, out_path, index_path, **kw
        ),
        lambda b, i: _admit_dedup_batch(b, i, base_corpus, out_path, **kw),
    )


def _admit_dedup_batch(
    batch_df: DataFrame,
    batch_id: int,
    base_corpus: DataFrame,
    out_path: str,
    id_col: str,
    text_col: str,
    n: int,
    num_hashes: int,
    band_size: int,
    threshold_num: int,
    threshold_den: int,
    max_doc_freq: int | float | None,
    max_bucket_size: int | None,
    bucket_cap_mode: str = "drop",
    probe_salts: int = 4,
) -> None:
    """One micro-batch of the recompute form of ``stream_dedup_admission``
    (:func:`_admit_recompute` with the LSH rejects)."""
    from pyspark_ingestion_spark.operators.dedup import (
        incremental_lsh_rejects,
        release_shingle_caches,
        snapshot_shingle_caches,
    )

    # release only the caches THIS batch creates — a concurrent foreground
    # dedup job's caches must survive the micro-batch commit
    prior_caches = snapshot_shingle_caches()
    try:
        _admit_recompute(
            batch_df.select(id_col, text_col), batch_id, base_corpus, out_path,
            (id_col, text_col),
            lambda corpus, batch: incremental_lsh_rejects(
                corpus, batch, id_col, text_col, n=n, num_hashes=num_hashes,
                band_size=band_size, threshold_num=threshold_num,
                threshold_den=threshold_den, max_doc_freq=max_doc_freq,
                max_bucket_size=max_bucket_size,
                bucket_cap_mode=bucket_cap_mode, probe_salts=probe_salts,
            ),
        )
    finally:
        release_shingle_caches(keep=prior_caches)


#: the admission index lives in four tables under ``index_path``, all
#: partitioned by ``__batch_id`` so index writes share the out_path
#: replay contract (a replayed batch overwrites exactly its own
#: partition). Base-corpus rows live in partition ``__batch_id=-1``.
_IDX_POSTINGS = "postings"  # (doc, shingle)            — UNCAPPED
_IDX_BANDS = "bands"        # (doc, band, band_key, capped_size, capped_xor)
#: the per-batch df-count deltas and the hot-transition log, which keep
#: every corpus-wide aggregate (hot-shingle counts, band staleness) off
#: the read path: it reads O(batch)/O(hot) tables instead.
_IDX_DFCNT = "dfcnt"        # (shingle, cnt)  — batch's ADMITTED df delta
_IDX_HOT = "hot"            # (shingle)       — became hot as of this batch


def _index_band_rows(
    capped: DataFrame, doc_ids: DataFrame, num_hashes: int, band_size: int
) -> DataFrame:
    """Band-index rows for every doc in ``doc_ids`` from its (already
    df-capped, already restricted) shingle rows ``capped``: one row per
    (doc, band) plus the doc's capping fingerprint (capped_size,
    capped_xor). Docs with ZERO capped shingles (all-hot boilerplate,
    NULL text) get a TOMBSTONE row (band=-1): under latest-wins it
    shadows the older band rows of a doc whose shingles all went hot,
    and every band read filters it out. No read path uses the
    fingerprint columns; they stay because they are part of the on-disk
    band layout existing indexes carry."""
    from pyspark_ingestion_spark.operators.dedup import (
        _bands_from_wide,
        _wide_signatures,
    )

    fp = capped.groupBy("doc").agg(
        F.count(F.lit(1)).alias("capped_size"),
        F.bit_xor(F.xxhash64("shingle")).alias("capped_xor"),
    )
    bands = _bands_from_wide(_wide_signatures(capped, num_hashes), num_hashes, band_size)
    rows = bands.join(fp, "doc")
    tomb = doc_ids.join(fp, "doc", "left_anti").select(
        "doc",
        F.lit(-1).alias("band"),
        F.lit(None).cast("string").alias("band_key"),
        F.lit(0).cast("long").alias("capped_size"),
        F.lit(0).cast("long").alias("capped_xor"),
    )
    return rows.unionByName(tomb)


def _read_latest_bands(
    spark: SparkSession, bands_path: str, exclude_batch_id: int
) -> DataFrame:
    """Current band rows: per doc, the rows from its NEWEST index
    partition (re-banding shadows older versions by writing newer rows —
    old partitions are never rewritten, preserving their replay
    ownership). Excludes ``exclude_batch_id`` for the same reason the
    corpus read does: on replay the partition holds the first attempt's
    output, which must not count as pre-existing state."""
    # COMPACTED fast path: when every surviving version lives in the base
    # partition (compaction folded the per-batch partitions, or nothing
    # was ever re-banded), the per-doc latest-version max is a no-op that
    # still costs a corpus-wide shuffle per batch — read the base
    # directly instead (one O(children) FS listing decides; the filter
    # partition-prunes, zero Exchange). This is what makes in-sink
    # auto-compaction actually flatten the steady-state batch cost.
    ids = _list_child_ids(spark, bands_path, "__batch_id=")
    if ids and not [i for i in ids if i not in (-1, exclude_batch_id)]:
        return (
            _read_idx_parquet(spark, bands_path)
            .filter(F.col("__batch_id").cast("long") == -1)
            .drop("__batch_id")
        )
    # the session factory disables partition type inference (partition
    # values read back as strings) — cast to long or "10" < "9" breaks
    # both the exclusion compare and the latest-wins max
    b = (
        _read_idx_parquet(spark, bands_path)
        .withColumn("__batch_id", F.col("__batch_id").cast("long"))
        .filter(F.col("__batch_id") != exclude_batch_id)
    )
    latest = b.groupBy("doc").agg(F.max("__batch_id").alias("__batch_id"))
    return b.join(latest, ["doc", "__batch_id"]).drop("__batch_id")


def init_dedup_admission_index(
    base_corpus: DataFrame,
    index_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 8,
    band_size: int = 2,
    max_doc_freq: int | None = 25,
) -> None:
    """One-time index bootstrap: shingle the base corpus ONCE, persist
    the postings, the df-capped band table, the hot log (the shingles
    already over the cap) and the df-count table (the base corpus's
    per-shingle document frequencies) under ``__batch_id=-1``. This is
    the only time the base corpus text is ever scanned by the indexed
    admission path. Idempotent (dynamic partition overwrite of the base
    partition), so a crash mid-bootstrap just re-runs it.

    Parameters must match the ``stream_dedup_admission`` call that will
    consume the index — the band layout (num_hashes × band_size) and the
    shingle width ``n`` are baked into the persisted rows.
    """
    from pyspark_ingestion_spark.operators.dedup import _hot_shingles, _shingle_table

    _check_index_cap(max_doc_freq)
    spark = base_corpus.sparkSession
    base = base_corpus.select(id_col, text_col)
    posts = _shingle_table(base, id_col, text_col, n)
    _write_batch_partition(posts, f"{index_path}/{_IDX_POSTINGS}", -1)
    # re-read what was just written so banding doesn't re-shingle the text
    stored = (
        _read_idx_parquet(spark, f"{index_path}/{_IDX_POSTINGS}")
        .filter(F.col("__batch_id").cast("long") == -1)
        .select("doc", "shingle")
    )
    capped = stored
    if max_doc_freq is not None:
        hot = F.broadcast(_hot_shingles(stored, max_doc_freq))
        capped = stored.join(hot, "shingle", "left_anti")
    ids = base.select(F.col(id_col).alias("doc"))
    rows = _index_band_rows(capped, ids, num_hashes, band_size)
    _write_batch_partition(rows, f"{index_path}/{_IDX_BANDS}", -1)
    cnt = stored.groupBy("shingle").agg(F.count(F.lit(1)).alias("cnt"))
    # same STRICT semantics as _hot_shingles: hot means df > cap.
    # WRITE ORDER IS LOAD-BEARING: the bootstrap-completion probe in
    # _admit_dedup_batch_indexed targets dfcnt, so dfcnt must be the
    # LAST table written — a crash between the hot write and the
    # dfcnt write re-runs the (idempotent) bootstrap, whereas the
    # reverse order would leave has_base=True with the hot seed
    # missing, a divergence the hot-transition maintenance can never repair
    # (its crossing filter requires prev <= cap, but the base counts
    # are already past it).
    base_hot = (
        cnt.filter(F.col("cnt") > F.lit(max_doc_freq)).select("shingle")
        if max_doc_freq is not None
        else cnt.filter(F.lit(False)).select("shingle")
    )
    _write_batch_partition(base_hot, f"{index_path}/{_IDX_HOT}", -1)
    _write_batch_partition(cnt, f"{index_path}/{_IDX_DFCNT}", -1)


def _check_index_cap(max_doc_freq: int | float | None) -> None:
    """The index's correctness rests on the hot set growing
    MONOTONICALLY — true for an integer df cap (counts only increase),
    false for a fractional cap (the threshold count itself moves with
    corpus size, so shingles can cross in either direction)."""
    if max_doc_freq is not None and (
        not isinstance(max_doc_freq, int) or isinstance(max_doc_freq, bool)
    ):
        raise ValueError(
            "the admission index requires an INTEGER max_doc_freq (or None): "
            "a fractional cap's hot set is not monotone — run the recompute "
            "form (index_path=None) for fractional caps"
        )


def _read_hot_log(
    spark: SparkSession, index_path: str, exclude_batch_id: int
) -> DataFrame:
    """The hot-shingle set as of the end of batch ``exclude_batch_id − 1``
    — the union of every earlier batch's transition rows. O(hot) rows:
    bounded by corpus_shingles / cap, NOT by the corpus. A hot table
    with no files yet (nothing has ever crossed the cap and the base had
    no hot shingles — dynamic partition overwrite writes nothing for an
    empty frame) reads as the empty set, not an error."""
    from pyspark.errors import AnalysisException

    try:
        hot = _read_idx_parquet(spark, f"{index_path}/{_IDX_HOT}")
    except AnalysisException:
        return spark.createDataFrame([], "shingle string")
    return (
        hot.filter(F.col("__batch_id").cast("long") != exclude_batch_id)
        .select("shingle")
        .distinct()
    )


def _indexed_rejects_hotlog(
    spark: SparkSession,
    batch: DataFrame,
    index_path: str,
    batch_id: int,
    id_col: str,
    n: int,
    num_hashes: int,
    band_size: int,
    threshold_num: int,
    threshold_den: int,
    max_doc_freq: int | None,
    max_bucket_size: int | None,
    text_col: str = "text",
    bucket_cap_mode: str = "drop",
    probe_salts: int = 4,
):
    """Index-driven admission for one micro-batch: the read path runs
    ZERO corpus-wide aggregates over POSTINGS. Returns ``(rejects, sb)``
    where ``rejects`` are the distinct batch ids to drop (same contract
    as ``incremental_lsh_rejects``) and ``sb`` is the batch's df-capped
    shingle table (reused by the sink to band the admitted docs without
    re-shingling). Module-level so tests can assert the plan property
    directly: NO input of this computation is the corpus text — only
    the index and the batch.

    Equivalence with the recompute form: the postings table holds
    exactly ``_shingle_table(corpus)`` (persisted at admission instead
    of re-derived), and the hot set is read from the persisted HOT LOG
    (O(hot) rows) broadcast into anti-joins on both sides. The df cap
    makes old docs' bands time-dependent (a shingle crossing the cap
    changes its docs' signatures), but staleness never needs detecting
    here: the batch that CAUSES a cap crossing re-bands the affected
    docs eagerly at write time (:func:`_hot_transitions_plan` +
    :func:`_hot_transition_rebands`), so by induction the band table
    read back at batch b is already correct w.r.t. the hot set through
    b − 1, which is exactly the set admission must use.

    Remaining per-batch corpus-sized work: the postings scan feeding
    the broadcast anti-join + the candidates-only verify (scans, no
    shuffle), and ONE corpus-sized shuffle — ``_read_latest_bands``'
    per-doc latest-version max over the band table (O(docs × n_bands)
    NARROW rows). Its roll-up is :func:`compact_admission_bands`, which
    folds the versioned partitions into the base so this max resolves
    over one version per doc. No corpus-text parse, no signature
    recompute.

    Bucket caps: drop mode anti-joins the oversized-bucket list away
    (the r7 guard); salt mode (r12) salts the corpus rows and hands the
    tail the bucket list so the batch side probes
    ``min(n_salts, probe_salts)`` sub-buckets. Both pay the SAME one
    corpus-band aggregate per batch (the oversized list) — salt adds
    only O(batch·probe_salts) replication on the broadcast-small batch
    side. Requires an integer df cap (hot-set monotonicity; validated at
    the entry points).
    """
    from pyspark_ingestion_spark.operators.dedup import (
        _drop_big_buckets,
        _lsh_admission_tail,
        _oversized_bucket_salts,
        _salt_corpus_bands,
        _shingle_table,
    )

    if bucket_cap_mode not in ("drop", "salt"):
        raise ValueError(
            f"bucket_cap_mode must be 'drop' or 'salt', got {bucket_cap_mode!r}"
        )

    posts = (
        _read_idx_parquet(spark, f"{index_path}/{_IDX_POSTINGS}")
        .filter(F.col("__batch_id").cast("long") != batch_id)
        .select("doc", "shingle")
    )
    sb = _shingle_table(batch, id_col, text_col, n)
    capped_c = posts
    if max_doc_freq is not None:
        hot = F.broadcast(_read_hot_log(spark, index_path, batch_id))
        capped_c = posts.join(hot, "shingle", "left_anti")
        sb = sb.join(hot, "shingle", "left_anti")
    band_rows = _read_latest_bands(
        spark, f"{index_path}/{_IDX_BANDS}", batch_id
    ).filter(F.col("band") >= 0).select("doc", "band", "band_key")
    if bucket_cap_mode == "salt" and max_bucket_size is not None:
        big_salts = _oversized_bucket_salts(band_rows, max_bucket_size)
        bands_c = _salt_corpus_bands(band_rows, big_salts)
        salt_probe = (big_salts, probe_salts)
    else:
        bands_c, salt_probe = _drop_big_buckets(band_rows, max_bucket_size), None
    rejects = _lsh_admission_tail(
        sb, capped_c, bands_c, id_col, num_hashes, band_size,
        threshold_num, threshold_den, broadcast_verify=True,
        salt_probe=salt_probe,
    )
    return rejects, sb


def _hot_transitions_plan(
    spark: SparkSession,
    index_path: str,
    batch_id: int,
    batch_cnt: DataFrame,
    cap: int,
) -> DataFrame:
    """The newly-hot shingle PLAN for one hotlog batch (no writes, no
    actions): shingles whose cumulative df crosses the cap with this
    batch's delta ``batch_cnt``. Split out of the old
    ``_apply_hot_transitions`` so the sink can kick off the dfcnt delta
    write CONCURRENTLY (guide §2.6): the previous-count aggregate
    excludes this batch's partition either way (the same exclusion the
    replay contract needs), and building the read HERE — before the
    delta write is submitted — pins its file listing to the pre-write
    directory state, so the concurrent commit can't race the listing.

    Cost: the delta aggregate is O(batch); the previous cumulative
    counts come from the dfcnt table restricted to the BATCH's shingles
    (broadcast semi-join — the table is scanned, never shuffled)."""
    written_cnt = (
        _read_idx_parquet(spark, f"{index_path}/{_IDX_DFCNT}")
        .withColumn("__batch_id", F.col("__batch_id").cast("long"))
    )
    prev = (
        written_cnt.filter(F.col("__batch_id") != batch_id)
        .join(F.broadcast(batch_cnt.select("shingle")), "shingle")
        .groupBy("shingle")
        .agg(F.sum("cnt").alias("prev"))
    )
    # hot ⟺ cumulative df STRICTLY exceeds the cap (_hot_shingles parity)
    return (
        batch_cnt.join(prev, "shingle", "left")
        .withColumn("prev", F.coalesce(F.col("prev"), F.lit(0)))
        .filter((F.col("prev") <= cap) & (F.col("prev") + F.col("cnt") > cap))
        .select("shingle")
    )


def _hot_transition_rebands(
    spark: SparkSession,
    index_path: str,
    newly_hot: DataFrame,
    num_hashes: int,
    band_size: int,
) -> DataFrame:
    """Re-band rows for every doc a cap crossing invalidated. Requires
    the batch's POSTINGS partition and its HOT transition partition to
    be fully written (the probes must see this batch's own postings and
    the transition shingles) — the sink joins those writes first; only
    when a shingle actually crosses does the postings table get probed
    (broadcast semi-join on the transition shingles)."""
    posts_all = _read_idx_parquet(spark, f"{index_path}/{_IDX_POSTINGS}").select(
        "doc", "shingle"
    )
    stale_ids = (
        posts_all.join(F.broadcast(newly_hot), "shingle").select("doc").distinct()
    )
    # -2 is never a batch id: reads the WHOLE log, i.e. hot_prev ∪ the
    # transition partition the sink just wrote
    hot_now = F.broadcast(_read_hot_log(spark, index_path, exclude_batch_id=-2))
    capped_all = posts_all.join(hot_now, "shingle", "left_anti")
    return _index_band_rows(
        capped_all.join(F.broadcast(stale_ids), "doc"),
        stale_ids,
        num_hashes,
        band_size,
    ).localCheckpoint(eager=False)


def _admit_dedup_batch_indexed(
    batch_df: DataFrame,
    batch_id: int,
    base_corpus: DataFrame,
    out_path: str,
    index_path: str,
    id_col: str,
    text_col: str,
    n: int,
    num_hashes: int,
    band_size: int,
    threshold_num: int,
    threshold_den: int,
    max_doc_freq: int | None,
    max_bucket_size: int | None,
    bucket_cap_mode: str = "drop",
    probe_salts: int = 4,
) -> None:
    """One micro-batch of indexed ``stream_dedup_admission``: admit via
    :func:`_indexed_rejects_hotlog`, then append the batch's text,
    postings, band rows, df-count delta and hot transitions — each to
    its own ``__batch_id`` partition under the replay contract of
    :func:`_run_admission_sink` (calling twice with the same
    ``batch_id`` reproduces, never erases) — re-banding eagerly any docs
    a cap crossing invalidated, which is what lets the NEXT batch's read
    path skip staleness detection. Module-level for direct replay
    testability."""
    from pyspark_ingestion_spark.operators.dedup import _shingle_table

    _check_index_cap(max_doc_freq)
    spark = batch_df.sparkSession
    # the probe targets dfcnt, not hot: a base corpus with no shingle at
    # the cap leaves the hot table legitimately EMPTY (no files at all),
    # and probing it would re-bootstrap every batch. dfcnt is also
    # written LAST in init_dedup_admission_index, so its base partition
    # existing implies the whole bootstrap completed. Bootstrap once;
    # the probe memoizes per process once True (r15, _has_base_partition)
    if not _has_base_partition(spark, f"{index_path}/{_IDX_DFCNT}"):
        # batch partitions land only after a completed bootstrap, so an
        # admitted batch here means the index lost (or, written by the
        # retired fingerprint mode, never had) its df counts; a
        # bootstrap would re-seed them from the base corpus alone and
        # undercount every admitted doc. out_path is listed too: a
        # compacted index keeps no batch partition of its own.
        seen = [
            b for p in (f"{index_path}/{_IDX_POSTINGS}", out_path)
            for b in _list_child_ids(spark, p, "__batch_id=") if b >= 0
        ]
        if seen:
            raise ValueError(
                f"admission index {index_path} has no dfcnt table but "
                f"admitted batches exist (ids {sorted(set(seen))[:3]}): it "
                "was written by the retired fingerprint index mode or lost "
                f"its df counts. Rebuild it: delete {index_path} and run "
                "init_dedup_admission_index over the base corpus plus the "
                f"documents admitted to {out_path}."
            )
        init_dedup_admission_index(
            base_corpus, index_path, id_col=id_col, text_col=text_col, n=n,
            num_hashes=num_hashes, band_size=band_size, max_doc_freq=max_doc_freq,
        )

    # materialize the incoming micro-batch ONCE (r14, guide §4): the
    # batch lineage fans out into every broadcast build (the rejects
    # subquery, the band/postings writes) and the admitted checkpoint —
    # each of which would otherwise re-evaluate the SOURCE. For a
    # Python-backed source (parallelized rows, a mapInPandas synth)
    # every re-evaluation pays the full JVM→Python round trip again
    # (measured ~3.3 s per evaluation at bench batch size, ×6 consumers
    # ≈ the whole steady-state batch); for a real stream source it is a
    # redundant re-read. One eager checkpoint = one source evaluation.
    batch = batch_df.select(id_col, text_col).localCheckpoint(eager=True)
    rejects, sb = _indexed_rejects_hotlog(
        spark, batch, index_path, batch_id, id_col, n, num_hashes, band_size,
        threshold_num, threshold_den, max_doc_freq, max_bucket_size,
        text_col=text_col, bucket_cap_mode=bucket_cap_mode, probe_salts=probe_salts,
    )
    # materialize once (batch-sized, EAGER): three writes derive from
    # it, the LogicalRDD plan keeps the text write from re-running the
    # LSH, and eager materialization makes the frame safe to consume
    # from the overlapped writes below (lazy first-use is not a
    # single-materialization point under concurrency)
    admitted = batch.join(F.broadcast(rejects), id_col, "left_anti").localCheckpoint(
        eager=True
    )
    # r15 (guide §2.6 — overlap independent jobs): the batch's writes
    # are independent of one another in the common no-crossing case —
    # admitted text (out_path), postings, the dfcnt delta, the fresh
    # band rows and the hot transitions share only eagerly-checkpointed
    # frames and write to disjoint tables, so the write side is bounded
    # by the slowest write instead of the sum of their per-job overheads
    # (~2.3 s/batch profiled at bench scale when sequential)
    adm_posts = _shingle_table(admitted, id_col, text_col, n)
    admitted_ids = admitted.select(F.col(id_col).alias("doc"))
    band_rows = _index_band_rows(
        sb.join(admitted_ids, "doc"), admitted_ids, num_hashes, band_size
    )
    batch_cnt = adm_posts.groupBy("shingle").agg(F.count(F.lit(1)).alias("cnt"))
    newly_hot_plan = None
    if max_doc_freq is not None:
        # built BEFORE the dfcnt delta write is submitted — the plan
        # excludes this batch's partition and pins its file listing
        # to the pre-write directory state (no commit/listing race)
        newly_hot_plan = _hot_transitions_plan(
            spark, index_path, batch_id, batch_cnt, max_doc_freq
        )
    bands_path = f"{index_path}/{_IDX_BANDS}"
    with _overlapped_writes(batch_id) as (submit, wait):
        submit("admitted-text", admitted, out_path)
        submit("postings", adm_posts, f"{index_path}/{_IDX_POSTINGS}")
        submit("dfcnt-delta", batch_cnt, f"{index_path}/{_IDX_DFCNT}")
        # optimistic fresh-band write: correct as-is unless a cap
        # crossing invalidates some docs' bands — the rare branch below
        # then overwrites the same partition with the replaced rows (a
        # crash in between raises, so the batch replays and rewrites the
        # partition either way)
        submit("bands", band_rows, bands_path)
        if newly_hot_plan is not None:
            # feeds the hot write + two probes
            newly_hot = newly_hot_plan.localCheckpoint(eager=False)
            submit("hot", newly_hot, f"{index_path}/{_IDX_HOT}")
            wait("hot")
            if newly_hot.head(1):  # bounded existence probe
                # rare crossing: the re-bands must see this batch's own
                # postings and the hot partition just written
                wait("postings", "bands")
                stale = _hot_transition_rebands(
                    spark, index_path, newly_hot, num_hashes, band_size
                )
                # the re-bands REPLACE this partition's fresh rows for
                # any of the batch's own docs the crossing invalidated —
                # both versions would land in the same partition, where
                # latest-wins cannot break the tie
                replaced = band_rows.join(
                    F.broadcast(stale.select("doc").distinct()), "doc", "left_anti"
                ).unionByName(stale)
                submit("bands", replaced, bands_path)


#: parquet schema memo for the per-batch index reads — METADATA only,
#: never results: an index table's column set is fixed for the life of
#: its path (append-only tables with a constant schema; compaction
#: rewrites rows, not columns), so only the FIRST read of a path pays
#: schema inference (a footer read + job, ~0.1 s at bench scale); every
#: later micro-batch passes the memoized schema and skips it. The
#: hotlog sink makes ~5 such reads per batch (guide §1.2 step 2).
_IDX_SCHEMA_CACHE: dict[str, object] = {}


def _read_idx_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet`` for an index table, with the schema
    memoized per path (see :data:`_IDX_SCHEMA_CACHE`). File listing
    still happens per call — only inference is skipped — so new
    partitions are always visible. A missing path raises exactly like
    the plain read (the schema is only cached after a successful
    read)."""
    schema = _IDX_SCHEMA_CACHE.get(path)
    if schema is not None:
        return spark.read.schema(schema).parquet(path)
    df = spark.read.parquet(path)
    _IDX_SCHEMA_CACHE[path] = df.schema
    return df


#: index paths whose bootstrap completion probe has read True once this
#: process (r15, metadata only): an index never becomes un-bootstrapped
#: within a process — init is idempotent, compaction preserves the base
#: partition — and the probe's crash-recovery contract is per-PROCESS
#: (a crash restarts the process and re-probes), so once True the
#: per-batch probe read + head(1) job (~0.15 s) carries no information.
_BOOTSTRAP_SEEN: set[str] = set()


def _has_base_partition(spark: SparkSession, path: str) -> bool:
    """True iff ``path`` has rows in its base (``__batch_id = -1``)
    partition — the admission sinks' bootstrap completion probe —
    memoized per process once True (never memoized False: an incomplete
    bootstrap must keep re-probing until init completes)."""
    from pyspark.errors import AnalysisException

    if path not in _BOOTSTRAP_SEEN:
        try:
            rows = (
                _read_idx_parquet(spark, path)
                .filter(F.col("__batch_id").cast("long") == -1)
                .head(1)
            )
        except AnalysisException:
            rows = []
        if rows:
            _BOOTSTRAP_SEEN.add(path)
    return path in _BOOTSTRAP_SEEN


def stream_token_cms(
    stream_df: DataFrame,
    cms_path: str,
    checkpoint: str,
    text_col: str = "text",
    depth: int = 4,
    width: int = 256,
    compact_every: int | None = None,
) -> None:
    """Incremental count-min-sketch maintenance over a document stream —
    the streaming form of `approx_topk_heavy_hitters`' sketch build, and
    the simplest possible demonstration of why mergeable sketches are
    the 100 TB streaming answer: each micro-batch computes ONLY its own
    delta cells (O(batch) — the corpus is never revisited, no staleness,
    no re-banding, nothing like the LSH index's cap transitions, because
    CMS cells are pure counters and counter merge is associative +
    commutative), writes them to its ``__batch_id`` partition under the
    sink's replay-overwrite contract (a replayed batch rewrites its own
    delta — idempotent), and the queryable sketch is just the cell-wise
    SUM over all partitions (:func:`read_token_cms`). Stream ≡ batch is
    EXACT, not approximate: the merged cells equal
    ``token_cms_cells(union of batches)`` cell for cell (pinned in
    tests/test_streaming.py, including restart + replay).

    At scale the delta per batch is ≤ depth×width rows (8 KB at 4×256)
    regardless of batch size, so the growth term is partition COUNT, not
    bytes; ``compact_every`` bounds it with the same in-sink protocol as
    the admission indexes — every N batches the committed delta
    partitions fold into the base by cell-wise SUM (exact by counter
    associativity, like the dfcnt merge; a major every time, since the
    whole table is ≤ depth×width rows — no LSM tiering needed),
    skip-mode for the replaying batch's own uncommitted partition.
    """
    from pyspark_ingestion_spark.operators.profiling import token_cms_cells

    # every compaction is a major: the major interval equals the minor one
    schedule = _compaction_schedule(cms_path, compact_every, compact_every)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if schedule(batch_id):
            compact_token_cms(
                batch_df.sparkSession, cms_path, checkpoint=checkpoint,
                on_uncommitted="skip",
            )
        delta = token_cms_cells(batch_df, text_col, depth, width)
        _write_batch_partition(delta, cms_path, batch_id)

    _run_foreach_batch(stream_df, checkpoint, sink)


def compact_token_cms(
    spark: SparkSession,
    cms_path: str,
    checkpoint: str | None = None,
    on_uncommitted: str = "raise",
) -> int:
    """Fold the CMS delta partitions into the base by cell-wise SUM —
    exact (counter associativity; :func:`read_token_cms` is the same sum
    over whatever partitions exist, so the merged sketch is invariant).
    Same write-ahead staging, commit guard (retention floor) and replay
    skip-mode as the admission-index compactions; always a major (the
    merged table is ≤ depth×width rows). Returns partitions removed."""
    return _compact_versioned_table(
        spark, cms_path, _fold_sum(spark, ["i", "bucket"], "cnt"), checkpoint,
        on_uncommitted,
    )


def read_token_cms(spark: SparkSession, cms_path: str) -> DataFrame:
    """The merged sketch: cell-wise sum of every batch's delta cells.
    Returns ``(i, bucket, cnt)`` — identical to ``token_cms_cells`` over
    the concatenated corpus, by counter associativity."""
    return (
        spark.read.parquet(cms_path)
        .groupBy("i", "bucket")
        .agg(F.sum("cnt").alias("cnt"))
    )


def _list_child_ids(spark: SparkSession, path: str, prefix: str) -> list[int]:
    """Integer-suffixed child entries of a directory via a Hadoop FS
    listing (any scheme) — O(children) METADATA calls, never a scan of
    the data under them. ``prefix=''`` matches bare-integer names
    (checkpoint ``commits/``); ``'__batch_id='`` matches partition dirs."""
    from pyspark_ingestion_spark.ingestion.watermark import _hadoop_fs

    _jvm, fs, jpath = _hadoop_fs(path, spark)
    if not fs.exists(jpath):
        return []
    ids = []
    for st in fs.listStatus(jpath):
        name = st.getPath().getName()
        if name.startswith(prefix):
            suffix = name[len(prefix):]
            if suffix.lstrip("-").isdigit():
                ids.append(int(suffix))
    return sorted(ids)


def compact_admission_bands(
    spark: SparkSession,
    index_path: str,
    checkpoint: str | None = None,
    on_uncommitted: str = "raise",
    mode: str = "major",
) -> int:
    """Operational maintenance for the admission index's ONE remaining
    corpus-sized shuffle: fold every versioned band partition into the
    base partition (``__batch_id=-1``) and drop the per-batch
    partitions, so the per-batch latest-version resolution
    (:func:`_read_latest_bands`' per-doc max) runs over exactly one
    version per doc — a near-free aggregate instead of a
    versions-deep one. Run BETWEEN streaming increments (no admission
    batch in flight), on whatever cadence the batch count warrants;
    returns the number of batch partitions removed.

    Durability is WRITE-AHEAD STAGING, because the base-partition
    overwrite is not atomic (dynamic overwrite deletes the old dir
    before committing new files) and docs banded only at bootstrap
    exist nowhere else: (1) resolve latest across all versions and
    write the merged rows to a staging dir, then its ``manifest.json``
    (tmp→rename — the commit marker recording exactly which partition
    ids are covered); (2) overwrite ``__batch_id=-1`` FROM the staging
    parquet (a durable source, not executor memory); (3) delete
    exactly the covered partitions, then staging. A crash anywhere
    re-runs to completion: before the manifest, bands are untouched
    and the run recomputes; after it, the run RESUMES from staging —
    rewriting the base and finishing the deletes, all idempotent, and
    never touching batches that landed after the crashed attempt
    (the covered list pins the delete set). Partition ids come from an
    FS dir listing, never a scan of the corpus-sized table.

    ``checkpoint`` (recommended): the admission stream's checkpoint
    location. When given, a band partition with no commit marker in
    ``<checkpoint>/commits`` — a possibly-replaying batch whose rows
    must never fold into the base, or the replay read's ``!= batch_id``
    self-exclusion breaks — is either refused wholesale
    (``on_uncommitted="raise"``, the offline default) or left out of
    the fold (``on_uncommitted="skip"`` — the IN-SINK form: a sink
    compacting at the start of batch b runs before b's own commit
    marker exists, so on a replay b's partitions are on disk
    uncommitted and must simply be skipped, not crash the stream).
    Without ``checkpoint`` the caller owns that guarantee.

    This folds bands only; :func:`compact_admission_index` additionally
    folds postings (plain concat — committed partitions can never
    replay, so the ledger folds under the same guard) and the dfcnt/hot
    tables.
    """

    def merge(path: str, keep_ids: list[int]) -> DataFrame:
        b = _kept_rows(spark, path, keep_ids).withColumn(
            "__batch_id", F.col("__batch_id").cast("long")
        )
        latest = b.groupBy("doc").agg(F.max("__batch_id").alias("__batch_id"))
        return b.join(latest, ["doc", "__batch_id"]).drop("__batch_id")

    return _compact_versioned_table(
        spark, f"{index_path}/{_IDX_BANDS}", merge, checkpoint, on_uncommitted, mode
    )


def compact_admission_index(
    spark: SparkSession,
    index_path: str,
    checkpoint: str | None = None,
    on_uncommitted: str = "raise",
    mode: str = "major",
) -> dict[str, int]:
    """Compact every table of the admission index that grows a
    partition per batch: ``bands`` (latest-wins merge), ``postings``
    (plain concatenation — rows are disjoint across partitions since a
    doc is admitted once), ``dfcnt`` (per-shingle SUM merge: each
    partition holds a df-count delta, so the fold is exact counter
    addition, and without it every batch's :func:`_hot_transitions_plan`
    scans O(shingles × batches) delta rows — a per-batch cost growing
    with stream LENGTH) and ``hot`` (distinct-union merge). Same
    write-ahead staging protocol, same ``checkpoint`` commit guard, same
    precondition as :func:`compact_admission_bands` for each table; a
    table with no batch partitions (or no files) folds to 0. Returns
    table → partitions removed.

    Postings folding note (r7): round 6 kept postings append-only on
    the theory that batch ownership was their replay contract — but the
    commit guard already restricts folding to COMMITTED partitions, and
    a committed batch can never replay (the same invariant bands rely
    on), so the ledger folds safely. It matters because the per-batch
    postings scan otherwise reads O(batches) small files — measured as
    the growth term BOTH compacted and uncompacted arms shared before
    this fold existed (SCALING.md r7 A/B).
    """
    removed = {
        "bands": compact_admission_bands(
            spark, index_path, checkpoint, on_uncommitted, mode
        )
    }

    folds = [
        (_IDX_POSTINGS, _fold_concat(spark, "doc", "shingle")),
        (_IDX_DFCNT, _fold_sum(spark, "shingle", "cnt")),
        (
            _IDX_HOT,
            lambda path, ids: _kept_rows(spark, path, ids).select("shingle").distinct(),
        ),
    ]
    for table, fold in folds:
        removed[table] = _compact_versioned_table(
            spark, f"{index_path}/{table}", fold, checkpoint, on_uncommitted, mode
        )
    return removed


def _kept_rows(spark: SparkSession, path: str, keep_ids: list[int]) -> DataFrame:
    """The rows of ``path``'s partitions ``keep_ids`` — the input of a
    :func:`_compact_versioned_table` merge."""
    return spark.read.parquet(path).filter(
        F.col("__batch_id").cast("long").isin(keep_ids)
    )


def _fold_concat(spark: SparkSession, *cols: str):
    """Merge function for tables whose rows are disjoint across
    partitions (append-only indexes): plain concatenation."""
    return lambda path, ids: _kept_rows(spark, path, ids).select(*cols)


def _fold_sum(spark: SparkSession, key, col: str):
    """Merge function for counter-delta tables: per-``key`` SUM of
    ``col`` — exact by counter associativity."""
    return lambda path, ids: (
        _kept_rows(spark, path, ids).groupBy(key).agg(F.sum(col).alias(col))
    )


def _compact_versioned_table(
    spark: SparkSession,
    table_path: str,
    merge_fn,
    checkpoint: str | None,
    on_uncommitted: str = "raise",
    mode: str = "major",
) -> int:
    """Write-ahead-staged fold of a ``__batch_id``-partitioned table.
    ``merge_fn(table_path, keep_ids)`` produces
    the merged current rows (WITHOUT ``__batch_id``) from exactly the
    partitions in ``keep_ids`` — the fold is PINNED to the covered set,
    so a partition landing mid-merge can never leak rows into the base
    while surviving the delete (the silent dfcnt double-count ADVICE r6
    flagged). Protocol and crash analysis per
    :func:`compact_admission_bands`'s docstring: staging parquet →
    ``_manifest.json`` commit marker (covered partition ids + target) →
    target overwrite FROM staging → covered deletes → staging delete; a
    re-run before the manifest recomputes, after it resumes, and never
    touches partitions that landed after a crashed attempt.

    ``mode`` picks the LSM level (write-amplification trade):

    - ``"major"``: fold EVERYTHING (deltas and segments) into the base
      partition (−1). One version per doc afterwards, but the rewrite
      is O(current table) — schedule by write budget.
    - ``"minor"``: fold only the per-batch DELTA partitions since the
      last minor (segment partitions — marked by a ``_segment`` file —
      and the base are left untouched) into ONE segment whose id is
      ``max(covered)``. Rewrite cost is O(deltas), NOT O(table) — the
      level a per-batch in-sink cadence can afford at 100 TB. The id
      choice is what keeps the bands latest-wins max correct: the
      merge already resolved latest WITHIN the fold, and max(covered)
      is ≥ every folded version and < any later batch, so cross-
      partition resolution is unchanged; order-free merges (postings
      concat, dfcnt sum, hot union) don't care. Segment ids are real
      committed batch ids, so the checkpoint commit guard keeps
      working untouched. Partition count after k minors: k segments +
      up-to-interval deltas — a major (or a re-minor over segments is
      NOT possible; majors collapse segments) bounds k.
    """
    from pyspark_ingestion_spark.ingestion.watermark import _hadoop_fs

    if on_uncommitted not in ("raise", "skip"):
        raise ValueError(f"unknown on_uncommitted {on_uncommitted!r}")
    if mode not in ("major", "minor"):
        raise ValueError(f"unknown compaction mode {mode!r}")
    staging = f"{table_path}__compact_staging"

    def _is_segment(b: int) -> bool:
        _j, sfs2, mpath = _hadoop_fs(
            f"{table_path}/__batch_id={b}/_segment", spark
        )
        return sfs2.exists(mpath)

    # underscore prefix: Spark's file index skips _-prefixed files, so
    # the marker can live inside the staging dir without breaking the
    # parquet read-back
    manifest = f"{staging}/_manifest.json"
    plan = read_state_json(manifest, spark)
    if plan is not None:  # resume a crashed run: staging is the plan
        covered = plan["covered"]
        target = plan.get("target", -1)
    else:
        covered = [
            b for b in _list_child_ids(spark, table_path, "__batch_id=")
            if b != -1
        ]
        if mode == "minor":
            covered = [b for b in covered if not _is_segment(b)]
        if checkpoint is not None:
            committed = set(_list_child_ids(spark, f"{checkpoint}/commits", ""))
            # Spark PURGES commit-log entries beyond
            # spark.sql.streaming.minBatchesToRetain (default 100), so
            # absence from commits/ does not mean uncommitted for OLD
            # batches. The log is strictly sequential: anything older
            # than the oldest retained entry must have committed (it can
            # never be in flight again). Without this floor, long-lived
            # segments would be misclassified forever — skip-mode majors
            # would silently never fold them (unbounded segment growth,
            # the exact thing majors exist to bound) and raise-mode
            # offline compaction would fail spuriously (r7 review).
            floor = min(committed) if committed else None
            uncommitted = [
                b for b in covered
                if b not in committed and (floor is None or b >= floor)
            ]
            if uncommitted and on_uncommitted == "raise":
                raise ValueError(
                    f"partitions {uncommitted} of {table_path} have no commit "
                    f"marker in {checkpoint}/commits — compacting them would "
                    "fold a possibly-replaying batch's rows into the base and "
                    "defeat its replay self-exclusion. Let the stream commit "
                    "(or replay) first."
                )
            covered = [b for b in covered if b not in uncommitted]
        if not covered or (mode == "minor" and len(covered) < 2):
            return 0
        target = -1 if mode == "major" else max(covered)
        merge_base = [-1] if mode == "major" else []
        merge_fn(table_path, covered + merge_base).write.mode("overwrite").parquet(
            staging
        )
        # Defense-in-depth for the OFFLINE precondition: the keep-filter
        # above already pins the staged rows to the covered set, so a
        # partition landing mid-merge can no longer double-count — but a
        # landing still means a live stream read the bands table inside
        # this run's target-overwrite window (where the target dir is
        # briefly absent), so surface it instead of proceeding.
        # Pre-manifest, deleting staging rolls the whole attempt back.
        landed = [
            b for b in _list_child_ids(spark, table_path, "__batch_id=")
            if b != -1 and b not in covered
            and not (mode == "minor" and _is_segment(b))
        ]
        if landed and on_uncommitted == "raise":
            _jvm4, afs, apath = _hadoop_fs(staging, spark)
            afs.delete(apath, True)
            raise RuntimeError(
                f"compaction aborted: partitions {landed} of {table_path} "
                "landed during the merge scan — a streaming batch committed "
                "mid-compaction. Staging was rolled back; re-run when the "
                "stream is quiescent (or from inside the sink, where "
                "foreachBatch serializes against admission writes)."
            )
        # commit marker: staging is durable
        write_state_json(manifest, {"covered": covered, "target": target}, spark)

    merged = spark.read.parquet(staging).drop("__batch_id")
    _write_batch_partition(merged, table_path, target)
    if target != -1:  # mark the folded partition as a segment
        _jvm5, mfs, mpath = _hadoop_fs(
            f"{table_path}/__batch_id={target}/_segment", spark
        )
        mfs.create(mpath, True).close()
    for b in covered:
        if b == target:
            continue  # the target partition now holds the merged rows
        _jvm2, pfs, ppath = _hadoop_fs(f"{table_path}/__batch_id={b}", spark)
        pfs.delete(ppath, True)
    _jvm3, sfs, spath = _hadoop_fs(staging, spark)
    sfs.delete(spath, True)
    return len(covered)


# ------------------------------------ exact-substring streaming admission

#: the substring admission index: the corpus's UNCAPPED window table,
#: one partition per batch (base rows in ``__batch_id=-1``), carrying
#: the k-char window STRING alongside its fingerprint. Storing ``w``
#: makes per-batch verification a stored-string compare — the read path
#: never reopens corpus text, not even for candidates (the LSH index
#: can't do this: Jaccard verify needs whole shingle sets; an exact
#: window IS its own verifier). Rows are append-only — the df cap is
#: applied at READ time, so nothing is ever re-banded or versioned;
#: every partition-fold level (compact_substring_index's LSM minors and
#: majors) is therefore plain order-free concatenation under the shared
#: write-ahead/commit-guard protocol, and partitions DO get deleted and
#: rewritten by it. Size: ~(8 + k) bytes per indexed
#: char position — the production path sets ``sample_mod`` (content-
#: defined sampling, see operators/dedup.substring_window_table), which
#: divides the row count while keeping alignment-independent detection.
_IDX_WINDOWS = "windows"

#: the substring index's window-df LEDGER (r8, clearing the r7 weak
#: flag): one ``(wh, cnt)`` partition per batch, where ``cnt`` is the
#: number of DISTINCT docs carrying that window hash within the
#: partition's rows. Docs are disjoint across partitions (a doc is
#: admitted exactly once and the windows index is append-only), so the
#: corpus-wide window document-frequency is the plain SUM of ``cnt``
#: over partitions — which is why compaction can fold deltas by exact
#: counter addition (same invariant as the LSH hotlog's dfcnt,
#: ``compact_admission_index``). The read path never aggregates the
#: corpus-sized windows table again: hotness is resolved from this
#: narrow ledger RESTRICTED to the batch's own window hashes (broadcast
#: semi-join — the ledger is scanned, never shuffled), so the per-batch
#: hot computation is O(batch ∩ ledger), not O(corpus windows). No
#: transition log is needed (unlike the LSH hotlog): the cap is applied
#: at READ time, so nothing persisted ever goes stale when a window
#: crosses it.
_IDX_WDFCNT = "dfcnt"


def _windows_with_text(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int,
    sample_mod: int | None,
    broadcast_texts: bool = False,
) -> DataFrame:
    """``substring_window_table`` rows plus the window string itself:
    (doc, pos, wh, w). One extra join against the input's own text —
    never the corpus's. ``broadcast_texts=True`` (the per-BATCH call
    sites) pins that join to a broadcast hash join so a micro-batch
    plan never sort-merges even batch-sized frames; the bootstrap call
    windows the whole base corpus and must NOT broadcast it."""
    from pyspark_ingestion_spark.operators.dedup import substring_window_table

    wt = substring_window_table(df, id_col, text_col, k, sample_mod)
    texts = df.select(F.col(id_col).alias("doc"), F.col(text_col).alias("__t"))
    if broadcast_texts:
        texts = F.broadcast(texts)
    return wt.join(texts, "doc").select(
        "doc",
        "pos",
        "wh",
        F.substring(F.col("__t"), F.col("pos").cast("int"), F.lit(k)).alias("w"),
    )


def _validate_substring_params(k: int, min_len: int, sample_mod: int | None) -> None:
    """Same contract as ``operators.dedup.incremental_substring_rejects``
    (its docstring explains both refusals)."""
    if min_len < k:
        raise ValueError(f"min_len ({min_len}) must be >= k ({k})")
    if sample_mod is not None and min_len > k:
        raise ValueError(
            f"min_len={min_len} > k={k} cannot be combined with sample_mod: "
            "run assembly needs consecutive window positions, which sampling "
            "destroys — admission would silently reject (almost) nothing."
        )


def init_substring_admission_index(
    base_corpus: DataFrame,
    index_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 20,
    sample_mod: int | None = None,
) -> None:
    """One-time bootstrap of the substring admission index: window the
    base corpus ONCE into ``__batch_id=-1`` and seed the window-df
    ledger (``dfcnt``) from what was written. The only time the indexed
    path ever scans base text. Idempotent (dynamic partition overwrite),
    so a crash mid-bootstrap just re-runs.

    WRITE ORDER IS LOAD-BEARING (same reasoning as the LSH hotlog
    bootstrap): the bootstrap-completion probe in
    ``_admit_substring_batch_indexed`` targets the dfcnt base partition,
    so dfcnt must be written LAST — a crash between the windows write
    and the dfcnt write leaves the probe false, and the repair path
    (:func:`backfill_substring_dfcnt`) recomputes the ledger from the
    windows partitions already on disk."""

    spark = base_corpus.sparkSession
    rows = _windows_with_text(
        base_corpus.select(id_col, text_col), id_col, text_col, k, sample_mod
    )
    _write_batch_partition(rows, f"{index_path}/{_IDX_WINDOWS}", -1)
    # seed the ledger from the STORED rows so the counts are exactly the
    # persisted table's (and the base text is not re-windowed)
    stored = (
        _read_idx_parquet(spark, f"{index_path}/{_IDX_WINDOWS}")
        .filter(F.col("__batch_id").cast("long") == -1)
        .select("doc", "wh")
    )
    cnt = stored.groupBy("wh").agg(F.count_distinct("doc").alias("cnt"))
    _write_batch_partition(cnt, f"{index_path}/{_IDX_WDFCNT}", -1)


def backfill_substring_dfcnt(spark: SparkSession, index_path: str) -> int:
    """One-time ledger repair/upgrade: (re)derive one ``dfcnt`` partition
    per EXISTING windows partition — per-partition distinct-doc counts,
    written with partition-aligned dynamic overwrite so each count row
    keeps the batch ownership its windows partition has (replay of an
    uncommitted batch overwrites both in lockstep). Covers two cases:
    a pre-ledger index being upgraded, and a crash between the bootstrap's
    windows and dfcnt writes. O(index) once; returns partitions written."""
    from pyspark_ingestion_spark.sources.writers import overwrite_partitions

    ids = _list_child_ids(spark, f"{index_path}/{_IDX_WINDOWS}", "__batch_id=")
    if not ids:
        return 0
    cnt = (
        _read_idx_parquet(spark, f"{index_path}/{_IDX_WINDOWS}")
        .groupBy(F.col("__batch_id").cast("long").alias("__batch_id"), "wh")
        .agg(F.count_distinct("doc").alias("cnt"))
        .select("wh", "cnt", "__batch_id")
    )
    overwrite_partitions(cnt, f"{index_path}/{_IDX_WDFCNT}", ["__batch_id"])
    return len(ids)


def _substring_hot_windows(
    spark: SparkSession,
    index_path: str,
    batch_id: int,
    batch_windows: DataFrame,
    max_window_df: int,
) -> DataFrame:
    """The batch-relevant hot-window set from the dfcnt ledger: window
    hashes PRESENT IN THE BATCH whose corpus document frequency exceeds
    the cap. Restricting to the batch's hashes first (broadcast
    semi-join — the ledger is scanned, never shuffled) is what keeps the
    aggregate batch-bounded; it is also lossless, because hotness only
    matters where a batch window can collide with a corpus one, i.e. on
    the join keys the batch itself carries. Raises AnalysisException,
    naming the path, when the ledger does not exist: the sink's
    bootstrap backfills a ledger-less index before any read."""
    bw = batch_windows.select("wh").distinct()
    dfc = (
        _read_idx_parquet(spark, f"{index_path}/{_IDX_WDFCNT}")
        .filter(F.col("__batch_id").cast("long") != batch_id)
        .select("wh", "cnt")
    )
    return (
        dfc.join(F.broadcast(bw), "wh")
        .groupBy("wh")
        .agg(F.sum("cnt").alias("__df"))
        .filter(F.col("__df") > max_window_df)
        .select("wh")
    )


def _substring_rejects_indexed(
    spark: SparkSession,
    batch: DataFrame,
    index_path: str,
    batch_id: int,
    id_col: str,
    text_col: str,
    k: int,
    min_len: int,
    max_window_df: int | None,
    sample_mod: int | None,
):
    """Index-driven exact-substring admission for one micro-batch.
    Returns ``(rejects, wb_raw)`` — the distinct batch ids to drop, and
    the batch's UNCAPPED window rows (with strings), reused by the
    sink's index write. Returning the uncapped rows is load-bearing
    twice over (r7 review): (1) CORRECTNESS — the index's contract is
    "exactly ``substring_window_table(corpus)``, cap applied at READ
    time"; persisting capped rows would silently drop an admitted doc's
    currently-hot windows from the ledger forever, so a later run with
    a different (or no) cap would diverge from the recompute form;
    (2) COST — the capped frame's plan contains the hot-window lookup
    (ledger scan + anti-join), so writing it would re-run that lookup
    per batch, while the uncapped frame's plan is batch-sized; and the
    UNCAPPED rows are what the dfcnt ledger delta must count, or a
    later cap change would read wrong frequencies.

    Equivalence with ``incremental_substring_rejects``: the index holds
    exactly the corpus's uncapped window table (persisted at admission
    instead of re-derived), the ledger's per-hash SUM equals the
    corpus-side ``count_distinct`` the recompute form measures (docs are
    disjoint across partitions), candidates collide on the same 60-bit
    fingerprints, and
    the exact verify compares the same two k-char substrings — one
    re-extracted from the batch text in hand, one STORED at indexing
    time (a string equals its stored copy, so the verify is identical).
    Module-level so tests can pin the plan property: NO input of this
    computation is corpus text — only the windows index and the batch.

    Per-batch cost: O(batch windows ⋈ index), and — r8, clearing the r7
    weak flag — the window-df cap resolves from the ``dfcnt`` ledger
    restricted to the batch's own hashes (broadcast semi-join over
    narrow rows: the ledger is scanned, never shuffled, and the
    aggregate is batch-bounded), so the plan's only corpus-sized inputs
    are SCANS; the corpus-wide ``count_distinct`` over the windows table
    is gone. The hot anti-join is applied to the batch side only: the
    candidate join keys on ``wh``, so a hash absent from ``wb`` can
    produce no candidate regardless of ``wc`` — dropping it from the
    corpus side too (what the recompute form does) is join-key-redundant
    and would cost a second corpus-sized anti-join. Replay
    self-exclusion mirrors the LSH index: both reads drop the current
    batch id's partition."""
    _validate_substring_params(k, min_len, sample_mod)
    wc = (
        _read_idx_parquet(spark, f"{index_path}/{_IDX_WINDOWS}")
        .filter(F.col("__batch_id").cast("long") != batch_id)
        .select("doc", "pos", "wh", "w")
    )
    # checkpointed once: the frame feeds the hot lookup's distinct, the
    # candidate join's broadcast build AND (via the admit function) the
    # windows/dfcnt writes — without the cut, the window fan-out and its
    # broadcast builds re-run per reference (measured +40%/batch at toy
    # scale). Caveat, observed and accounted for: a LogicalRDD carries
    # no size stats, so on a TOY corpus the planner may inject runtime
    # bloom filters built from the windows scan to prune this frame;
    # at any real corpus size the creation-side threshold (10 MB,
    # spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold)
    # forbids building a bloom from the corpus-sized scan, so the
    # steady-state plan stays scans-plus-batch-shuffles (the structural
    # pin in tests disables bloom injection to assert exactly that
    # shape). Every join against this frame is an explicit broadcast,
    # so the missing stats can never flip a join side.
    wb_raw = _windows_with_text(
        batch, id_col, text_col, k, sample_mod, broadcast_texts=True
    ).localCheckpoint(eager=False)
    wb = wb_raw
    if max_window_df is not None:
        hot = _substring_hot_windows(spark, index_path, batch_id, wb_raw, max_window_df)
        wb = wb.join(F.broadcast(hot), "wh", "left_anti")
    # the candidate join BROADCASTS the batch windows explicitly: the
    # corpus-sized windows index must only ever be the streamed/scanned
    # side, never shuffled or size-guessed into the build side (batch
    # frames often carry no stats, and a stats miss here would cost a
    # corpus-wide Exchange per micro-batch — plan-pinned in tests)
    cand = F.broadcast(
        wb.select(
            F.col("doc").alias("__bid"), F.col("pos").alias("pos_b"), "wh",
            F.col("w").alias("__wb"),
        )
    ).join(
        wc.select(
            F.col("doc").alias("__cid"), F.col("pos").alias("pos_c"), "wh",
            F.col("w").alias("__wc"),
        ),
        "wh",
    )
    verified = cand.filter(F.col("__wb") == F.col("__wc")).select(
        "__bid", "__cid", "pos_b", "pos_c"
    )
    if min_len <= k:
        rejects = verified.select(F.col("__bid").alias(id_col)).distinct()
        return rejects, wb_raw
    from pyspark.sql import Window

    diag = (F.col("pos_b") - F.col("pos_c")).alias("__diag")
    w_run = Window.partitionBy("__bid", "__cid", "__diag").orderBy("pos_b")
    runs = verified.select("__bid", "__cid", "pos_b", diag).withColumn(
        "__isl", F.col("pos_b") - F.row_number().over(w_run)
    )
    long_enough = (
        runs.groupBy("__bid", "__cid", "__diag", "__isl")
        .agg((F.max("pos_b") - F.min("pos_b") + k).alias("__len"))
        .filter(F.col("__len") >= min_len)
    )
    rejects = long_enough.select(F.col("__bid").alias(id_col)).distinct()
    return rejects, wb_raw


def _admit_substring_batch_indexed(
    batch_df: DataFrame,
    batch_id: int,
    base_corpus: DataFrame,
    out_path: str,
    index_path: str,
    id_col: str,
    text_col: str,
    k: int,
    min_len: int,
    max_window_df: int | None,
    sample_mod: int | None,
) -> None:
    """One micro-batch of indexed ``stream_substring_admission``: admit
    via :func:`_substring_rejects_indexed`, then append the admitted
    docs' text, window rows and window-df ledger delta — each to its own
    ``__batch_id`` partition under the replay contract of
    :func:`_run_admission_sink`. Module-level for direct replay
    testability."""
    spark = batch_df.sparkSession
    # bootstrap once; the completion probe memoizes per process once
    # True (r15, _has_base_partition). It targets the LEDGER (written
    # last by init) so a crash inside the bootstrap window re-runs it; a
    # windows base WITHOUT a ledger base is a pre-ledger index (or that
    # same crash) and gets the O(index) one-time backfill instead of a
    # full re-bootstrap.
    if not _has_base_partition(spark, f"{index_path}/{_IDX_WDFCNT}"):
        if _has_base_partition(spark, f"{index_path}/{_IDX_WINDOWS}"):
            backfill_substring_dfcnt(spark, index_path)
        else:
            init_substring_admission_index(
                base_corpus, index_path, id_col=id_col, text_col=text_col, k=k,
                sample_mod=sample_mod,
            )

    # one source evaluation per batch (r14, guide §4 — same reasoning
    # as _admit_dedup_batch_indexed): the batch feeds the window table,
    # the rejects broadcast and the admitted anti-join
    batch = batch_df.select(id_col, text_col).localCheckpoint(eager=True)
    rejects, wb = _substring_rejects_indexed(
        spark, batch, index_path, batch_id, id_col, text_col, k, min_len,
        max_window_df, sample_mod,
    )
    # batch-sized; the out/windows/dfcnt writes all derive from it — cut
    # lineage once (EAGER: a lazy first-use is not a single-
    # materialization point under the write overlap below) so none of
    # them re-runs the candidate join
    admitted = batch.join(F.broadcast(rejects), id_col, "left_anti").localCheckpoint(
        eager=True
    )
    adm_windows = wb.join(
        F.broadcast(admitted.select(F.col(id_col).alias("doc"))), "doc"
    ).localCheckpoint(eager=True)  # feeds the windows write AND the ledger delta
    # the batch's window-df delta: distinct docs per hash WITHIN this
    # partition (docs are disjoint across partitions, so read-side SUM
    # over partitions is the exact corpus df). Deterministic from the
    # batch → a replay overwrites it in lockstep with the windows rows.
    delta = adm_windows.groupBy("wh").agg(F.count_distinct("doc").alias("cnt"))
    # r15 (guide §2.6): the three writes are mutually independent — they
    # derive from eagerly-checkpointed frames and land in disjoint tables
    with _overlapped_writes(batch_id) as (submit, _wait):
        submit("admitted-text", admitted, out_path)
        submit("windows", adm_windows, f"{index_path}/{_IDX_WINDOWS}")
        submit("dfcnt", delta, f"{index_path}/{_IDX_WDFCNT}")


def stream_substring_admission(
    stream_df: DataFrame,
    base_corpus: DataFrame,
    out_path: str,
    checkpoint: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 20,
    min_len: int | None = None,
    max_window_df: int | None = None,
    sample_mod: int | None = None,
    index_path: str | None = None,
    compact_every: int | None = None,
    compact_major_every: int | None = None,
) -> None:
    """Continuous EXACT-SUBSTRING admission — the substring member of
    the streaming admission trio (LSH: :func:`stream_dedup_admission`;
    the semantic member's batch-incremental form is
    ``queries/llm_ops.dedup_incremental_semantic``): each micro-batch
    rejects docs sharing a verified substring of ≥ ``min_len`` chars
    (default ``k``) with the growing corpus (base + everything admitted
    so far), and appends the survivors. Semantics per micro-batch match
    a sequential loop of ``operators.dedup.incremental_substring_rejects``
    over the same batches (equivalence pinned in tests/test_streaming.py,
    including restart + replay). Batch loop, replay contract and
    compaction schedule: :func:`_run_admission_sink`.

    With ``index_path`` (the PRODUCTION form) the corpus window table is
    maintained incrementally next to the corpus and carries the window
    strings, so no micro-batch ever re-windows — or even reads — the
    corpus text (plan-proved in tests); without it the recompute form
    re-derives the corpus window table from (base ∪ admitted) each
    batch. 100 TB shape: set ``sample_mod`` — content-defined window
    sampling divides index size and join fan-in while keeping detection
    alignment-independent.

    With ``max_window_df`` the per-batch hot-window lookup resolves from
    the incrementally-maintained ``dfcnt`` ledger restricted to the
    batch's own window hashes (r8) — never a corpus-wide aggregate over
    the windows table (the r7 weak flag; SCALING.md r8 carries the A/B).

    ``compact_every`` / ``compact_major_every`` fold the index with
    :func:`compact_substring_index` (plain concatenation for the
    windows, exact counter SUM for the dfcnt deltas). Without it the
    per-batch index scan reads O(batches) small files — the growth term
    the LSH A/B measured (SCALING.md r7)."""
    from pyspark_ingestion_spark.operators.dedup import incremental_substring_rejects

    eff_min_len = k if min_len is None else min_len
    _validate_substring_params(k, eff_min_len, sample_mod)
    schedule = _compaction_schedule(index_path, compact_every, compact_major_every)
    kw = dict(
        id_col=id_col, text_col=text_col, k=k, min_len=eff_min_len,
        max_window_df=max_window_df, sample_mod=sample_mod,
    )
    _run_admission_sink(
        stream_df, checkpoint, index_path, schedule, compact_substring_index,
        lambda b, i: _admit_substring_batch_indexed(
            b, i, base_corpus, out_path, index_path, **kw
        ),
        lambda b, i: _admit_recompute(
            b.select(id_col, text_col), i, base_corpus, out_path,
            (id_col, text_col),
            lambda corpus, batch: incremental_substring_rejects(
                corpus, batch, **kw
            ),
        ),
    )


def compact_substring_index(
    spark: SparkSession,
    index_path: str,
    checkpoint: str | None = None,
    on_uncommitted: str = "raise",
    mode: str = "major",
) -> dict[str, int]:
    """Fold the substring admission index's per-batch partitions:
    ``windows`` by plain concatenation (rows are disjoint across
    partitions: a doc is admitted once and the index is append-only, so
    every merge level is order-free) and the ``dfcnt`` window-df deltas
    by exact per-hash counter SUM (the same associativity argument as
    ``compact_admission_index``'s dfcnt fold; without it the per-batch
    hot lookup scans O(batches) small delta files). Same write-ahead
    staging, commit guard (with the retention floor) and LSM minor/major
    tiers as :func:`compact_admission_index`; returns table → partitions
    removed (0 for a table with no batch partitions)."""
    folds = [
        (_IDX_WINDOWS, _fold_concat(spark, "doc", "pos", "wh", "w")),
        (_IDX_WDFCNT, _fold_sum(spark, "wh", "cnt")),
    ]
    return {
        table: _compact_versioned_table(
            spark, f"{index_path}/{table}", fold, checkpoint, on_uncommitted, mode
        )
        for table, fold in folds
    }


# ------------------------------------ semantic (embedding) streaming admission

#: the semantic admission index: the corpus's sign-bucketed embedding
#: table — (doc, bucket, vec, norm), one partition per batch (base rows
#: in ``__batch_id=-1``). Storing the vector AND its norm alongside the
#: bucket makes the per-batch cosine verify a stored-value computation:
#: the read path never reopens the corpus embedding source (same design
#: move as the substring index storing the window strings). The index
#: is append-only with NO staleness of any kind — a vector's bucket and
#: norm never change (unlike the LSH df cap there is no corpus-dependent
#: state in the signature), so every compaction level is plain
#: order-free concatenation and no ledger/hotlog is needed. Size:
#: one row per corpus vector (dim doubles + 16 bytes).
_IDX_BUCKETS = "buckets"

#: the trained coarse quantizer (centroid_id, cvec), persisted beside
#: the buckets table at bootstrap. Its PRESENCE selects the bucket
#: function for the whole index lifetime: every read and write derives
#: buckets from these stored centroids (never from whatever the caller
#: passes later), so the bucket column's meaning — part of the index
#: signature, like the substring index's window params — can never
#: drift between producer and consumer. Absent → sign buckets.
_IDX_CENTROIDS = "centroids"


def _bucket_rows(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    n_dims: int,
    centroid_rows: list | None = None,
) -> DataFrame:
    """Bucketed embedding rows: (doc, bucket, vec, norm). The bucket is
    the trained-IVF cell when ``centroid_rows`` is given (scan-side
    nearest-centroid expression — no shuffle, the per-batch plan pins
    hold unchanged), else the sign bucket of the first ``n_dims``
    components. Same output schema either way: the index layout,
    replay contract and compaction are bucket-function-agnostic."""
    from pyspark_ingestion_spark.functions.vectors import l2_norm, sign_bucket
    from pyspark_ingestion_spark.operators.similarity import ivf_cell_expr

    bucket = (
        ivf_cell_expr(vec_col, centroid_rows)
        if centroid_rows
        else sign_bucket(vec_col, n_dims)
    )
    return df.select(
        F.col(id_col).alias("doc"),
        bucket.alias("bucket"),
        F.col(vec_col).cast("array<double>").alias("vec"),
        l2_norm(vec_col).alias("norm"),
    )


def _load_semantic_centroid_rows(
    spark: SparkSession, index_path: str
) -> list | None:
    """The index's persisted quantizer as a driver-side list (K rows —
    bounded by construction), or None for a sign-bucket index."""
    from pyspark.errors import AnalysisException

    from pyspark_ingestion_spark.operators.similarity import centroid_rows_of

    try:
        df = spark.read.parquet(f"{index_path}/{_IDX_CENTROIDS}")
    except AnalysisException:
        return None
    return centroid_rows_of(df)


def init_semantic_admission_index(
    base_corpus: DataFrame,
    index_path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_dims: int = 4,
    centroids: DataFrame | None = None,
) -> None:
    """One-time bootstrap of the semantic admission index: bucket the
    base corpus ONCE into ``__batch_id=-1``. The only time the indexed
    path ever scans base embeddings. Idempotent (dynamic partition
    overwrite). With ``centroids`` (a trained (centroid_id, cvec)
    table, normally ``operators.similarity.kmeans_centroids``) the
    quantizer is persisted beside the buckets and buckets are its IVF
    cells — the production bucket width at large corpus sizes; without
    it the bucket is the ``n_dims``-bit sign pattern. Whichever is
    baked here is what every subsequent batch uses."""
    from pyspark_ingestion_spark.operators.similarity import centroid_rows_of

    rows_c = None
    if centroids is not None:
        rows_c = centroid_rows_of(centroids)
        spark = base_corpus.sparkSession
        from pyspark_ingestion_spark.sources.localtable import local_rows_df

        local_rows_df(
            spark, rows_c, "centroid_id int, cvec array<double>"
        ).write.mode("overwrite").parquet(f"{index_path}/{_IDX_CENTROIDS}")
    rows = _bucket_rows(base_corpus, id_col, vec_col, n_dims, rows_c)
    _write_batch_partition(rows, f"{index_path}/{_IDX_BUCKETS}", -1)


def _semantic_rejects_indexed(
    spark: SparkSession,
    batch: DataFrame,
    index_path: str,
    batch_id: int,
    id_col: str,
    vec_col: str,
    threshold: float,
    n_dims: int,
    nprobe: int = 1,
    max_bucket_size: int | None = None,
    bucket_cap_mode: str = "drop",
    probe_salts: int = 4,
):
    """Index-driven semantic admission for one micro-batch. Returns
    ``(rejects, bb)`` — the distinct batch ids to drop, and the batch's
    bucket rows (reused by the sink's index write so nothing re-buckets).

    Equivalence with ``operators.similarity.embedding_batch_rejects``
    over (base ∪ admitted-so-far): the index holds exactly
    ``_bucket_rows(corpus)`` persisted at admission, the candidate join
    keys on the same bucket function (the PERSISTED quantizer's IVF
    cells when the index has one, else the sign bucket), and the cosine
    verify computes on the STORED vector and norm — bit-identical
    inputs, same 6-dp round, same ≥ threshold filter. Module-level so
    tests can pin the plan property: NO input of this computation is a
    corpus embedding source — only the buckets index and the batch.
    Replay self-exclusion mirrors the other indexed sinks: the read
    drops the current batch id's partition.

    ``nprobe`` (trained-quantizer indexes only) probes each batch
    vector's n nearest cells on the CANDIDATE side — the standard IVF
    recall dial; stored rows always carry exactly their nearest cell,
    so probed cells are disjoint and no pair double-counts.

    Per-batch cost: one SCAN of the buckets index with the batch
    broadcast into the bucket equi-join + candidates-only cosine — zero
    corpus-sized shuffles; with the cap OFF (default), zero corpus-wide
    aggregates too (bucket population control is the quantizer: trained
    centroids sized to the corpus, or ``n_dims`` sign bits via
    ``operators.similarity.sign_bits_for``).

    ``max_bucket_size`` (r13, VERDICT r12 item 3): optional cap on
    INDEX bucket population against degenerate skew (biased embeddings
    collapsing into one sign bucket make the candidate join
    O(batch·corpus) there). ``bucket_cap_mode="salt"`` keeps partial
    recall inside an oversized bucket — the stored rows salt-split into
    ``ceil(n/cap)`` sub-buckets, the batch probes ``min(n_salts,
    probe_salts)`` of them (``dedup._probe_salted_buckets``, the shared
    side-agnostic arithmetic) — while ``"drop"`` loses the bucket
    entirely. Enabling the cap adds ONE aggregate over the index's
    (bucket) column per batch (the oversized-bucket list, broadcast-
    tiny), the same cost shape as the fingerprint sink's cap."""
    from pyspark_ingestion_spark.functions.vectors import dot_product, l2_norm
    from pyspark_ingestion_spark.operators.similarity import ivf_probe_cells_expr

    rows_c = _load_semantic_centroid_rows(spark, index_path)
    if nprobe > 1 and not rows_c:
        # the PERSISTED index signature governs, not the caller's args:
        # an index bootstrapped with sign buckets has no quantizer, so
        # nprobe cannot probe anything — degrading the recall dial
        # silently would hide a real config bug. Mirror the fail-loud
        # contract of stream_semantic_admission's own validation.
        raise ValueError(
            f"nprobe={nprobe} requires a trained-quantizer index, but "
            f"{index_path!r} was built with sign buckets (no centroids "
            "persisted); rebuild the index with centroids or use nprobe=1"
        )
    idx = (
        _read_idx_parquet(spark, f"{index_path}/{_IDX_BUCKETS}")
        .filter(F.col("__batch_id").cast("long") != batch_id)
        .select("doc", "bucket", "vec", "norm")
    )
    bb = _bucket_rows(batch, id_col, vec_col, n_dims, rows_c)
    if rows_c and nprobe > 1:
        probe = batch.select(
            F.col(id_col).alias("doc"),
            F.explode(
                ivf_probe_cells_expr(vec_col, rows_c, nprobe)
            ).alias("bucket"),
            F.col(vec_col).cast("array<double>").alias("vec"),
            l2_norm(vec_col).alias("norm"),
        )
    else:
        probe = bb
    on = F.col("b.bucket") == F.col("c.bucket")
    if max_bucket_size is not None:
        if max_bucket_size < 1:
            raise ValueError(
                f"max_bucket_size must be >= 1, got {max_bucket_size}"
            )
        from pyspark_ingestion_spark.operators.dedup import (
            _drop_big_buckets,
            _oversized_bucket_salts,
            _probe_salted_buckets,
            _salt_corpus_bands,
        )

        if bucket_cap_mode == "salt":
            big_salts = _oversized_bucket_salts(
                idx, max_bucket_size, keys=("bucket",)
            )
            idx = _salt_corpus_bands(
                idx, big_salts, keys=("bucket",), doc_col="doc"
            )
            probe = _probe_salted_buckets(
                probe, big_salts, probe_salts, keys=("bucket",),
                doc_col="doc",
            )
            on = on & (F.col("b.__salt") == F.col("c.__salt"))
        else:
            idx = _drop_big_buckets(idx, max_bucket_size, keys=("bucket",))
    denom = F.col("b.norm") * F.col("c.norm")
    cos = F.when(
        denom != 0, dot_product(F.col("b.vec"), F.col("c.vec")) / denom
    )
    rejects = (
        idx.alias("c")
        .join(F.broadcast(probe.alias("b")), on)
        .filter(F.round(cos, 6) >= threshold)
        .select(F.col("b.doc").alias(id_col))
        .distinct()
    )
    return rejects, bb


def _admit_semantic_batch_indexed(
    batch_df: DataFrame,
    batch_id: int,
    base_corpus: DataFrame,
    out_path: str,
    index_path: str,
    id_col: str,
    vec_col: str,
    threshold: float,
    n_dims: int,
    centroids: DataFrame | None = None,
    nprobe: int = 1,
    max_bucket_size: int | None = None,
    bucket_cap_mode: str = "drop",
    probe_salts: int = 4,
) -> None:
    """One micro-batch of indexed ``stream_semantic_admission``: admit
    via :func:`_semantic_rejects_indexed`, then append the admitted
    vectors and their bucket rows — each to its own ``__batch_id``
    partition under the replay contract of :func:`_run_admission_sink`.
    Module-level for direct replay testability. ``centroids`` only
    matters on the bootstrap batch (it is persisted into the index's
    signature there); afterwards the PERSISTED quantizer governs every
    bucket, so a restart that passes different centroids cannot corrupt
    the index."""
    spark = batch_df.sparkSession
    # bootstrap once; the completion probe memoizes per process once
    # True (r15, _has_base_partition)
    if not _has_base_partition(spark, f"{index_path}/{_IDX_BUCKETS}"):
        init_semantic_admission_index(
            base_corpus, index_path, id_col=id_col, vec_col=vec_col,
            n_dims=n_dims, centroids=centroids,
        )

    # one source evaluation per batch (r14, guide §4): the batch feeds
    # the rejects build, the admitted anti-join and the buckets join
    batch = batch_df.select(id_col, vec_col).localCheckpoint(eager=True)
    rejects, bb = _semantic_rejects_indexed(
        spark, batch, index_path, batch_id, id_col, vec_col, threshold,
        n_dims, nprobe=nprobe, max_bucket_size=max_bucket_size,
        bucket_cap_mode=bucket_cap_mode, probe_salts=probe_salts,
    )
    # batch-sized; the out and buckets writes both derive from it — cut
    # lineage once (EAGER r15: a lazy first-use is not a single-
    # materialization point under the write overlap below)
    admitted = batch.join(F.broadcast(rejects), id_col, "left_anti").localCheckpoint(
        eager=True
    )
    # r15 (guide §2.6): the admitted-vector and bucket-index writes are
    # independent — overlap them like the other admission sinks
    adm_buckets = bb.join(
        F.broadcast(admitted.select(F.col(id_col).alias("doc"))), "doc"
    )
    with _overlapped_writes(batch_id) as (submit, _wait):
        submit("admitted-vectors", admitted, out_path)
        submit("buckets", adm_buckets, f"{index_path}/{_IDX_BUCKETS}")


def stream_semantic_admission(
    stream_df: DataFrame,
    base_corpus: DataFrame,
    out_path: str,
    checkpoint: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.3,
    n_dims: int = 4,
    index_path: str | None = None,
    compact_every: int | None = None,
    compact_major_every: int | None = None,
    centroids: DataFrame | None = None,
    nprobe: int = 1,
    max_bucket_size: int | None = None,
    bucket_cap_mode: str = "drop",
    probe_salts: int = 4,
) -> None:
    """Continuous SEMANTIC admission — the embedding member completing
    the indexed streaming admission trio (LSH:
    :func:`stream_dedup_admission`; exact substring:
    :func:`stream_substring_admission`): each micro-batch rejects
    vectors whose 6-dp-rounded cosine against ANY vector of the growing
    corpus (base + everything admitted so far) meets ``threshold``, and
    appends the survivors. Semantics per micro-batch match a sequential
    loop of ``operators.similarity.embedding_batch_rejects`` over the
    same batches (equivalence pinned in tests/test_streaming.py,
    including restart + replay). Batch loop, replay contract and
    compaction schedule: :func:`_run_admission_sink`.

    With ``index_path`` (the PRODUCTION form) the corpus's bucketed
    embedding table is maintained incrementally — vectors, norms and
    buckets stored at admission — so no micro-batch ever re-buckets or
    even reads a corpus embedding source (plan-proved in tests); without
    it the recompute form re-buckets (base ∪ admitted) each batch.
    ``compact_every`` / ``compact_major_every`` fold the index with
    :func:`compact_semantic_index` (plain concatenation, the index has
    no staleness or versioning).

    ``centroids`` (r9, the 100 TB bucket width): a trained coarse
    quantizer (``operators.similarity.kmeans_centroids``) whose IVF
    cells replace the sign bucket — candidate sets sized by K (chosen
    per corpus generation), not by 2^n_dims fixed hyperplanes. Persisted
    into the index at bootstrap as part of its signature: after the
    first batch the STORED quantizer governs both sides of every join,
    and the sink's schema/replay/compaction contracts are unchanged.
    ``nprobe`` probes each batch vector's n nearest cells (candidate
    side only) — the recall dial; with sign buckets it must stay 1.

    ``max_bucket_size`` / ``bucket_cap_mode`` / ``probe_salts`` (r13,
    VERDICT r12 item 3): optional corpus-bucket cap against degenerate
    skew, with the same drop-vs-salt trade as the LSH/fingerprint
    sinks — ``"salt"`` keeps a batch vector near a POPULAR semantic
    cluster partially admissible (probes ``min(n_salts, probe_salts)``
    sub-buckets of the oversized bucket) instead of silently losing
    the whole bucket's recall. Identical semantics in both the indexed
    and recompute forms (shared ``dedup._probe_salted_buckets``
    arithmetic)."""
    from pyspark_ingestion_spark.operators.similarity import (
        centroid_rows_of,
        embedding_batch_rejects,
    )

    if nprobe < 1:
        raise ValueError(f"nprobe must be >= 1, got {nprobe}")
    if bucket_cap_mode not in ("drop", "salt"):
        raise ValueError(
            f"bucket_cap_mode must be 'drop' or 'salt', got {bucket_cap_mode!r}"
        )
    if nprobe > 1 and centroids is None:
        raise ValueError(
            "nprobe > 1 requires trained centroids (sign buckets have no "
            "probe order)"
        )
    schedule = _compaction_schedule(index_path, compact_every, compact_major_every)
    # the recompute form applies the quantizer per batch — normalize it
    # ONCE here (K bounded rows), not inside every micro-batch
    rows_c = centroid_rows_of(centroids) if centroids is not None else None
    kw = dict(
        threshold=threshold, n_dims=n_dims, nprobe=nprobe,
        max_bucket_size=max_bucket_size, bucket_cap_mode=bucket_cap_mode,
        probe_salts=probe_salts,
    )
    _run_admission_sink(
        stream_df, checkpoint, index_path, schedule, compact_semantic_index,
        lambda b, i: _admit_semantic_batch_indexed(
            b, i, base_corpus, out_path, index_path, id_col=id_col,
            vec_col=vec_col, centroids=centroids, **kw,
        ),
        lambda b, i: _admit_recompute(
            b.select(id_col, vec_col), i, base_corpus, out_path,
            (id_col, vec_col),
            lambda corpus, batch: embedding_batch_rejects(
                corpus, batch, id_col, vec_col, centroids=rows_c, **kw
            ).select(id_col),
        ),
    )


def compact_semantic_index(
    spark: SparkSession,
    index_path: str,
    checkpoint: str | None = None,
    on_uncommitted: str = "raise",
    mode: str = "major",
) -> int:
    """Fold the semantic admission index's per-batch ``buckets``
    partitions — plain concatenation (rows are disjoint across
    partitions: a vector is admitted once, and nothing about a stored
    row ever changes). Same write-ahead staging, commit guard (with the
    retention floor) and LSM minor/major tiers as
    :func:`compact_admission_index`; returns partitions removed."""
    return _compact_versioned_table(
        spark, f"{index_path}/{_IDX_BUCKETS}",
        _fold_concat(spark, "doc", "bucket", "vec", "norm"), checkpoint,
        on_uncommitted, mode,
    )


# --------------------------------------------- fingerprint admission sink
#
# The MULTIMODAL member of the indexed streaming admission family (LSH
# text: stream_dedup_admission; exact substring:
# stream_substring_admission; embeddings: stream_semantic_admission):
# continuous perceptual dedup over opaque media payloads. The index
# stores one row per admitted item — its 64-bit perceptual hash in two
# 32-bit halves — and, like the semantic sink's buckets, the stored row
# is a pure function of the payload alone: NO staleness is possible,
# compaction is plain concatenation, and no micro-batch ever re-decodes
# a corpus payload (decode runs once per batch, on the batch).

#: (doc, hi, lo) — 64-bit perceptual hash halves, appended per batch.
_IDX_FPRINTS = "fprints"


def _fp_rows(hashed: DataFrame, hash_cols: tuple[str, str]) -> DataFrame:
    """Normalize a hash operator's output (``image_dhash`` → (doc_id,
    dh_hi, dh_lo), ``audio_fhash`` → (doc_id, fh_hi, fh_lo)) to the
    index layout (doc, hi, lo)."""
    return hashed.select(
        F.col("doc_id").alias("doc"),
        F.col(hash_cols[0]).alias("hi"),
        F.col(hash_cols[1]).alias("lo"),
    )


def _hash_rows(
    hash_fn, media: DataFrame, hash_cols: tuple[str, str], id_col: str
) -> DataFrame:
    """Hash a media frame into normalized (doc, hi, lo) rows. The hash
    operators read fixed (doc_id, payload) columns, so a caller-chosen
    ``id_col`` is aliased in HERE — the one place the rename can't be
    forgotten (a non-default id_col used to crash inside hash_fn)."""
    if id_col != "doc_id":
        media = media.select(F.col(id_col).alias("doc_id"), "payload")
    return _fp_rows(hash_fn(media), hash_cols)


def init_fingerprint_admission_index(
    base_fp: DataFrame, index_path: str
) -> None:
    """One-time bootstrap: persist the base corpus's normalized
    fingerprint rows (doc, hi, lo) into ``__batch_id=-1`` — the only
    time the indexed path ever decodes base payloads. Idempotent."""
    _write_batch_partition(base_fp, f"{index_path}/{_IDX_FPRINTS}", -1)


def _fingerprint_rejects_indexed(
    spark: SparkSession,
    batch_fp: DataFrame,
    index_path: str,
    batch_id: int,
    radius: int,
    max_bucket_size: int | None = None,
    bucket_cap_mode: str = "drop",
    probe_salts: int = 4,
) -> DataFrame:
    """Index-driven perceptual admission for one micro-batch: batch ids
    within ``radius`` Hamming bits of any stored corpus fingerprint.
    Semantics ≡ ``operators.multimodal.fingerprint_batch_rejects``
    against hash rows of (base ∪ admitted-so-far) — the index holds
    exactly those rows, and the verify computes on STORED halves.
    Module-level so tests pin the plan property: the only file input is
    the fprints index (never a payload source), the batch bands
    broadcast into the band equi-join, and banding is exact for
    radius ≤ 7 (pigeonhole). Replay self-excludes the current batch id.
    A missing/empty index (bootstrap-from-nothing: an EMPTY base corpus
    writes zero partitions) means an empty corpus — nothing to reject."""
    from pyspark.errors import AnalysisException

    from pyspark_ingestion_spark.operators.multimodal import (
        fingerprint_batch_rejects,
    )

    try:
        idx = (
            _read_idx_parquet(spark, f"{index_path}/{_IDX_FPRINTS}")
            .filter(F.col("__batch_id").cast("long") != batch_id)
            .select("doc", "hi", "lo")
        )
    except AnalysisException:  # no index partitions yet: empty corpus
        return spark.createDataFrame([], "doc long")
    return fingerprint_batch_rejects(
        idx, batch_fp, radius=radius, max_bucket_size=max_bucket_size,
        bucket_cap_mode=bucket_cap_mode, probe_salts=probe_salts,
    )


def _admit_fingerprint_batch_indexed(
    batch_df: DataFrame,
    batch_id: int,
    base_media: DataFrame,
    out_path: str,
    index_path: str,
    hash_fn,
    hash_cols: tuple[str, str],
    id_col: str,
    radius: int,
    max_bucket_size: int | None = None,
    bucket_cap_mode: str = "drop",
    probe_salts: int = 4,
) -> None:
    """One micro-batch of indexed ``stream_fingerprint_admission``:
    decode + hash the batch ONCE (localCheckpoint — every join against
    it broadcasts, per the stats-free-frame rule), reject via
    :func:`_fingerprint_rejects_indexed`, append admitted media rows and
    their fingerprint rows under the replay contract of
    :func:`_run_admission_sink`. Module-level for replay testability."""
    spark = batch_df.sparkSession
    # bootstrap once; the completion probe memoizes per process once
    # True (r15, _has_base_partition)
    if not _has_base_partition(spark, f"{index_path}/{_IDX_FPRINTS}"):
        init_fingerprint_admission_index(
            _hash_rows(hash_fn, base_media, hash_cols, id_col), index_path
        )

    # one source evaluation per batch (r14, guide §4): the raw payload
    # batch feeds BOTH the decode+hash below and the admitted anti-join
    # + media write — without this the (typically Python-decoded)
    # source re-evaluates per consumer
    batch_df = batch_df.localCheckpoint(eager=True)
    batch_fp = _hash_rows(hash_fn, batch_df, hash_cols, id_col).localCheckpoint(
        eager=False
    )
    rejects = _fingerprint_rejects_indexed(
        spark, batch_fp, index_path, batch_id, radius,
        max_bucket_size=max_bucket_size, bucket_cap_mode=bucket_cap_mode,
        probe_salts=probe_salts,
    ).withColumnRenamed("doc", id_col)
    # EAGER: single materialization point for the write overlap below
    admitted = batch_df.join(F.broadcast(rejects), id_col, "left_anti").localCheckpoint(
        eager=True
    )
    # the admitted-MEDIA write is independent of the fprints index
    # write, so they overlap as concurrent Spark jobs (r11, same pattern
    # + A/B as the hotlog sink)
    adm_fp = batch_fp.join(
        F.broadcast(admitted.select(F.col(id_col).alias("doc"))), "doc"
    )
    with _overlapped_writes(batch_id) as (submit, _wait):
        submit("media", admitted, out_path)
        submit("fprints", adm_fp, f"{index_path}/{_IDX_FPRINTS}")


def stream_fingerprint_admission(
    stream_df: DataFrame,
    base_media: DataFrame,
    out_path: str,
    checkpoint: str,
    hash_fn=None,
    hash_cols: tuple[str, str] = ("dh_hi", "dh_lo"),
    id_col: str = "doc_id",
    radius: int = 7,
    index_path: str | None = None,
    compact_every: int | None = None,
    compact_major_every: int | None = None,
    max_bucket_size: int | None = None,
    bucket_cap_mode: str = "drop",
    probe_salts: int = 4,
) -> None:
    """Continuous PERCEPTUAL admission over media payloads — the
    multimodal member of the indexed streaming admission family: each
    micro-batch decodes + hashes its own payloads (``hash_fn``:
    ``operators.multimodal.image_dhash`` by default; pass
    ``audio_fhash`` + ``hash_cols=("fh_hi", "fh_lo")`` for WAV clips —
    ONE sink serves every 64-bit fingerprint family member), rejects
    items within ``radius`` Hamming bits of the growing corpus (base +
    everything admitted so far — exact, banding is pigeonhole-complete
    at radius ≤ 7), and appends the surviving media rows. Batch loop,
    replay contract and compaction schedule: :func:`_run_admission_sink`.

    With ``index_path`` (the PRODUCTION form) the corpus's fingerprint
    table is maintained incrementally — 16 bytes per admitted item —
    so no micro-batch ever re-decodes or even reads a corpus payload
    (plan-proved in tests); without it, the recompute form re-hashes
    (base ∪ admitted) each batch. ``compact_every`` /
    ``compact_major_every`` fold the index with
    :func:`compact_fingerprint_index` (plain concatenation, stored rows
    are pure payload functions, no staleness).
    ``max_bucket_size`` (optional) caps corpus band buckets against
    degenerate-media skew — flat images / silent audio collapsing to
    one band value; exactness trade documented on
    ``operators.multimodal._fp_drop_big_buckets``.
    ``bucket_cap_mode="salt"`` (r12) keeps bounded work AND partial
    recall inside an oversized bucket: the corpus bands salt-split into
    ``ceil(n/cap)`` sub-buckets and each batch item probes
    ``min(n_salts, probe_salts)`` of them — a batch item near a
    POPULAR corpus cluster (meme reposts) keeps ~probe_salts·cap
    candidate partners instead of losing all of them to the drop. The
    per-batch cost shape is unchanged: both modes pay the same one
    corpus-band aggregate per batch (the oversized-bucket list), and
    the probe replicates only batch rows (O(batch·probe_salts))."""
    from pyspark_ingestion_spark.operators.multimodal import (
        fingerprint_batch_rejects,
        image_dhash,
    )

    if hash_fn is None:
        hash_fn = image_dhash
    if bucket_cap_mode not in ("drop", "salt"):
        raise ValueError(
            f"bucket_cap_mode must be 'drop' or 'salt', got {bucket_cap_mode!r}"
        )
    if not 0 <= radius <= 7:
        raise ValueError(
            f"radius must be in [0, 7] (8-band pigeonhole bound), got {radius}"
        )
    schedule = _compaction_schedule(index_path, compact_every, compact_major_every)
    kw = dict(
        radius=radius, max_bucket_size=max_bucket_size,
        bucket_cap_mode=bucket_cap_mode, probe_salts=probe_salts,
    )
    _run_admission_sink(
        stream_df, checkpoint, index_path, schedule, compact_fingerprint_index,
        lambda b, i: _admit_fingerprint_batch_indexed(
            b, i, base_media, out_path, index_path, hash_fn=hash_fn,
            hash_cols=hash_cols, id_col=id_col, **kw,
        ),
        # the recompute form re-decodes and re-hashes (base ∪ admitted)
        # payloads per batch; the batch keeps all its columns
        lambda b, i: _admit_recompute(
            b, i, base_media, out_path, (id_col, "payload"),
            lambda corpus, batch: fingerprint_batch_rejects(
                _hash_rows(hash_fn, corpus, hash_cols, id_col),
                _hash_rows(hash_fn, batch, hash_cols, id_col),
                **kw,
            ).withColumnRenamed("doc", id_col),
        ),
    )


def compact_fingerprint_index(
    spark: SparkSession,
    index_path: str,
    checkpoint: str | None = None,
    on_uncommitted: str = "raise",
    mode: str = "major",
) -> int:
    """Fold the fingerprint index's per-batch partitions — plain
    concatenation (an item is admitted once and its hash never changes).
    Same write-ahead staging, commit guard and LSM minor/major tiers as
    the other sinks; returns partitions removed."""
    return _compact_versioned_table(
        spark, f"{index_path}/{_IDX_FPRINTS}", _fold_concat(spark, "doc", "hi", "lo"),
        checkpoint, on_uncommitted, mode,
    )


# ------------------------------------ IVF-PQ layout streaming maintenance

#: the streamed IVF-PQ layout (r13, VERDICT r12 item 5): per-batch
#: partitions of ``ivf_pq_assign``-shaped rows — the batch's columns
#: plus ``cell`` and ``codes``, exactly what
#: ``ivf_pq_topk(preassigned=True)`` queries against. Append-only with
#: no staleness (a vector's cell/codes are pure functions of the
#: persisted generation), so replay overwrite is the whole consistency
#: story.
_PQ_LAYOUT_ASSIGNED = "assigned"

#: the persisted centroid/codebook GENERATION. Written once at
#: bootstrap; every subsequent batch derives cells/codes from these
#: stored tables (never from whatever the caller passes later), so the
#: layout's meaning cannot drift between producer and consumer — the
#: same signature discipline as the semantic index's stored quantizer.
_PQ_LAYOUT_CENTROIDS = "centroids"
_PQ_LAYOUT_CODEBOOKS = "codebooks"


def _load_pq_generation(spark: SparkSession, layout_path: str):
    """The layout's persisted (centroids, codebooks) generation as
    DataFrames, or ``None`` before bootstrap. Driver cost per batch is
    two footer reads; the tables themselves are K·n_sub-bounded."""
    from pyspark.errors import AnalysisException

    try:
        cents = spark.read.parquet(f"{layout_path}/{_PQ_LAYOUT_CENTROIDS}")
        cbs = spark.read.parquet(f"{layout_path}/{_PQ_LAYOUT_CODEBOOKS}")
    except AnalysisException:
        return None
    return cents, cbs


_PQ_GENERATION_MARKER = "_pq_generation.json"


def _pq_generation_id(c_rows, cb_rows) -> str:
    """Content fingerprint of a generation: md5 over the sorted centroid
    and codebook rows (the exact values every batch's assignment is a
    pure function of). Computed from already-collected rows — no extra
    scan beyond the bounded generation-table reads each batch does
    anyway."""
    import hashlib

    parts = [
        f"c|{cid}|" + ",".join(repr(float(x)) for x in vec)
        for cid, vec in sorted((int(c), list(v)) for c, v in c_rows)
    ] + [
        f"b|{m}|{code}|" + ",".join(repr(float(x)) for x in vec)
        for m, code, vec in sorted(
            (int(m), int(k), list(v)) for m, k, v in cb_rows
        )
    ]
    return hashlib.md5("\n".join(parts).encode("utf-8")).hexdigest()


def _check_generation_binding(
    spark: SparkSession, checkpoint: str, layout_path: str, gen_id: str
) -> None:
    """Bind a sink checkpoint to ONE layout generation — the loud
    cutover guard (VERDICT r13 item 4). On the first batch the binding
    ``(layout_path, generation_id)`` is persisted INTO the checkpoint
    directory (beside Spark's own state, same local/Hadoop-FS dance as
    the watermark sync file); every later batch re-checks it. An OLD
    checkpoint pointed at a ROTATED layout (or any other layout) now
    fails with a path-specific message instead of relying on operator
    discipline — `rotate_pq_layout` is publish-then-switch, and the
    switch REQUIRES a fresh checkpoint because the new sink's batch
    numbering restarts from 0."""
    marker = f"{checkpoint}/{_PQ_GENERATION_MARKER}"
    bound = read_state_json(marker, spark)
    if bound is None:
        write_state_json(
            marker, {"layout_path": layout_path, "generation_id": gen_id}, spark
        )
    elif bound.get("generation_id") != gen_id or bound.get("layout_path") != layout_path:
        raise ValueError(
            f"checkpoint {checkpoint!r} is bound to generation "
            f"{bound.get('generation_id')} of layout "
            f"{bound.get('layout_path')!r}, but the sink is pointed at "
            f"generation {gen_id} of layout {layout_path!r} — an old "
            "checkpoint must never drive a rotated/new generation (its "
            "batch ids would overwrite the wrong partitions). Cut over "
            "with a FRESH checkpoint directory (rotate_pq_layout is "
            "publish-then-switch), or point this checkpoint back at its "
            "original layout"
        )


def _assign_pq_batch(
    batch_df: DataFrame,
    batch_id: int,
    layout_path: str,
    centroids: DataFrame | None,
    codebooks: DataFrame | None,
    id_col: str,
    vec_col: str,
    n_sub: int,
    stats_path: str | None = None,
    checkpoint: str | None = None,
) -> None:
    """One micro-batch of :func:`stream_ivf_pq_assign`: bootstrap the
    generation if absent, run ``ivf_pq_assign`` over ONLY the batch's
    rows, and overwrite the batch's ``__batch_id`` partition (replay
    idempotent). Module-level for direct replay testability.

    O(batch) by construction: the expression encode path never reads
    anything but the batch scan and the two bounded generation tables
    — there is no corpus-wide state to maintain, because a vector's
    (cell, codes) are pure functions of the generation. The per-row
    dim guard inside ``ivf_pq_assign`` makes a dim-drifted stream
    batch raise instead of appending misaligned codes. When
    ``checkpoint`` is given, the batch first enforces the
    checkpoint↔generation binding (:func:`_check_generation_binding`)
    — the rotation cutover guard."""
    from pyspark_ingestion_spark.operators.similarity import (
        centroid_rows_of,
        codebook_rows_of,
        ivf_pq_assign,
    )

    spark = batch_df.sparkSession
    gen = _load_pq_generation(spark, layout_path)
    if gen is None:
        if centroids is None or codebooks is None:
            raise ValueError(
                f"no generation persisted under {layout_path!r} and none "
                "passed — bootstrap needs centroids + codebooks"
            )
        # validate the caller's n_sub against the codebooks BEFORE
        # persisting a generation queries would trust
        m_domain = sorted({m for m, _, _ in codebook_rows_of(codebooks)})
        if m_domain != list(range(n_sub)):
            raise ValueError(
                f"codebooks cover m={m_domain}, expected 0..{n_sub - 1} — "
                "n_sub disagrees with the codebook table"
            )
        centroids.write.mode("overwrite").parquet(
            f"{layout_path}/{_PQ_LAYOUT_CENTROIDS}"
        )
        codebooks.write.mode("overwrite").parquet(
            f"{layout_path}/{_PQ_LAYOUT_CODEBOOKS}"
        )
        gen = _load_pq_generation(spark, layout_path)
    cents, cbs = gen
    # n_sub comes from the PERSISTED generation (max m + 1), so a
    # restart that passes a different n_sub cannot misalign the layout
    cb_rows = codebook_rows_of(cbs)
    n_sub_eff = 1 + max(m for m, _, _ in cb_rows)
    if checkpoint is not None:
        # loud cutover guard (VERDICT r13 item 4): an old checkpoint
        # pointed at a rotated/new layout raises path-specifically
        # before anything is written
        _check_generation_binding(
            spark,
            checkpoint,
            layout_path,
            _pq_generation_id(centroid_rows_of(cents), cb_rows),
        )
    # one source evaluation per batch (r14, guide §4): the batch feeds
    # the isEmpty probe, the assigned write and the residual-stats feed
    batch = batch_df.select(id_col, vec_col).localCheckpoint(eager=True)
    if batch.isEmpty():
        return
    assigned = ivf_pq_assign(
        batch, cents, cbs, id_col=id_col, vec_col=vec_col, n_sub=n_sub_eff
    )
    if stats_path is not None:
        # the layout write AND the residual-stats feed both derive from
        # it — cut lineage once so the PQ encode runs once, not twice
        assigned = assigned.localCheckpoint(eager=False)
    _write_batch_partition(assigned, f"{layout_path}/{_PQ_LAYOUT_ASSIGNED}", batch_id)
    if stats_path is not None:
        from pyspark_ingestion_spark.operators.similarity import (
            ivf_cell_residual_stats,
        )

        # mergeable per-batch residual stats (the drift-monitor feed):
        # n/sum re-aggregate exactly, avg derives at read time — same
        # replay-overwrite idempotence as the layout itself
        stats = ivf_cell_residual_stats(assigned, cents, vec_col=vec_col).select(
            "cell", "n_vectors", "sum_residual", "max_residual"
        )
        _write_batch_partition(stats, stats_path, batch_id)


def stream_ivf_pq_assign(
    stream_df: DataFrame,
    layout_path: str,
    checkpoint: str,
    centroids: DataFrame | None = None,
    codebooks: DataFrame | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_sub: int = 8,
    stats_path: str | None = None,
) -> None:
    """Streaming maintenance for the IVF-PQ layout (r13, VERDICT r12
    item 5): each micro-batch of vectors gets its ``cell`` and
    ``codes`` columns (``operators.similarity.ivf_pq_assign`` — the
    production ingest-time layout ``ivf_pq_topk(preassigned=True)``
    queries) appended under ``{layout_path}/assigned/__batch_id=N``.
    This makes the ANN tier consistent with the LSH / substring /
    fingerprint / semantic admission family: newly arriving (e.g.
    admission-surviving) vectors are indexed per micro-batch instead
    of waiting for a batch re-encode of the corpus.

    Generation discipline: ``centroids`` + ``codebooks`` are persisted
    beside the layout on the FIRST batch and govern every subsequent
    batch (the caller's later arguments are ignored, so a restart with
    different tables cannot silently mix generations — re-encode under
    a new ``layout_path`` to rotate generations). The checkpoint is
    BOUND to the generation it bootstraps against (r14, VERDICT r13
    item 4): the first batch persists ``(layout_path, generation_id)``
    into the checkpoint directory and every batch re-checks it, so
    pointing an existing checkpoint at a rotated or different layout
    fails with a path-specific error instead of corrupting partitions
    by replayed batch ids — cut over with a fresh checkpoint (pinned in
    tests/test_streaming.py). Per-batch cost is
    O(batch): one batch scan projecting scan-side cell/codes
    expressions (or the aggregate+join twin past the literal budget —
    both property-pinned identical, both dim-guarded), plus two
    bounded generation-table reads; there is NO corpus-sized read or
    shuffle anywhere in the batch plan (inputFiles-pinned in tests).
    Exactly-once via the shared ``__batch_id`` dynamic-overwrite
    replay contract. Chain after an admission sink by streaming its
    ``out_path`` (file source) into this one.

    ``stats_path`` (r13) additionally appends per-batch MERGEABLE
    residual stats ``(cell, n_vectors, sum_residual, max_residual)``
    against the generation's centroids — the drift-monitor feed:
    roll the stats table up (sum n/sum, max max; avg = sum/n) and pass
    it with the train-time baseline to
    ``operators.similarity.ivf_drift_flags`` to get per-cell retrain
    triggers without ever rescanning the corpus. Same O(batch) and
    replay-overwrite contract as the layout write."""
    _run_foreach_batch(
        stream_df,
        checkpoint,
        lambda batch_df, batch_id: _assign_pq_batch(
            batch_df, batch_id, layout_path, centroids, codebooks,
            id_col, vec_col, n_sub, stats_path, checkpoint,
        ),
    )


def rotate_pq_layout(
    corpus: DataFrame,
    new_layout_path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 8,
    n_sub: int = 8,
    k_codes: int = 16,
    seed: int = 42,
    sample_fraction: float | None = None,
) -> None:
    """Rotate the IVF-PQ generation — the ACTION the drift monitor's
    retrain flags exist to trigger (monitor: ``ivf_drift_flags`` over
    ``stream_ivf_pq_assign(stats_path=...)`` rollups; this closes the
    loop). Fits fresh centroids + PQ codebooks on ``corpus`` (typically
    base ∪ everything admitted under the old generation, optionally
    hash-sampled), persists them under ``new_layout_path`` and writes
    the corpus's full re-assignment as the ``__batch_id=-1`` bootstrap
    partition — so a `stream_ivf_pq_assign` sink pointed at the new
    path (fresh checkpoint; its batches number from 0) continues
    incrementally under the NEW generation, while queries cut over by
    path. The old layout is left untouched: rotation is
    publish-then-switch, never in-place (an in-place centroid swap
    would silently mix generations — exactly what the assign sink's
    persisted-generation discipline forbids). The fresh-checkpoint
    requirement is ENFORCED, not just documented (r14): the sink binds
    each checkpoint to the generation it bootstraps against, so an old
    checkpoint pointed at the rotated path raises path-specifically on
    its first batch.

    Cost: two seeded KMeans fits on the (sampled) corpus + ONE
    assignment pass — the same one-pass layout build ``ivf_pq_assign``
    always is; nothing here is per-batch."""
    from pyspark_ingestion_spark.operators.similarity import (
        ivf_pq_assign,
        kmeans_centroids,
        pq_codebooks,
    )

    cents = kmeans_centroids(
        corpus, id_col=id_col, vec_col=vec_col, n_centroids=n_centroids,
        seed=seed, sample_fraction=sample_fraction,
    )
    cbs = pq_codebooks(
        corpus, id_col=id_col, vec_col=vec_col, n_sub=n_sub,
        k_codes=k_codes, seed=seed, sample_fraction=sample_fraction,
    )
    cents.write.mode("error").parquet(
        f"{new_layout_path}/{_PQ_LAYOUT_CENTROIDS}"
    )
    cbs.write.mode("error").parquet(
        f"{new_layout_path}/{_PQ_LAYOUT_CODEBOOKS}"
    )
    # re-read the persisted generation so the bootstrap assignment is a
    # function of exactly what future batches will load (not the
    # in-memory fit frames)
    gen = _load_pq_generation(corpus.sparkSession, new_layout_path)
    assert gen is not None
    cents_p, cbs_p = gen
    assigned = ivf_pq_assign(
        corpus, cents_p, cbs_p, id_col=id_col, vec_col=vec_col, n_sub=n_sub
    )
    _write_batch_partition(assigned, f"{new_layout_path}/{_PQ_LAYOUT_ASSIGNED}", -1)


def _feature_hist_batch(
    batch_df: DataFrame,
    batch_id: int,
    col: str,
    edges: list[float],
    stats_path: str,
) -> None:
    """One micro-batch of :func:`stream_feature_histogram`: bucket the
    batch's rows over the FIXED edges and overwrite the batch's
    ``__batch_id`` partition (replay idempotent). Module-level for
    direct replay testability."""
    from pyspark_ingestion_spark.operators.profiling import feature_histogram

    # one source evaluation per batch (r14, guide §4): the isEmpty
    # probe and the histogram rollup share the single materialization
    batch_df = batch_df.select(col).localCheckpoint(eager=True)
    if batch_df.isEmpty():
        return
    h = feature_histogram(batch_df, col, edges)
    _write_batch_partition(h, stats_path, batch_id)


def stream_feature_histogram(
    stream_df: DataFrame,
    col: str,
    edges: list[float],
    stats_path: str,
    checkpoint: str,
) -> None:
    """Streaming feed of the distribution-drift monitor (r14): each
    micro-batch appends its MERGEABLE fixed-edge histogram counts
    under ``{stats_path}/__batch_id=N`` — the same per-batch
    rollup-not-rescan contract as the CMS maintenance sink and the
    IVF residual-stats feed. Roll the table up
    (``groupBy(bucket).sum(cnt)`` — exact, counts are mergeable) and
    pass it with the tuning-time baseline histogram to
    ``operators.profiling.distribution_drift`` for per-bucket PSI
    terms; batch face / driver row: ``quality_drift_psi``.

    O(batch) per batch: one scan of the batch projecting
    ``len(edges)`` comparisons, partials combined map-side onto
    ``len(edges)+1`` buckets — no corpus-sized state, no rescans.
    Exactly-once via the shared ``__batch_id`` dynamic-overwrite
    replay contract. The edges are the CALLER's fixed binning: drift
    is only meaningful against the baseline's exact edges, so they are
    plan constants, never derived per batch."""
    _run_foreach_batch(
        stream_df,
        checkpoint,
        lambda batch_df, batch_id: _feature_hist_batch(
            batch_df, batch_id, col, edges, stats_path
        ),
    )


def _decontaminate_batch(
    batch_df: DataFrame,
    batch_id: int,
    eval_df: DataFrame,
    out_path: str,
    id_col: str,
    text_col: str,
    n: int,
    threshold_num: int,
    threshold_den: int,
    max_doc_freq: int | float | None,
    bloom_bits: int | None,
    bloom_hashes: int,
    bloom_state: "BloomState | list[int] | None",
) -> None:
    """One micro-batch of :func:`stream_decontaminate_admission`:
    reject batch docs that contain ≥ threshold of ANY eval doc's
    shingles (``dedup.containment_pairs`` with the batch on the corpus
    side), write the survivors under ``__batch_id=N`` (replay
    idempotent). Module-level for direct replay testability.

    O(batch): the eval set is FIXED and small by definition, the
    batch-side shingle stream is pruned scan-side by the per-sink
    precomputed Bloom of the eval shingles, and there is no growing
    state — batches are independent, so the admitted union equals one
    batch decontamination over the same rows. That equivalence is why
    the sink REFUSES ``max_doc_freq`` (ADVICE r13): the hot-shingle
    document frequency (and a fractional cap's denominator) would be
    measured per micro-batch, making admission batching-dependent —
    hot-drop with the batch face (``dedup.containment_pairs``) over
    the assembled corpus instead."""
    from pyspark_ingestion_spark.operators.dedup import containment_pairs

    # one source evaluation per batch (r14, guide §4): the batch feeds
    # the isEmpty probe, the dirty-id build and the admitted anti-join
    batch = batch_df.select(id_col, text_col).localCheckpoint(eager=True)
    if batch.isEmpty():
        return
    dirty = (
        containment_pairs(
            batch,
            eval_df,
            id_col,
            text_col,
            n=n,
            threshold_num=threshold_num,
            threshold_den=threshold_den,
            max_doc_freq=max_doc_freq,
            bloom_bits=bloom_bits,
            bloom_hashes=bloom_hashes,
            bloom_state=bloom_state,
        )
        .select("corpus_id")
        .distinct()
    )
    admitted = batch.join(
        F.broadcast(dirty), batch[id_col] == dirty["corpus_id"], "left_anti"
    )
    _write_batch_partition(admitted, out_path, batch_id)


def stream_decontaminate_admission(
    stream_df: DataFrame,
    eval_df: DataFrame,
    out_path: str,
    checkpoint: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold_num: int = 1,
    threshold_den: int = 2,
    max_doc_freq: int | float | None = None,
    bloom_bits: int | None = 1 << 16,
    bloom_hashes: int = 4,
) -> None:
    """Continuous DECONTAMINATION admission (r13): each micro-batch of
    training docs drops those ≥ threshold shingle-contained in ANY doc
    of a FIXED eval/benchmark set, and appends the survivors — eval-set
    hygiene enforced at ingest time instead of by a periodic corpus
    sweep. Completes the admission family (exact / LSH near-dup /
    substring / semantic / fingerprint — all vs the GROWING corpus)
    with the one gate whose reference set never grows.

    The fixed reference set is what makes this sink cheap: no index to
    maintain, no compaction, no replay-sensitive state. The eval
    shingle Bloom (``operators/bloom.py``) is densified ONCE at sink
    creation (an O(eval) aggregation + an O(bits/64) collect) and
    embedded as a scan-side predicate in every micro-batch plan, so
    batch shingles that cannot collide with the eval set never enter
    the containment join's exchange; false positives die in the exact
    join, so admission is bit-identical to ``bloom_bits=None``
    (equivalence + prune both pinned in tests). Per-batch cost is
    O(batch shingles) scan + a join against the bounded eval shingle
    table. Exactly-once via the shared ``__batch_id``
    dynamic-overwrite replay contract. Batch-face driver row:
    ``dedup_incremental_decontaminate`` (full SQL oracle).

    ``max_doc_freq`` is REFUSED (ADVICE r13): a hot-shingle document
    frequency (or a fractional cap's denominator) measured per
    micro-batch makes admission depend on how rows were batched,
    breaking the admitted-union ≡ one-shot-batch equivalence this sink
    is built on. Hot-shingle drops belong on the batch face
    (``dedup.containment_pairs(max_doc_freq=...)``) over the assembled
    corpus, where the frequency is measured once over all rows.
    """
    if max_doc_freq is not None:
        raise ValueError(
            "stream_decontaminate_admission does not support max_doc_freq: "
            "per-micro-batch document frequencies would make admission "
            "batching-dependent — hot-drop with the batch face "
            "(dedup.containment_pairs) over the assembled corpus instead"
        )
    state = None
    if bloom_bits is not None:
        from pyspark_ingestion_spark.operators.bloom import (
            bloom_build,
            bloom_state,
        )
        from pyspark_ingestion_spark.operators.dedup import _shingle_table

        # BloomState (not a bare word list): the (bits, hashes) shape
        # travels with the words, so the per-batch probe validates it
        # instead of trusting the sink's arguments (ADVICE r13)
        state = bloom_state(
            bloom_build(
                _shingle_table(eval_df, id_col, text_col, n),
                "shingle",
                bloom_bits,
                bloom_hashes,
            ),
            bloom_bits,
            bloom_hashes,
        )
    _run_foreach_batch(
        stream_df,
        checkpoint,
        lambda batch_df, batch_id: _decontaminate_batch(
            batch_df, batch_id, eval_df, out_path, id_col, text_col,
            n, threshold_num, threshold_den, max_doc_freq,
            bloom_bits, bloom_hashes, state,
        ),
    )
