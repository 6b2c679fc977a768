"""Structured Streaming tests: file-sink ingest, session windows, dedup."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from pyspark_ingestion_spark.streaming.pipeline import (
    read_stream_table,
    run_stream_to_memory,
    sessionized,
    stream_ingest_partitioned,
    tumbling_counts,
)


def test_stream_ingest_partitioned_exactly_once(spark, sf_dir, tmp_path):
    """Checkpointed file-sink ingest; re-running with the same checkpoint
    must not duplicate data (the streaming replacement for sync.json)."""
    out = str(tmp_path / "lake" / "events")
    ckpt = str(tmp_path / "ckpt" / "events")

    stream = read_stream_table(spark, sf_dir, "events").withColumn(
        "YEAR", F.year("ts").cast("string")
    )
    stream_ingest_partitioned(stream, out, ckpt, partition_columns=["YEAR"])

    n_static = spark.read.parquet(f"{sf_dir}/events.parquet").count()
    first = spark.read.parquet(out).count()
    assert first == n_static
    assert os.path.isdir(os.path.join(out, "YEAR=2024"))

    # second increment: no new source files → no new rows (offsets in checkpoint)
    stream2 = read_stream_table(spark, sf_dir, "events").withColumn(
        "YEAR", F.year("ts").cast("string")
    )
    stream_ingest_partitioned(stream2, out, ckpt, partition_columns=["YEAR"])
    assert spark.read.parquet(out).count() == n_static


def test_streaming_session_windows_match_batch(spark, sf_dir):
    """Session windows computed over a stream equal the batch computation."""
    stream = read_stream_table(spark, sf_dir, "events")
    streamed = run_stream_to_memory(sessionized(stream), output_mode="complete")

    from pyspark_ingestion_spark.sources.readers import load_table

    batch = sessionized(load_table(spark, sf_dir, "events"))
    assert streamed.count() == batch.count()
    assert streamed.exceptAll(batch).isEmpty() and batch.exceptAll(streamed).isEmpty()


def test_streaming_drop_duplicates_within_watermark(spark, sf_dir, tmp_path):
    """dropDuplicatesWithinWatermark removes re-deliveries of the same event id."""
    # duplicate the source: two copies of every event
    dup_dir = str(tmp_path / "dups")
    from pyspark_ingestion_spark.sources.readers import load_table

    e = load_table(spark, sf_dir, "events").limit(200)
    e.unionAll(e).coalesce(1).write.parquet(dup_dir)

    schema = spark.read.parquet(dup_dir).schema
    stream = spark.readStream.schema(schema).parquet(dup_dir)
    deduped = stream.withWatermark("ts", "1 hour").dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    result = run_stream_to_memory(deduped, output_mode="append")
    assert result.count() == 200
    assert result.groupBy("event_id").count().filter("count > 1").isEmpty()


def test_tumbling_counts_total_preserved(spark, sf_dir):
    from pyspark_ingestion_spark.sources.readers import load_table

    e = load_table(spark, sf_dir, "events")
    agg = tumbling_counts(e, "1 hour")
    assert agg.agg(F.sum("n")).first()[0] == e.count()


def test_foreach_batch_overwrite_sink(spark, sf_dir, tmp_path):
    """foreachBatch + dynamic partition overwrite: replaying the stream
    with a FRESH checkpoint (simulated replay) rewrites partitions
    instead of duplicating rows."""
    out = str(tmp_path / "fb_lake")
    stream = read_stream_table(spark, sf_dir, "events").withColumn(
        "YEAR", F.year("ts").cast("string")
    )
    from pyspark_ingestion_spark.streaming.pipeline import stream_foreach_batch_overwrite

    stream_foreach_batch_overwrite(stream, out, str(tmp_path / "ck1"), ["YEAR"])
    n = spark.read.parquet(out).count()
    assert n == spark.read.parquet(f"{sf_dir}/events.parquet").count()

    # replay everything (new checkpoint → batch re-delivered) — overwrite
    # keeps the sink idempotent where plain append would double it
    stream2 = read_stream_table(spark, sf_dir, "events").withColumn(
        "YEAR", F.year("ts").cast("string")
    )
    stream_foreach_batch_overwrite(stream2, out, str(tmp_path / "ck2"), ["YEAR"])
    assert spark.read.parquet(out).count() == n


def test_stream_cdc_upsert_applies_changes(spark, tmp_path):
    """CDC feed applied through real Structured Streaming foreachBatch:
    latest-wins per key + tombstones, same result as the batch merge."""
    from pyspark_ingestion_spark.ingestion.cdc import cdc_upsert
    from pyspark_ingestion_spark.sources.writers import write_partitioned
    from pyspark_ingestion_spark.streaming.pipeline import stream_cdc_upsert

    feed_dir = str(tmp_path / "feed")
    base = spark.createDataFrame(
        [(1, "a-v1", 100, "2019", False), (3, "c-v1", 100, "2020", False)],
        "id long, val string, ver long, YEAR string, deleted boolean",
    )
    lake = str(tmp_path / "lake")
    write_partitioned(base.drop("deleted"), lake, partition_columns=["YEAR"],
                      mode="overwrite", compression="snappy")

    changes = spark.createDataFrame(
        [(1, "a-v2", 200, "2019", False),
         (2, "b-v1", 200, "2019", False),
         (3, None, 200, "2020", True)],
        "id long, val string, ver long, YEAR string, deleted boolean",
    )
    changes.write.parquet(feed_dir)

    stream = spark.readStream.schema(changes.schema).parquet(feed_dir)
    stream_cdc_upsert(
        stream, lake, checkpoint=str(tmp_path / "ckpt"),
        key_cols=["id"], order_cols=["ver"], partition_columns=["YEAR"],
        delete_col="deleted",
    )
    out = {r["id"]: r["val"] for r in spark.read.parquet(lake).collect()}
    assert out == {1: "a-v2", 2: "b-v1"}  # 3 tombstoned

    # equivalent batch merge produces the same lake
    lake2 = str(tmp_path / "lake2")
    write_partitioned(base.drop("deleted"), lake2, partition_columns=["YEAR"],
                      mode="overwrite", compression="snappy")
    cdc_upsert(spark, changes, lake2, key_cols=["id"], order_cols=["ver"],
               partition_columns=["YEAR"], delete_col="deleted")
    out2 = {r["id"]: r["val"] for r in spark.read.parquet(lake2).collect()}
    assert out2 == out


def test_stream_dedup_admission_matches_batch_and_restarts(spark, tmp_path):
    """Streaming LSH admission ≡ the sequential batch-mode loop on the
    same micro-batches (growing corpus: rejects depend on earlier
    batches' admissions), and a checkpoint restart continues the grown
    corpus without reprocessing or duplicating earlier batches."""
    import time

    from pyspark_ingestion_spark.operators.dedup import (
        incremental_lsh_rejects,
        release_shingle_caches,
    )
    from pyspark_ingestion_spark.streaming.pipeline import stream_dedup_admission

    mk = lambda words: " ".join(words)  # noqa: E731
    base_t = mk(["alpha", "beta", "gamma", "delta", "epsilon", "zeta",
                 "eta", "theta", "iota", "kappa", "lamda", "mu"])
    u = mk(["red", "green", "blue", "cyan", "magenta", "yellow",
            "black", "white", "orange", "purple", "brown", "pink"])
    v = mk(["one", "two", "three", "four", "five", "six",
            "seven", "eight", "nine", "ten", "eleven", "twelve"])
    w = mk(["north", "south", "east", "west", "up", "down",
            "left", "right", "front", "back", "over", "under"])
    base_corpus = spark.createDataFrame([(0, base_t)], "doc_id int, text string")
    # fileA: 10 = exact dup of corpus → reject; 11 = unique → admit
    file_a = [(10, base_t), (11, u)]
    # fileB: 12 = near-dup of 11 (admitted in A) → reject iff corpus grows;
    #        13 = unique → admit
    near_u = u.replace("pink", "pinkish")
    file_b = [(12, near_u), (13, v)]
    # fileC (after restart): 14 = dup of 13 → reject; 15 = unique → admit
    file_c = [(14, v), (15, w)]

    src = str(tmp_path / "src")
    out = str(tmp_path / "admitted")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)
    kwargs = dict(n=3, num_hashes=8, band_size=2, threshold_num=1,
                  threshold_den=2, max_doc_freq=None)

    def write_file(name, rows):
        spark.createDataFrame(rows, "doc_id int, text string").coalesce(
            1
        ).write.mode("overwrite").parquet(str(tmp_path / ("stage_" + name)))
        # one data file per micro-batch, atomically placed
        import glob as _glob
        import shutil

        part = _glob.glob(str(tmp_path / ("stage_" + name) / "part-*.parquet"))[0]
        shutil.copy(part, os.path.join(src, name + ".parquet"))
        time.sleep(1.1)  # distinct mtimes → deterministic file order

    def run_stream():
        stream = (
            spark.readStream.schema("doc_id int, text string")
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        stream_dedup_admission(stream, base_corpus, out, ckpt, **kwargs)

    write_file("a", file_a)
    write_file("b", file_b)
    run_stream()
    got_ab = {
        r["doc_id"] for r in spark.read.parquet(out).select("doc_id").collect()
    }

    # sequential batch-mode model over the same micro-batches
    def batch_model(batches):
        corpus_rows = [(0, base_t)]
        admitted = set()
        for rows in batches:
            corpus = spark.createDataFrame(corpus_rows, "doc_id int, text string")
            batch = spark.createDataFrame(rows, "doc_id int, text string")
            rej = {
                r["doc_id"]
                for r in incremental_lsh_rejects(
                    corpus, batch, "doc_id", "text", **kwargs
                ).collect()
            }
            release_shingle_caches()
            keep = [r for r in rows if r[0] not in rej]
            admitted |= {r[0] for r in keep}
            corpus_rows += keep
        return admitted

    assert got_ab == batch_model([file_a, file_b]) == {11, 13}

    # restart: add fileC, same checkpoint — only C is processed, against
    # the corpus grown by A and B's admissions
    write_file("c", file_c)
    run_stream()
    got_abc = {
        r["doc_id"] for r in spark.read.parquet(out).select("doc_id").collect()
    }
    assert got_abc == batch_model([file_a, file_b, file_c]) == {11, 13, 15}
    # no duplicated earlier batches: each admitted doc appears exactly once
    counts = (
        spark.read.parquet(out).groupBy("doc_id").count().collect()
    )
    assert all(r["count"] == 1 for r in counts), counts


def test_transform_with_state_matches_apply_in_pandas(spark, sf_dir):
    """transformWithStateInPandas totals ≡ the applyInPandasWithState
    form on the same static input. SKIPS where the worker runtime can't
    start (no protobuf in this container) — the documented env gate;
    the API-level plan construction is still exercised unconditionally."""
    import pytest

    from pyspark_ingestion_spark.streaming.pipeline import (
        read_stream_table,
        run_stream_to_memory,
    )
    from pyspark_ingestion_spark.streaming.stateful import (
        running_user_totals,
        running_user_totals_tws,
        tws_runtime_available,
    )

    stream = read_stream_table(spark, sf_dir, "events")
    tws = running_user_totals_tws(stream)  # plan builds even without runtime
    assert tws.isStreaming
    if not tws_runtime_available():
        pytest.skip("transformWithState worker runtime needs protobuf (absent here)")
    got = sorted(
        map(tuple, run_stream_to_memory(tws, output_mode="update").collect())
    )
    want = sorted(
        map(
            tuple,
            run_stream_to_memory(
                running_user_totals(read_stream_table(spark, sf_dir, "events")),
                output_mode="update",
            ).collect(),
        )
    )
    assert got == want


def test_stream_dedup_admission_replay_is_idempotent(spark, tmp_path):
    """The crash-replay window (restart between the sink's parquet write
    and the checkpoint commit): re-running the SAME batch id must
    reproduce the first attempt's partition, not erase it. The first
    attempt's output is on disk when the replay runs — if it counted as
    corpus, the batch's own docs would reject themselves at Jaccard 1
    and the overwrite would drop them permanently."""
    from pyspark_ingestion_spark.streaming.pipeline import _admit_dedup_batch

    base = spark.createDataFrame(
        [(0, "alpha beta gamma delta epsilon zeta eta theta iota kappa")],
        "doc_id int, text string",
    )
    batch = spark.createDataFrame(
        [(10, "one two three four five six seven eight nine ten"),
         (11, "alpha beta gamma delta epsilon zeta eta theta iota kappa")],
        "doc_id int, text string",
    )
    out = str(tmp_path / "admitted")
    kwargs = dict(id_col="doc_id", text_col="text", n=3, num_hashes=8,
                  band_size=2, threshold_num=1, threshold_den=2,
                  max_doc_freq=None, max_bucket_size=None)
    _admit_dedup_batch(batch, 0, base, out, **kwargs)
    first = sorted(r["doc_id"] for r in spark.read.parquet(out).collect())
    assert first == [10]  # 11 is an exact dup of the base corpus
    # replay the same batch id — the crash-recovery path
    _admit_dedup_batch(batch, 0, base, out, **kwargs)
    replay = sorted(r["doc_id"] for r in spark.read.parquet(out).collect())
    assert replay == first, (first, replay)


def test_foreach_batch_overwrite_guard_survives_restart(spark, sf_dir, tmp_path):
    """The partition-clash guard is durable: a SECOND AvailableNow
    increment (fresh sink invocation, new batch ids) carrying an
    already-owned partition value must fail loudly instead of silently
    erasing the first increment's rows."""
    import pytest

    from pyspark_ingestion_spark.streaming.pipeline import (
        stream_foreach_batch_overwrite,
    )

    src = str(tmp_path / "src")
    path = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    df1 = spark.createDataFrame([(1, "a", "d1")], "id int, v string, day string")
    df1.coalesce(1).write.parquet(src)
    stream1 = spark.readStream.schema("id int, v string, day string").parquet(src)
    stream_foreach_batch_overwrite(stream1, path, ckpt, ["day"])
    assert {r["id"] for r in spark.read.parquet(path).collect()} == {1}

    # second increment re-carrying day=d1 (plus a new file so a batch fires)
    spark.createDataFrame([(2, "b", "d1")], "id int, v string, day string")\
        .coalesce(1).write.mode("append").parquet(src)
    stream2 = spark.readStream.schema("id int, v string, day string").parquet(src)
    with pytest.raises(Exception, match="already written"):
        stream_foreach_batch_overwrite(stream2, path, ckpt, ["day"])
    # the first increment's data survived the rejected overwrite
    assert {r["id"] for r in spark.read.parquet(path).collect()} == {1}


def test_stateful_totals_all_null_values_emit_null(spark, tmp_path):
    """A key whose values are all NULL emits total_value NULL (pandas
    sums all-NaN to 0.0; the batch-groupBy parity contract requires
    NULL)."""
    from pyspark_ingestion_spark.streaming.pipeline import run_stream_to_memory
    from pyspark_ingestion_spark.streaming.stateful import running_user_totals

    src = str(tmp_path / "src")
    spark.createDataFrame(
        [(1, None), (1, None), (2, 5.0)], "user_id long, value double"
    ).coalesce(1).write.parquet(src)
    stream = spark.readStream.schema("user_id long, value double").parquet(src)
    got = {
        r["user_id"]: (r["n_events"], r["total_value"])
        for r in run_stream_to_memory(
            running_user_totals(stream), output_mode="update"
        ).collect()
    }
    assert got[1] == (2, None), got
    assert got[2] == (1, 5.0), got


def _mk_admission_files(spark, tmp_path, src, files, schema="doc_id int, text string"):
    """Stage each (name, rows) as ONE parquet data file in src, with
    distinct mtimes so maxFilesPerTrigger=1 yields deterministic
    micro-batch order."""
    import glob as _glob
    import shutil
    import time

    os.makedirs(src, exist_ok=True)
    for name, rows in files:
        stage = str(tmp_path / ("stage_" + name))
        spark.createDataFrame(rows, schema).coalesce(
            1
        ).write.mode("overwrite").parquet(stage)
        part = _glob.glob(os.path.join(stage, "part-*.parquet"))[0]
        shutil.copy(part, os.path.join(src, name + ".parquet"))
        time.sleep(1.1)


@pytest.mark.parametrize("index_mode", ["hotlog"])
def test_stream_dedup_admission_indexed_matches_recompute(
    spark, tmp_path, index_mode
):
    """The incremental-band-table form (df-delta + hot-transition log,
    zero corpus-wide read-path aggregates; the crossing batch re-bands
    eagerly), reached through the entry point's ``index_mode`` keyword,
    admits EXACTLY the docs the recompute form admits on the same
    micro-batches — including across a df-cap transition (a boilerplate
    shingle crossing max_doc_freq mid-stream forces re-banding of
    already-indexed corpus docs), and
    across a checkpoint restart. Also proves re-banding actually
    happened (the index holds a newer band version for a base doc)."""
    from pyspark_ingestion_spark.operators.dedup import (
        incremental_lsh_rejects,
        release_shingle_caches,
    )
    from pyspark_ingestion_spark.streaming.pipeline import stream_dedup_admission

    boiler = "the quick brown fox jumps over the lazy dog again and again"
    base_rows = [
        (0, boiler + " alpha beta gamma delta epsilon zeta"),
        (1, boiler + " eta theta iota kappa lamda mu"),
    ]
    file_a = [
        (10, boiler + " red green blue cyan magenta yellow"),  # boiler df→3: hot next batch
        (11, "one two three four five six seven eight nine ten eleven twelve"),
    ]
    file_b = [
        # shares ONLY boilerplate with the corpus — after the cap fires,
        # boiler shingles vanish from both sides, so this must ADMIT;
        # without re-banding the stale base-doc bands it would collide
        (12, boiler + " north south east west up down"),
        (13, "unus duo tres quattuor quinque sex septem octo novem decem"),
    ]
    file_c = [
        (14, "unus duo tres quattuor quinque sex septem octo novem decem"),  # dup of 13
        (15, "voro fero gero curo duco dico disco posco pasco nosco"),
    ]
    base_corpus = spark.createDataFrame(base_rows, "doc_id int, text string")
    kwargs = dict(n=3, num_hashes=8, band_size=2, threshold_num=1,
                  threshold_den=2, max_doc_freq=2, max_bucket_size=None)

    src = str(tmp_path / "src")
    _mk_admission_files(spark, tmp_path, src, [("a", file_a), ("b", file_b)])

    def run(out, ckpt, index_path):
        stream = (
            spark.readStream.schema("doc_id int, text string")
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        stream_dedup_admission(
            stream, base_corpus, out, ckpt, index_path=index_path,
            index_mode=index_mode, **kwargs
        )

    out_r = str(tmp_path / "out_recompute")
    out_i = str(tmp_path / "out_indexed")
    index = str(tmp_path / "index")
    run(out_r, str(tmp_path / "ckpt_r"), None)
    run(out_i, str(tmp_path / "ckpt_i"), index)

    def admitted_by_batch(path):
        return {
            (r["__batch_id"], r["doc_id"])
            for r in spark.read.parquet(path).select("__batch_id", "doc_id").collect()
        }

    got_r, got_i = admitted_by_batch(out_r), admitted_by_batch(out_i)
    assert got_i == got_r, (sorted(got_i), sorted(got_r))

    # sequential batch-mode model (recompute semantics) agrees too
    model_kwargs = {k: v for k, v in kwargs.items() if k != "max_bucket_size"}
    corpus_rows, admitted = list(base_rows), set()
    for rows in [file_a, file_b]:
        corpus = spark.createDataFrame(corpus_rows, "doc_id int, text string")
        batch = spark.createDataFrame(rows, "doc_id int, text string")
        rej = {
            r["doc_id"]
            for r in incremental_lsh_rejects(
                corpus, batch, "doc_id", "text", **model_kwargs
            ).collect()
        }
        release_shingle_caches()
        keep = [r for r in rows if r[0] not in rej]
        admitted |= {r[0] for r in keep}
        corpus_rows += keep
    assert {d for _, d in got_i} == admitted
    assert 12 in admitted  # the cap transition actually mattered

    # re-banding proof: some base/early doc carries band rows in a LATER
    # index partition than its admission partition (shadowing the stale ones)
    bands = spark.read.parquet(f"{index}/bands")
    vers = {
        (r["doc"], int(r["__batch_id"])) for r in bands.select("doc", "__batch_id").collect()
    }
    rebanded = {d for d, v in vers if d in (0, 1, 10) and v > (-1 if d in (0, 1) else 0)}
    assert rebanded, sorted(vers)

    # restart: file C continues the same checkpoint + index
    _mk_admission_files(spark, tmp_path, src, [("c", file_c)])
    run(out_r, str(tmp_path / "ckpt_r"), None)
    run(out_i, str(tmp_path / "ckpt_i"), index)
    got_r3, got_i3 = admitted_by_batch(out_r), admitted_by_batch(out_i)
    assert got_i3 == got_r3
    assert {d for _, d in got_i3} - {d for _, d in got_i} == {15}  # 14 rejected vs 13


def test_indexed_admission_replay_and_corpus_text_free_plan(spark, tmp_path):
    """(1) Replaying a micro-batch through _admit_dedup_batch_indexed
    reproduces (never erases) the first attempt across every index
    table (incl. the dfcnt/hot log); (2) the per-batch admission
    plan reads ONLY the index and the batch — the corpus text (out_path
    or the base corpus's source) appears nowhere in it. This is the
    100 TB property the indexed form exists for: per-batch work is
    O(batch + index read-back), never O(corpus re-shingle)."""
    from pyspark_ingestion_spark.streaming.pipeline import (
        _admit_dedup_batch_indexed,
        _indexed_rejects_hotlog,
    )

    base_path = str(tmp_path / "base_docs")
    spark.createDataFrame(
        [(0, "alpha beta gamma delta epsilon zeta eta theta")],
        "doc_id int, text string",
    ).write.parquet(base_path)
    base = spark.read.parquet(base_path)

    out = str(tmp_path / "admitted")
    index = str(tmp_path / "index")
    kwargs = dict(id_col="doc_id", text_col="text", n=3, num_hashes=8,
                  band_size=2, threshold_num=1, threshold_den=2,
                  max_doc_freq=2, max_bucket_size=None)

    b0 = spark.createDataFrame(
        [(10, "alpha beta gamma delta epsilon zeta eta thetax"),  # near-dup → reject
         (11, "one two three four five six seven eight")],
        "doc_id int, text string",
    )
    _admit_dedup_batch_indexed(b0, 0, base, out, index, **kwargs)

    tables = ["postings", "bands", "dfcnt", "hot"]

    def snap():
        out_rows = {tuple(r) for r in spark.read.parquet(out).collect()}
        idx_rows = []
        for t in tables:
            try:
                idx_rows.append(
                    (t, frozenset(
                        tuple(r) for r in spark.read.parquet(f"{index}/{t}").collect()
                    ))
                )
            except Exception:
                idx_rows.append((t, None))  # empty table with no files yet
        return out_rows, tuple(idx_rows)

    first = snap()
    assert {r[0] for r in first[0]} == {11}
    _admit_dedup_batch_indexed(b0, 0, base, out, index, **kwargs)  # replay
    assert snap() == first

    # plan property: batch 1's rejects plan scans index + batch only
    b1 = spark.createDataFrame(
        [(12, "nine ten eleven twelve thirteen fourteen fifteen sixteen")],
        "doc_id int, text string",
    )
    rejects, _sb = _indexed_rejects_hotlog(
        spark, b1.select("doc_id", "text"), index, 1,
        "doc_id", 3, 8, 2, 1, 2, 2, None,
    )
    # inputFiles = every file any scan in the plan would read
    files = rejects.inputFiles()
    assert files, "expected index scans in the plan"
    assert not any("base_docs" in f for f in files), files
    assert not any("/admitted/" in f for f in files), files  # out_path text never read
    assert any("/postings/" in f for f in files), files
    rejects.collect()  # and it actually runs


def test_hotlog_mode_rejects_fractional_cap(spark, tmp_path):
    """The index's correctness rests on hot-set monotonicity, which a
    fractional df cap breaks (the threshold count moves with corpus
    size): every entry point that is given an index path must fail fast
    and point at the recompute form, not silently mis-admit. The retired
    fingerprint index mode is refused by name, and the recompute form
    (no index path) still admits under a fractional cap."""
    from pyspark_ingestion_spark.streaming.pipeline import (
        _admit_dedup_batch_indexed,
        init_dedup_admission_index,
        stream_dedup_admission,
    )

    base = spark.createDataFrame([(0, "a b c d e f")], "doc_id int, text string")
    b = spark.createDataFrame([(1, "g h i j k l")], "doc_id int, text string")
    out, idx = str(tmp_path / "o"), str(tmp_path / "i")
    lsh = dict(n=3, num_hashes=8, band_size=2, threshold_num=1, threshold_den=2)
    with pytest.raises(ValueError, match="INTEGER max_doc_freq.*index_path=None"):
        stream_dedup_admission(
            b, base, out, str(tmp_path / "c"), index_path=idx, max_doc_freq=0.5
        )
    with pytest.raises(ValueError, match="INTEGER max_doc_freq"):
        init_dedup_admission_index(base, idx, max_doc_freq=0.5)
    with pytest.raises(ValueError, match="INTEGER max_doc_freq"):
        _admit_dedup_batch_indexed(
            b, 0, base, out, idx, id_col="doc_id", text_col="text",
            max_doc_freq=0.5, max_bucket_size=None, **lsh,
        )
    with pytest.raises(ValueError, match="fingerprint index mode was retired"):
        stream_dedup_admission(
            b, base, out, str(tmp_path / "c"), index_path=idx,
            index_mode="fingerprint",
        )
    assert not os.path.exists(out) and not os.path.exists(idx)

    # recompute form: the fractional cap is accepted and the stream admits
    src = str(tmp_path / "src")
    _mk_admission_files(spark, tmp_path, src, [("a", [(1, "g h i j k l")])])
    stream = spark.readStream.schema("doc_id int, text string").parquet(src)
    stream_dedup_admission(
        stream, base, out, str(tmp_path / "ckpt"), max_doc_freq=0.5, **lsh
    )
    assert {r["doc_id"] for r in spark.read.parquet(out).collect()} == {1}


def test_stream_token_cms_matches_batch_and_replays(spark, tmp_path):
    """The incrementally maintained CMS equals the batch sketch over the
    concatenated corpus CELL FOR CELL (counter merge is exact, unlike
    the LSH index there is no staleness to manage), restart-continues
    across checkpoints, and a replayed micro-batch rewrites its own
    delta rather than double-counting."""
    from pyspark_ingestion_spark.operators.profiling import token_cms_cells
    from pyspark_ingestion_spark.streaming.pipeline import (
        read_token_cms,
        stream_token_cms,
    )

    file_a = [(1, "alpha beta alpha gamma"), (2, "beta beta delta")]
    file_b = [(3, "alpha epsilon"), (4, "zeta beta alpha alpha")]
    src = str(tmp_path / "src")
    _mk_admission_files(spark, tmp_path, src, [("a", file_a)])

    cms_path = str(tmp_path / "cms")
    ckpt = str(tmp_path / "ckpt")
    kwargs = dict(text_col="text", depth=4, width=32)

    def run():
        stream = (
            spark.readStream.schema("doc_id int, text string")
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        # compact_every=1: every batch after the first folds committed
        # deltas into the base MID-STREAM — the merged sketch must be
        # invariant under it (cell-wise sum is associative)
        stream_token_cms(stream, cms_path, ckpt, compact_every=1, **kwargs)

    def cells(df):
        return {(r["i"], r["bucket"]): r["cnt"] for r in df.collect()}

    run()  # batch 0 = file a
    batch_a = spark.createDataFrame(file_a, "doc_id int, text string")
    assert cells(read_token_cms(spark, cms_path)) == cells(
        token_cms_cells(batch_a, **kwargs)
    )

    # restart: file b arrives, same checkpoint continues from the offset
    _mk_admission_files(spark, tmp_path, src, [("b", file_b)])
    run()
    both = spark.createDataFrame(file_a + file_b, "doc_id int, text string")
    merged = cells(read_token_cms(spark, cms_path))
    assert merged == cells(token_cms_cells(both, **kwargs))

    # replay: re-running a batch id overwrites its delta, never adds.
    # Only an UNCOMMITTED batch can replay, and the in-sink fold's
    # commit guard never touches one — so the replayable partition is
    # exactly the newest batch (1 = file b), whose delta is still its
    # own partition (batch 1's fold ran BEFORE its write and covered
    # only batch 0)
    from pyspark_ingestion_spark.sources.writers import overwrite_partitions

    from pyspark.sql import functions as F

    batch_b = spark.createDataFrame(file_b, "doc_id int, text string")
    delta = token_cms_cells(batch_b, **kwargs).withColumn("__batch_id", F.lit(1))
    overwrite_partitions(delta, cms_path, ["__batch_id"])
    assert cells(read_token_cms(spark, cms_path)) == merged
    # and the folded base really exists (mid-stream compaction ran)
    parts = {int(r["__batch_id"]) for r in spark.read.parquet(cms_path)
             .select("__batch_id").distinct().collect()}
    assert -1 in parts and 0 not in parts, parts

    # the sketch estimates really come from these cells: 'alpha' appears
    # 5x across both files and CMS can only overestimate
    import hashlib

    def bucket(i, term, width=32):
        return int(hashlib.md5(f"{i}|{term}".encode()).hexdigest()[:15], 16) % width

    est = min(merged.get((i, bucket(i, "alpha")), 0) for i in range(4))
    assert est >= 5


def test_hotlog_bootstrap_crash_window_rerolls(spark, tmp_path):
    """The hotlog bootstrap's write order is load-bearing: dfcnt is the
    completion probe AND the last table written, so a crash after the
    hot write but before the dfcnt write re-runs the (idempotent)
    bootstrap on the next batch instead of proceeding with a
    half-seeded index. Simulated by deleting dfcnt from a completed
    bootstrap: the next batch must restore it and admit exactly what an
    uninterrupted run admits."""
    import shutil

    from pyspark_ingestion_spark.streaming.pipeline import (
        _admit_dedup_batch_indexed,
    )

    # boilerplate shingle over the cap in the BASE corpus — the hot seed
    # whose loss the old probe order could never repair
    base = spark.createDataFrame(
        [(0, "one two three four aaa bbb ccc"),
         (1, "five six seven eight aaa bbb ccc"),
         (2, "nine ten eleven twelve aaa bbb ccc")],
        "doc_id int, text string",
    )
    b0 = spark.createDataFrame(
        [(10, "thirteen fourteen fifteen sixteen aaa bbb ccc")],
        "doc_id int, text string",
    )
    kwargs = dict(id_col="doc_id", text_col="text", n=3, num_hashes=8,
                  band_size=2, threshold_num=1, threshold_den=2,
                  max_doc_freq=2, max_bucket_size=None)

    from pyspark_ingestion_spark.streaming.pipeline import (
        _BOOTSTRAP_SEEN,
        init_dedup_admission_index,
    )

    init_kwargs = dict(id_col="doc_id", text_col="text", n=3, num_hashes=8,
                       band_size=2, max_doc_freq=2)

    out_a, idx_a = str(tmp_path / "out_a"), str(tmp_path / "idx_a")
    _admit_dedup_batch_indexed(b0, 0, base, out_a, idx_a, **kwargs)
    clean = {r["doc_id"] for r in spark.read.parquet(out_a).collect()}

    out_b, idx_b = str(tmp_path / "out_b"), str(tmp_path / "idx_b")
    # simulate the crash window: the bootstrap wrote postings/bands/hot
    # but died before dfcnt (its LAST write = the completion probe)
    init_dedup_admission_index(base, idx_b, **init_kwargs)
    shutil.rmtree(f"{idx_b}/dfcnt")
    _BOOTSTRAP_SEEN.clear()  # the crash ended the process: the probe reads afresh
    for t in ("postings", "bands", "hot"):
        spark.read.parquet(f"{idx_b}/{t}")  # the rest of the bootstrap exists
    _admit_dedup_batch_indexed(b0, 0, base, out_b, idx_b, **kwargs)
    # bootstrap re-ran: dfcnt restored with the base seed, admissions agree
    df = spark.read.parquet(f"{idx_b}/dfcnt")
    assert df.filter(F.col("__batch_id").cast("long") == -1).head(1)
    got = {r["doc_id"] for r in spark.read.parquet(out_b).collect()}
    assert got == clean, (got, clean)


def test_dedup_index_without_dfcnt_refuses_bootstrap(spark, tmp_path):
    """An index that already holds admitted batches but has no dfcnt
    table (the layout the retired fingerprint index mode wrote:
    postings and bands partitions -1 and 0, no dfcnt or hot) must not be
    bootstrapped again — that would re-seed the df counts from the base
    corpus alone and undercount every admitted doc. The next batch of a
    new process raises, naming the index, and writes nothing; so does a
    compacted copy of that index, whose only trace of batch 0 is the
    out_path partition."""
    import shutil

    from pyspark_ingestion_spark.streaming.pipeline import (
        _BOOTSTRAP_SEEN,
        _admit_dedup_batch_indexed,
        compact_admission_index,
    )

    base = spark.createDataFrame(
        [(0, "one two three four five six seven"),
         (1, "eight nine ten eleven twelve thirteen")],
        "doc_id int, text string",
    )
    b0 = spark.createDataFrame(
        [(10, "fourteen fifteen sixteen seventeen eighteen")],
        "doc_id int, text string",
    )
    b1 = spark.createDataFrame(
        [(20, "nineteen twenty twentyone twentytwo twentythree")],
        "doc_id int, text string",
    )
    kwargs = dict(id_col="doc_id", text_col="text", n=3, num_hashes=8,
                  band_size=2, threshold_num=1, threshold_den=2,
                  max_doc_freq=2, max_bucket_size=None)
    out, idx = str(tmp_path / "out"), str(tmp_path / "idx")
    _admit_dedup_batch_indexed(b0, 0, base, out, idx, **kwargs)
    for t in ("dfcnt", "hot"):
        shutil.rmtree(f"{idx}/{t}", ignore_errors=True)
    for t in ("postings", "bands"):
        assert {p for p in os.listdir(f"{idx}/{t}") if p.startswith("__")} == {
            "__batch_id=-1", "__batch_id=0"
        }

    for compacted in (False, True):
        if compacted:
            compact_admission_index(spark, idx)
            assert not os.path.exists(f"{idx}/postings/__batch_id=0")
        _BOOTSTRAP_SEEN.clear()  # a new process: the probe reads afresh
        with pytest.raises(ValueError, match="no dfcnt table") as err:
            _admit_dedup_batch_indexed(b1, 1, base, out, idx, **kwargs)
        assert idx in str(err.value)
        assert not os.path.exists(f"{out}/__batch_id=1")
        assert not os.path.exists(f"{idx}/dfcnt")


def test_compact_admission_bands_preserves_admissions(spark, tmp_path):
    """Folding the versioned band partitions into the base partition is
    invisible to admission: across a forced cap transition (which writes
    re-band versions — the very rows latest-wins exists for), the
    effective band table before and after compaction is identical, only
    partition -1 survives, and the next batch admits exactly what an
    uncompacted twin index admits. Compaction is also idempotent."""
    from pyspark_ingestion_spark.streaming.pipeline import (
        _admit_dedup_batch_indexed,
        _read_latest_bands,
        compact_admission_bands,
    )

    base = spark.createDataFrame(
        [(0, "one two three four boiler plate text"),
         (1, "five six seven eight nine ten eleven")],
        "doc_id int, text string",
    )
    # batch 0 pushes the boilerplate shingle over the cap -> re-bands
    b0 = spark.createDataFrame(
        [(10, "twelve thirteen fourteen boiler plate text"),
         (11, "fifteen sixteen seventeen boiler plate text")],
        "doc_id int, text string",
    )
    b1 = spark.createDataFrame(
        [(20, "one two three four boiler plate text"),   # dup of 0
         (21, "eighteen nineteen twenty twentyone")],
        "doc_id int, text string",
    )
    kwargs = dict(id_col="doc_id", text_col="text", n=3, num_hashes=8,
                  band_size=2, threshold_num=1, threshold_den=2,
                  max_doc_freq=2, max_bucket_size=None)

    paths = {}
    for arm in ("plain", "compacted"):
        out, idx = str(tmp_path / f"out_{arm}"), str(tmp_path / f"idx_{arm}")
        paths[arm] = (out, idx)
        _admit_dedup_batch_indexed(b0, 0, base, out, idx, **kwargs)

    out_c, idx_c = paths["compacted"]
    before = {
        tuple(r) for r in _read_latest_bands(
            spark, f"{idx_c}/bands", exclude_batch_id=-2).collect()
    }
    removed = compact_admission_bands(spark, idx_c)
    assert removed >= 1
    after = {
        tuple(r) for r in _read_latest_bands(
            spark, f"{idx_c}/bands", exclude_batch_id=-2).collect()
    }
    assert after == before
    parts = {
        r["__batch_id"]
        for r in spark.read.parquet(f"{idx_c}/bands")
        .select(F.col("__batch_id").cast("long").alias("__batch_id"))
        .distinct().collect()
    }
    assert parts == {-1}, parts
    assert compact_admission_bands(spark, idx_c) == 0  # idempotent

    for arm in ("plain", "compacted"):
        out, idx = paths[arm]
        _admit_dedup_batch_indexed(b1, 1, base, out, idx, **kwargs)
    admitted = {
        arm: {r["doc_id"] for r in spark.read.parquet(paths[arm][0]).collect()}
        for arm in paths
    }
    assert admitted["plain"] == admitted["compacted"]
    assert 20 not in admitted["plain"] and 21 in admitted["plain"]


def test_compact_admission_bands_staging_resume_and_commit_guard(spark, tmp_path):
    """(1) WRITE-AHEAD durability: with the staging manifest present, a
    re-run resumes from the staged rows even if the base partition was
    destroyed mid-overwrite (the exact crash window dynamic overwrite
    opens) — nothing banded only at bootstrap is lost. (2) The
    checkpoint guard refuses to fold a band partition with no commit
    marker, and accepts once the marker exists."""
    import json
    import os
    import shutil

    from pyspark_ingestion_spark.streaming.pipeline import (
        _admit_dedup_batch_indexed,
        _read_latest_bands,
        compact_admission_bands,
    )

    base = spark.createDataFrame(
        [(0, "one two three four five six seven"),
         (1, "eight nine ten eleven twelve thirteen")],
        "doc_id int, text string",
    )
    b0 = spark.createDataFrame(
        [(10, "fourteen fifteen sixteen seventeen eighteen")],
        "doc_id int, text string",
    )
    kwargs = dict(id_col="doc_id", text_col="text", n=3, num_hashes=8,
                  band_size=2, threshold_num=1, threshold_den=2,
                  max_doc_freq=2, max_bucket_size=None)

    out, idx = str(tmp_path / "out"), str(tmp_path / "idx")
    _admit_dedup_batch_indexed(b0, 0, base, out, idx, **kwargs)
    want = {
        tuple(r) for r in _read_latest_bands(
            spark, f"{idx}/bands", exclude_batch_id=-2).collect()
    }

    # (1) simulate the crashed first attempt: staging written + manifest
    # committed, base partition then DESTROYED by the interrupted
    # overwrite, batch partitions already deleted
    staging = f"{idx}/bands__compact_staging"
    _read_latest_bands(spark, f"{idx}/bands", exclude_batch_id=-2).write.mode(
        "overwrite"
    ).parquet(staging)
    with open(os.path.join(staging, "_manifest.json"), "w") as f:
        json.dump({"covered": [0]}, f)
    shutil.rmtree(f"{idx}/bands/__batch_id=-1")
    shutil.rmtree(f"{idx}/bands/__batch_id=0")
    assert compact_admission_bands(spark, idx) == 1  # resumes from staging
    got = {
        tuple(r) for r in _read_latest_bands(
            spark, f"{idx}/bands", exclude_batch_id=-2).collect()
    }
    assert got == want
    assert not os.path.exists(staging)

    # (2) commit guard: a band partition without a commit marker refuses
    out2, idx2 = str(tmp_path / "out2"), str(tmp_path / "idx2")
    ckpt = str(tmp_path / "ckpt")
    _admit_dedup_batch_indexed(b0, 0, base, out2, idx2, **kwargs)
    os.makedirs(os.path.join(ckpt, "commits"), exist_ok=True)
    with pytest.raises(ValueError, match="no commit marker"):
        compact_admission_bands(spark, idx2, checkpoint=ckpt)
    with open(os.path.join(ckpt, "commits", "0"), "w") as f:
        f.write("v1")
    assert compact_admission_bands(spark, idx2, checkpoint=ckpt) == 1


def test_compact_admission_index_hotlog_tables(spark, tmp_path):
    """Full-index compaction on a hotlog index: dfcnt folds by exact
    per-shingle SUM (delta partitions are counters), hot by distinct
    union, bands by latest-wins — cumulative df counts, the hot set,
    and subsequent admissions are all invariant, and each table ends
    single-partitioned. The uncompacted twin admits identically."""
    from pyspark_ingestion_spark.streaming.pipeline import (
        _admit_dedup_batch_indexed,
        compact_admission_index,
    )

    base = spark.createDataFrame(
        [(0, "one two three four boiler plate text"),
         (1, "five six seven eight nine ten eleven")],
        "doc_id int, text string",
    )
    b0 = spark.createDataFrame(
        [(10, "twelve thirteen fourteen boiler plate text")],
        "doc_id int, text string",
    )
    b1 = spark.createDataFrame(
        [(20, "fifteen sixteen seventeen boiler plate text"),  # crosses cap
         (21, "eighteen nineteen twenty twentyone twentytwo")],
        "doc_id int, text string",
    )
    b2 = spark.createDataFrame(
        [(30, "one two three four boiler plate text"),   # dup of 0
         (31, "alpha beta gamma delta epsilon zeta")],
        "doc_id int, text string",
    )
    kwargs = dict(id_col="doc_id", text_col="text", n=3, num_hashes=8,
                  band_size=2, threshold_num=1, threshold_den=2,
                  max_doc_freq=2, max_bucket_size=None)

    paths = {}
    for arm in ("plain", "compacted"):
        out, idx = str(tmp_path / f"out_{arm}"), str(tmp_path / f"idx_{arm}")
        paths[arm] = (out, idx)
        _admit_dedup_batch_indexed(b0, 0, base, out, idx, **kwargs)
        _admit_dedup_batch_indexed(b1, 1, base, out, idx, **kwargs)

    out_c, idx_c = paths["compacted"]

    def dfcnt_totals(idx):
        return {
            r["shingle"]: r["total"]
            for r in spark.read.parquet(f"{idx}/dfcnt")
            .groupBy("shingle").agg(F.sum("cnt").alias("total")).collect()
        }

    def hot_set(idx):
        return {r["shingle"]
                for r in spark.read.parquet(f"{idx}/hot").collect()}

    cnt_before, hot_before = dfcnt_totals(idx_c), hot_set(idx_c)
    removed = compact_admission_index(spark, idx_c)
    assert removed["bands"] >= 1 and removed["dfcnt"] >= 1
    assert dfcnt_totals(idx_c) == cnt_before
    assert hot_set(idx_c) == hot_before
    for t in ("bands", "dfcnt", "hot"):
        parts = {
            r["__batch_id"]
            for r in spark.read.parquet(f"{idx_c}/{t}")
            .select(F.col("__batch_id").cast("long").alias("__batch_id"))
            .distinct().collect()
        }
        assert parts == {-1}, (t, parts)

    for arm in ("plain", "compacted"):
        out, idx = paths[arm]
        _admit_dedup_batch_indexed(b2, 2, base, out, idx, **kwargs)
    admitted = {
        arm: {(r["__batch_id"], r["doc_id"])
              for r in spark.read.parquet(paths[arm][0])
              .select("__batch_id", "doc_id").collect()}
        for arm in paths
    }
    assert admitted["plain"] == admitted["compacted"]


def test_compact_versioned_table_aborts_on_mid_merge_landing(spark, tmp_path):
    """The offline precondition is now DETECTED, not assumed (ADVICE r6):
    if a batch partition lands between the covered listing and the merge
    scan — so its rows are in staging but its partition is not in the
    delete set, a silent double-count for the dfcnt SUM merge — the run
    aborts BEFORE the manifest, rolls staging back, and a clean re-run
    folds everything exactly once."""
    import os

    from pyspark_ingestion_spark.streaming.pipeline import (
        _compact_versioned_table,
    )

    table = str(tmp_path / "dfcnt")
    for b, cnt in ((-1, 5), (0, 2)):
        spark.createDataFrame([("sh", cnt)], "shingle string, cnt long").write.parquet(
            f"{table}/__batch_id={b}"
        )

    def racing_merge(path, keep_ids):
        # a streaming batch commits while the merge scan runs
        spark.createDataFrame([("sh", 7)], "shingle string, cnt long").write.parquet(
            f"{path}/__batch_id=1"
        )
        return (
            spark.read.parquet(path)
            .filter(F.col("__batch_id").cast("long").isin(keep_ids))
            .groupBy("shingle").agg(F.sum("cnt").alias("cnt"))
        )

    with pytest.raises(RuntimeError, match="landed during the merge scan"):
        _compact_versioned_table(spark, table, racing_merge, None)
    assert not os.path.exists(f"{table}__compact_staging")  # rolled back
    # nothing was folded or deleted: all three partitions intact
    parts = {int(r["__batch_id"]) for r in spark.read.parquet(table)
             .select("__batch_id").distinct().collect()}
    assert parts == {-1, 0, 1}

    # quiescent re-run folds exactly once: total conserved, one partition
    def clean_merge(path, keep_ids):
        return (
            spark.read.parquet(path)
            .filter(F.col("__batch_id").cast("long").isin(keep_ids))
            .groupBy("shingle").agg(F.sum("cnt").alias("cnt"))
        )

    assert _compact_versioned_table(spark, table, clean_merge, None) == 2
    rows = spark.read.parquet(table).collect()
    assert len(rows) == 1 and rows[0]["cnt"] == 14
    assert {int(r["__batch_id"]) for r in rows} == {-1}


@pytest.mark.parametrize("index_mode", ["hotlog"])
def test_in_sink_auto_compaction_matches_recompute(spark, tmp_path, index_mode):
    """compact_every fires compact_admission_index MID-STREAM — inside
    the sink, between micro-batches, with no maintenance window — and
    the stream still admits exactly what the recompute form admits,
    across a df-cap transition and a checkpoint restart. After each
    compaction batch the versioned tables hold only {base, that batch},
    and a REPLAY of the compaction batch (its own partitions on disk but
    uncommitted, the on_uncommitted='skip' case) reproduces the
    effective index state instead of folding or erasing it. Hotlog's
    hot set stays within its structural bound (hot · cap < postings
    rows, since hot means df > cap)."""
    import shutil

    from pyspark_ingestion_spark.streaming.pipeline import (
        _admit_dedup_batch_indexed,
        _read_latest_bands,
        compact_admission_index,
        stream_dedup_admission,
    )

    boiler = "the quick brown fox jumps over the lazy dog again and again"
    base_rows = [
        (0, boiler + " alpha beta gamma delta epsilon zeta"),
        (1, boiler + " eta theta iota kappa lamda mu"),
    ]
    file_a = [
        (10, boiler + " red green blue cyan magenta yellow"),
        (11, "one two three four five six seven eight nine ten eleven twelve"),
    ]
    file_b = [
        (12, boiler + " north south east west up down"),
        (13, "unus duo tres quattuor quinque sex septem octo novem decem"),
    ]
    file_c = [
        (14, "unus duo tres quattuor quinque sex septem octo novem decem"),
        (15, "voro fero gero curo duco dico disco posco pasco nosco"),
    ]
    base_corpus = spark.createDataFrame(base_rows, "doc_id int, text string")
    kwargs = dict(n=3, num_hashes=8, band_size=2, threshold_num=1,
                  threshold_den=2, max_doc_freq=2, max_bucket_size=None)

    src = str(tmp_path / "src")
    _mk_admission_files(spark, tmp_path, src, [("a", file_a), ("b", file_b)])

    def run(out, ckpt, index_path, **extra):
        stream = (
            spark.readStream.schema("doc_id int, text string")
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        stream_dedup_admission(
            stream, base_corpus, out, ckpt, index_path=index_path,
            index_mode=index_mode, **kwargs, **extra
        )

    out_r, out_i = str(tmp_path / "out_r"), str(tmp_path / "out_i")
    index, ckpt_i = str(tmp_path / "index"), str(tmp_path / "ckpt_i")
    run(out_r, str(tmp_path / "ckpt_r"), None)
    # compact_major_every=1: every in-sink compaction is a MAJOR, so the
    # partition assertions below see a fully-folded index (the LSM minor
    # tier has its own test)
    run(out_i, ckpt_i, index, compact_every=1, compact_major_every=1)

    def admitted(path):
        return {
            (int(r["__batch_id"]), r["doc_id"])
            for r in spark.read.parquet(path).select("__batch_id", "doc_id").collect()
        }

    assert admitted(out_i) == admitted(out_r)
    assert 12 in {d for _, d in admitted(out_i)}  # the cap transition mattered

    # the batch-1 compaction really folded batch 0: only {-1, 1} survive
    tables = ["bands", "postings", "dfcnt", "hot"]
    for t in tables:
        parts = {
            int(r["__batch_id"])
            for r in spark.read.parquet(f"{index}/{t}")
            .select("__batch_id").distinct().collect()
        }
        assert parts <= {-1, 1}, (t, parts)

    # restart continues the same checkpoint + index, compacting again
    _mk_admission_files(spark, tmp_path, src, [("c", file_c)])
    run(out_r, str(tmp_path / "ckpt_r"), None)
    run(out_i, ckpt_i, index, compact_every=1, compact_major_every=1)
    assert admitted(out_i) == admitted(out_r)

    def effective_state():
        bands = frozenset(
            tuple(r) for r in _read_latest_bands(spark, f"{index}/bands", -2).collect()
        )
        extras = (
            frozenset(
                (r["shingle"], r["total"])
                for r in spark.read.parquet(f"{index}/dfcnt")
                .groupBy("shingle").agg(F.sum("cnt").alias("total")).collect()
            ),
            frozenset(
                r["shingle"] for r in spark.read.parquet(f"{index}/hot")
                .select("shingle").distinct().collect()
            ),
        )
        return (admitted(out_i), bands, extras)

    n_posts = spark.read.parquet(f"{index}/postings").count()
    n_hot = spark.read.parquet(f"{index}/hot").select("shingle").distinct().count()
    assert n_hot * kwargs["max_doc_freq"] < n_posts, (n_hot, n_posts)

    # REPLAY of the last (compaction) batch: rebuild the exact restart
    # state — batch 2's partitions on disk, its commit marker absent —
    # and rerun the sink's sequence: skip-mode compaction, then the
    # batch itself. The effective state must come back identical.
    want = effective_state()
    last = max(b for b, _ in admitted(out_i))
    fake_ckpt = str(tmp_path / "fake_ckpt")
    os.makedirs(os.path.join(fake_ckpt, "commits"), exist_ok=True)
    for b in range(last):  # markers for every batch EXCEPT the replaying one
        with open(os.path.join(fake_ckpt, "commits", str(b)), "w") as f:
            f.write("v1")
    compact_admission_index(
        spark, index, checkpoint=fake_ckpt, on_uncommitted="skip"
    )
    # the uncommitted batch's partitions survived the skip-mode fold
    for t in tables:
        parts = {
            int(r["__batch_id"])
            for r in spark.read.parquet(f"{index}/{t}")
            .select("__batch_id").distinct().collect()
        }
        assert parts <= {-1, last}, (t, parts)
    batch = spark.createDataFrame(file_c, "doc_id int, text string")
    _admit_dedup_batch_indexed(
        batch, last, base_corpus, out_i, index, id_col="doc_id",
        text_col="text", **kwargs
    )
    assert effective_state() == want

    # post-compaction fast path: with every version folded into the
    # base, the latest-bands read is a pruned base scan — ZERO Exchange
    shutil.rmtree(fake_ckpt)
    compact_admission_index(spark, index)
    from pyspark_ingestion_spark.plans.explain import shuffle_count

    fast = _read_latest_bands(spark, f"{index}/bands", 999)
    assert shuffle_count(fast) == 0
    assert fast.count() > 0


def test_stream_substring_admission_matches_recompute_and_restarts(spark, tmp_path):
    """The exact-substring streaming sink: indexed form ≡ recompute form
    ≡ a sequential incremental_substring_rejects loop on the same
    micro-batches (growing corpus: batch 2's reject depends on batch 1's
    admission), across a checkpoint restart. The indexed form's admission
    plan reads ONLY the windows index and the batch — corpus text (base
    or out_path) appears nowhere in it, because the index stores the
    window strings the exact verify compares."""
    from pyspark_ingestion_spark.operators.dedup import (
        incremental_substring_rejects,
    )
    from pyspark_ingestion_spark.streaming.pipeline import (
        _substring_rejects_indexed,
        stream_substring_admission,
    )

    base_rows = [(0, "the common preamble text alpha beta gamma delta")]
    file_a = [
        (10, "something with the common preamble text inside it"),  # ⊃ base → reject
        (11, "completely different words over here instead"),       # admit
    ]
    file_b = [
        (12, "echoing different words over here instead too"),  # ⊃ 11 → reject iff corpus grew
        (13, "novel unrelated content of the third batch"),     # admit
    ]
    file_c = [
        (14, "reprise: unrelated content of the third batch"),  # ⊃ 13 → reject
        (15, "fresh text that matches nothing at all, honest"), # admit
    ]
    base_corpus = spark.createDataFrame(base_rows, "doc_id int, text string")
    kwargs = dict(k=10, min_len=None, max_window_df=None, sample_mod=None)

    src = str(tmp_path / "src")
    _mk_admission_files(spark, tmp_path, src, [("a", file_a), ("b", file_b)])

    def run(out, ckpt, index_path):
        stream = (
            spark.readStream.schema("doc_id int, text string")
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        # indexed arm auto-compacts MID-STREAM (majors, so the partition
        # assertion below sees a fully-folded index) — equivalence must
        # hold with compaction interleaved, same bar as the LSH sink
        extra = (
            dict(compact_every=1, compact_major_every=1) if index_path else {}
        )
        stream_substring_admission(
            stream, base_corpus, out, ckpt, index_path=index_path, **kwargs,
            **extra
        )

    out_r, out_i = str(tmp_path / "out_r"), str(tmp_path / "out_i")
    index, ckpt_i = str(tmp_path / "index"), str(tmp_path / "ckpt_i")
    run(out_r, str(tmp_path / "ckpt_r"), None)
    run(out_i, ckpt_i, index)

    def admitted(path):
        return {
            (int(r["__batch_id"]), r["doc_id"])
            for r in spark.read.parquet(path).select("__batch_id", "doc_id").collect()
        }

    assert admitted(out_i) == admitted(out_r)
    assert {d for _, d in admitted(out_i)} == {11, 13}

    # sequential batch-mode model agrees
    corpus_rows, model = list(base_rows), set()
    for rows in [file_a, file_b]:
        corpus = spark.createDataFrame(corpus_rows, "doc_id int, text string")
        batch = spark.createDataFrame(rows, "doc_id int, text string")
        rej = {
            r["doc_id"]
            for r in incremental_substring_rejects(
                corpus, batch, "doc_id", "text", k=10
            ).collect()
        }
        keep = [r for r in rows if r[0] not in rej]
        model |= {r[0] for r in keep}
        corpus_rows += keep
    assert {d for _, d in admitted(out_i)} == model

    # restart continues the same checkpoint + index
    _mk_admission_files(spark, tmp_path, src, [("c", file_c)])
    run(out_r, str(tmp_path / "ckpt_r"), None)
    run(out_i, ckpt_i, index)
    assert admitted(out_i) == admitted(out_r)
    assert {d for _, d in admitted(out_i)} == {11, 13, 15}

    # the mid-stream majors really folded: only {-1, last batch} survive
    parts = {
        int(r["__batch_id"])
        for r in spark.read.parquet(f"{index}/windows")
        .select("__batch_id").distinct().collect()
    }
    assert parts <= {-1, 2}, parts

    # plan property: the indexed rejects read NO text path
    b = spark.createDataFrame([(99, "probe text")], "doc_id int, text string")
    rejects, _wb = _substring_rejects_indexed(
        spark, b, index, 99, "doc_id", "text", 10, 10, None, None
    )
    files = rejects.inputFiles()
    assert files and all("/windows/" in f for f in files), files
    rejects.collect()


def test_substring_admission_indexed_replay_cap_and_min_len(spark, tmp_path):
    """(1) Replaying a micro-batch through _admit_substring_batch_indexed
    reproduces (never erases) the first attempt's output and index rows.
    (2) The read-time window df cap and the min_len diagonal-run
    assembly both match incremental_substring_rejects exactly."""
    from pyspark_ingestion_spark.operators.dedup import (
        incremental_substring_rejects,
    )
    from pyspark_ingestion_spark.streaming.pipeline import (
        _admit_substring_batch_indexed,
        _substring_rejects_indexed,
        init_substring_admission_index,
    )

    base = spark.createDataFrame(
        [(0, "one shared boilerplate phrase plus alpha beta gamma"),
         (1, "one shared boilerplate phrase plus delta epsilon zeta"),
         (2, "one shared boilerplate phrase plus eta theta iota")],
        "doc_id int, text string",
    )
    out, index = str(tmp_path / "out"), str(tmp_path / "idx")
    b0 = spark.createDataFrame(
        [(10, "docs with one shared boilerplate phrase only collide there"),
         (11, "plus alpha beta gamma tail shared with doc zero")],
        "doc_id int, text string",
    )
    args = dict(id_col="doc_id", text_col="text", k=10, min_len=10,
                max_window_df=2, sample_mod=None)
    _admit_substring_batch_indexed(b0, 0, base, out, index, **args)

    def snap():
        return (
            {tuple(r) for r in spark.read.parquet(out).collect()},
            {tuple(r) for r in spark.read.parquet(f"{index}/windows").collect()},
        )

    first = snap()
    # 10 admits: its only collision is the boilerplate phrase, which sits
    # in 3 > max_window_df=2 corpus docs and is dropped by the cap;
    # 11 rejects (genuine shared tail with doc 0)
    assert {r[0] for r in first[0]} == {10}
    _admit_substring_batch_indexed(b0, 0, base, out, index, **args)  # replay
    assert snap() == first

    # cap + min_len parity against the batch-form on a fresh corpus
    corpus = spark.createDataFrame(
        [(0, "AAAAAAAAAAAAAAAAAAAA then unrelated filler text one"),
         (1, "BBBBBBBBBB middle of another unrelated document")],
        "doc_id int, text string",
    )
    batch = spark.createDataFrame(
        # 20 shared As with doc 0 (long run); 10 shared Bs with doc 1 (short)
        [(20, "xx AAAAAAAAAAAAAAAAAAAA yy"), (21, "zz BBBBBBBBBB ww")],
        "doc_id int, text string",
    )
    idx2 = str(tmp_path / "idx2")
    init_substring_admission_index(corpus, idx2, k=10)
    for min_len in (10, 15):
        want = {
            r["doc_id"]
            for r in incremental_substring_rejects(
                corpus, batch, "doc_id", "text", k=10, min_len=min_len
            ).collect()
        }
        got_df, _ = _substring_rejects_indexed(
            spark, batch, idx2, 0, "doc_id", "text", 10, min_len, None, None
        )
        got = {r["doc_id"] for r in got_df.collect()}
        assert got == want, (min_len, got, want)
    # min_len=10 rejects both; min_len=15 keeps only the 20-char run
    assert want == {20}


@pytest.mark.parametrize("quantizer", ["sign", "ivf"])
def test_stream_semantic_admission_matches_recompute_and_restarts(
    spark, tmp_path, quantizer
):
    """The semantic streaming sink — the embedding member completing the
    indexed admission trio: indexed form ≡ recompute form ≡ a sequential
    embedding_batch_rejects loop on the same micro-batches (growing
    corpus: batch 2's reject depends on batch 1's admission), across a
    checkpoint restart with in-sink majors interleaved. Replay of a
    micro-batch reproduces (never erases) output and index rows. Plan
    property: the indexed rejects read ONLY the buckets index — no
    corpus embedding source appears anywhere in the plan, because the
    index stores the vectors and norms the cosine verify needs.

    Parametrized over the bucket function (r9): ``sign`` = fixed
    hyperplanes; ``ivf`` = a trained coarse quantizer persisted into
    the index at bootstrap, probed at nprobe=2 — every contract
    (restart, replay, compaction folding, plan pins) must hold
    identically, because the index layout is bucket-function-agnostic."""
    from pyspark_ingestion_spark.operators.similarity import (
        embedding_batch_rejects,
    )
    from pyspark_ingestion_spark.streaming.pipeline import (
        _admit_semantic_batch_indexed,
        _semantic_rejects_indexed,
        stream_semantic_admission,
    )

    def vec(*xs):
        return [float(x) for x in xs]

    base_rows = [(0, vec(1, 1, -1, -1))]
    file_a = [
        (10, vec(0.9, 1.1, -1, -1)),    # ~base → reject
        (11, vec(-1, 1, 1, -1)),        # orthogonal to base → admit
    ]
    file_b = [
        (12, vec(-0.9, 1.2, 1.0, -1.1)),  # ~11 → reject iff corpus grew
        (13, vec(1, -1, 1, -1)),          # fresh direction → admit
    ]
    file_c = [
        (14, vec(1.1, -0.9, 1, -1)),    # ~13 → reject
        (15, vec(-1, -1, -1, 1)),       # lone bucket → admit
    ]
    schema = "vec_id long, embedding array<float>"
    base_corpus = spark.createDataFrame(base_rows, schema)
    kwargs = dict(id_col="vec_id", vec_col="embedding", threshold=0.3, n_dims=4)
    if quantizer == "ivf":
        # a hand-built quantizer (any (centroid_id, cvec) table is legal;
        # kmeans_centroids needs a bigger corpus than this fixture) with
        # cells roughly along the test directions, probed at nprobe=2
        centroids = spark.createDataFrame(
            [
                (0, vec(1, 1, -1, -1)),
                (1, vec(-1, 1, 1, -1)),
                (2, vec(1, -1, 1, -1)),
                (3, vec(-1, -1, -1, 1)),
            ],
            "centroid_id int, cvec array<double>",
        )
        kwargs.update(centroids=centroids, nprobe=2)

    src = str(tmp_path / "src")
    _mk_admission_files(spark, tmp_path, src, [("a", file_a), ("b", file_b)],
                        schema=schema)

    def run(out, ckpt, index_path):
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        extra = (
            dict(compact_every=1, compact_major_every=1) if index_path else {}
        )
        stream_semantic_admission(
            stream, base_corpus, out, ckpt, index_path=index_path, **kwargs,
            **extra
        )

    out_r, out_i = str(tmp_path / "out_r"), str(tmp_path / "out_i")
    index, ckpt_i = str(tmp_path / "index"), str(tmp_path / "ckpt_i")
    run(out_r, str(tmp_path / "ckpt_r"), None)
    run(out_i, ckpt_i, index)

    def admitted(path):
        return {
            (int(r["__batch_id"]), r["vec_id"])
            for r in spark.read.parquet(path).select("__batch_id", "vec_id").collect()
        }

    assert admitted(out_i) == admitted(out_r)
    assert {d for _, d in admitted(out_i)} == {11, 13}

    # sequential batch-mode model agrees
    corpus_rows, model = list(base_rows), set()
    for rows in [file_a, file_b]:
        corpus = spark.createDataFrame(corpus_rows, schema)
        batch = spark.createDataFrame(rows, schema)
        rej = {
            r["vec_id"]
            for r in embedding_batch_rejects(
                corpus, batch, "vec_id", "embedding", threshold=0.3, n_dims=4,
                centroids=kwargs.get("centroids"),
                nprobe=kwargs.get("nprobe", 1),
            ).collect()
        }
        keep = [r for r in rows if r[0] not in rej]
        model |= {r[0] for r in keep}
        corpus_rows += keep
    assert {d for _, d in admitted(out_i)} == model

    # restart continues the same checkpoint + index
    _mk_admission_files(spark, tmp_path, src, [("c", file_c)], schema=schema)
    run(out_r, str(tmp_path / "ckpt_r"), None)
    run(out_i, ckpt_i, index)
    assert admitted(out_i) == admitted(out_r)
    assert {d for _, d in admitted(out_i)} == {11, 13, 15}

    # the mid-stream majors really folded: only {-1, last batch} survive
    parts = {
        int(r["__batch_id"])
        for r in spark.read.parquet(f"{index}/buckets")
        .select("__batch_id").distinct().collect()
    }
    assert parts <= {-1, 2}, parts

    # REPLAY of the last batch reproduces output + index rows exactly
    def snap():
        return (
            admitted(out_i),
            frozenset(
                (r["doc"], r["bucket"], int(r["__batch_id"]))
                for r in spark.read.parquet(f"{index}/buckets").collect()
            ),
        )

    want = snap()
    batch_c = spark.createDataFrame(file_c, schema)
    replay_kwargs = dict(kwargs)
    if quantizer == "ivf":
        # a replay/restart that passes DIFFERENT centroids must not
        # matter: past bootstrap the PERSISTED quantizer governs buckets
        replay_kwargs["centroids"] = spark.createDataFrame(
            [(0, vec(9, 9, 9, 9))], "centroid_id int, cvec array<double>"
        )
    _admit_semantic_batch_indexed(
        batch_c, 2, base_corpus, out_i, index, **replay_kwargs
    )
    assert snap() == want

    # plan property: the indexed rejects read NO embedding source path
    # (the persisted quantizer enters driver-side, never as a plan input)
    probe = spark.createDataFrame([(99, vec(1, 1, -1, -1))], schema)
    rejects, _bb = _semantic_rejects_indexed(
        spark, probe, index, 99, "vec_id", "embedding", 0.3, 4,
        nprobe=kwargs.get("nprobe", 1),
    )
    files = rejects.inputFiles()
    assert files and all("/buckets/" in f for f in files), files
    # exchange budget: ONE batch-bounded shuffle (the rejects distinct);
    # the bucket equi-join broadcasts the batch, the index is scan-only
    from pyspark_ingestion_spark.plans.explain import (
        formatted_plan,
        shuffle_count,
    )

    sem_plan = formatted_plan(rejects)
    assert shuffle_count(rejects) <= 1, sem_plan
    assert "SortMergeJoin" not in sem_plan
    assert {r["vec_id"] for r in rejects.collect()} == {99}  # ~base → reject


@pytest.mark.parametrize("medium", ["image", "audio", "video"])
def test_stream_fingerprint_admission_matches_recompute_and_restarts(
    spark, tmp_path, medium
):
    """The fingerprint streaming sink — the MULTIMODAL member of the
    indexed admission family, one sink serving every 64-bit perceptual
    hash kind (parametrized: image dHash over real BMP pixels / audio
    fHash over real PCM samples / video temporal dHash over real
    MJPEG-AVI frames): indexed form ≡ recompute form ≡ a sequential
    fingerprint_batch_rejects loop on the same micro-batches (growing
    corpus: batch 2's reject exists only because batch 1 admitted),
    across a checkpoint restart with in-sink majors interleaved.
    Replay reproduces (never erases) output and index rows. Plan
    property: the indexed rejects read ONLY the fprints index — no
    payload source appears, because the index stores the hash halves
    the Hamming verify needs (decode runs once per batch, on the
    batch)."""
    from pyspark_ingestion_spark.operators.multimodal import (
        audio_fhash,
        fingerprint_batch_rejects,
        image_dhash,
        synthesize_avi_payload,
        synthesize_bmp_payload,
        synthesize_wav_payload,
        video_temporal_dhash,
    )
    from pyspark_ingestion_spark.streaming.pipeline import (
        _admit_fingerprint_batch_indexed,
        _fingerprint_rejects_indexed,
        _fp_rows,
        stream_fingerprint_admission,
    )

    def local_edit(t):  # a few Hamming bits, well inside radius 7
        return "zzz" + t[3:]

    def gain_shift(t):  # brightness shift: provably hash-invariant
        return "".join(chr(ord(c) + 1) for c in t)

    if medium == "image":
        synth = lambda df: synthesize_bmp_payload(df, "doc_id", "text", width=12)
        hash_fn, hash_cols, near = image_dhash, ("dh_hi", "dh_lo"), local_edit
    elif medium == "audio":
        synth = lambda df: synthesize_wav_payload(df, "doc_id", "text")
        hash_fn, hash_cols, near = audio_fhash, ("fh_hi", "fh_lo"), local_edit
    else:
        synth = lambda df: synthesize_avi_payload(df, "doc_id", "text")
        hash_fn, hash_cols, near = (
            video_temporal_dhash, ("dh_hi", "dh_lo"), gain_shift,
        )

    t_base = "the quick brown fox jumps over the lazy dog " * 8
    t_b = "completely different pixel content everywhere!! " * 8
    t_c = "third unrelated signal plane with other bytes... " * 8
    t_d = "and a fourth independent payload, nothing alike! " * 8

    def media_rows(pairs):
        df = spark.createDataFrame(pairs, "doc_id long, text string")
        return [
            (r["doc_id"], bytearray(r["payload"]))
            for r in synth(df).collect()
        ]

    schema = "doc_id long, payload binary"
    base_media = spark.createDataFrame(media_rows([(0, t_base)]), schema)
    file_a = media_rows([(10, near(t_base)), (11, t_b)])  # reject 10, admit 11
    file_b = media_rows([(12, near(t_b)), (13, t_c)])  # 12 rejects ONLY via 11
    file_c = media_rows([(14, near(t_c)), (15, t_d)])  # reject 14, admit 15
    kwargs = dict(hash_fn=hash_fn, hash_cols=hash_cols, id_col="doc_id", radius=7)

    src = str(tmp_path / "src")
    _mk_admission_files(spark, tmp_path, src, [("a", file_a), ("b", file_b)],
                        schema=schema)

    def run(out, ckpt, index_path):
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        extra = (
            dict(compact_every=1, compact_major_every=1) if index_path else {}
        )
        stream_fingerprint_admission(
            stream, base_media, out, ckpt, index_path=index_path, **kwargs,
            **extra
        )

    out_r, out_i = str(tmp_path / "out_r"), str(tmp_path / "out_i")
    index, ckpt_i = str(tmp_path / "index"), str(tmp_path / "ckpt_i")
    run(out_r, str(tmp_path / "ckpt_r"), None)
    run(out_i, ckpt_i, index)

    def admitted(path):
        return {
            (int(r["__batch_id"]), r["doc_id"])
            for r in spark.read.parquet(path).select("__batch_id", "doc_id").collect()
        }

    assert admitted(out_i) == admitted(out_r)
    assert {d for _, d in admitted(out_i)} == {11, 13}

    # sequential batch-mode model agrees
    corpus_rows, model = list(media_rows([(0, t_base)])), set()
    for rows in [file_a, file_b]:
        corpus = spark.createDataFrame(corpus_rows, schema)
        batch = spark.createDataFrame(rows, schema)
        rej = {
            r["doc"]
            for r in fingerprint_batch_rejects(
                _fp_rows(hash_fn(corpus), hash_cols),
                _fp_rows(hash_fn(batch), hash_cols),
                radius=7,
            ).collect()
        }
        keep = [r for r in rows if r[0] not in rej]
        model |= {r[0] for r in keep}
        corpus_rows += keep
    assert {d for _, d in admitted(out_i)} == model

    # restart continues the same checkpoint + index
    _mk_admission_files(spark, tmp_path, src, [("c", file_c)], schema=schema)
    run(out_r, str(tmp_path / "ckpt_r"), None)
    run(out_i, ckpt_i, index)
    assert admitted(out_i) == admitted(out_r)
    assert {d for _, d in admitted(out_i)} == {11, 13, 15}

    # the mid-stream majors really folded: only {-1, last batch} survive
    parts = {
        int(r["__batch_id"])
        for r in spark.read.parquet(f"{index}/fprints")
        .select("__batch_id").distinct().collect()
    }
    assert parts <= {-1, 2}, parts

    # REPLAY of the last batch reproduces output + index rows exactly
    def snap():
        return (
            admitted(out_i),
            frozenset(
                (r["doc"], r["hi"], r["lo"], int(r["__batch_id"]))
                for r in spark.read.parquet(f"{index}/fprints").collect()
            ),
        )

    want = snap()
    batch_c = spark.createDataFrame(file_c, schema)
    _admit_fingerprint_batch_indexed(
        batch_c, 2, base_media, out_i, index, **kwargs
    )
    assert snap() == want

    # plan property: the indexed rejects read NO payload source — only
    # the fprints index; the band equi-join broadcasts the batch bands
    # and the single shuffle is the batch-bounded rejects distinct
    probe_fp = _fp_rows(
        hash_fn(spark.createDataFrame(media_rows([(99, t_base)]), schema)),
        hash_cols,
    ).localCheckpoint(eager=False)
    rejects = _fingerprint_rejects_indexed(spark, probe_fp, index, 99, 7)
    files = rejects.inputFiles()
    assert files and all("/fprints/" in f for f in files), files
    from pyspark_ingestion_spark.plans.explain import (
        formatted_plan,
        shuffle_count,
    )

    fp_plan = formatted_plan(rejects)
    assert shuffle_count(rejects) <= 1, fp_plan
    assert "SortMergeJoin" not in fp_plan
    assert {r["doc"] for r in rejects.collect()} == {99}  # ~base → reject

    # radius beyond the pigeonhole bound fails loud on both surfaces
    with pytest.raises(ValueError, match="radius"):
        fingerprint_batch_rejects(probe_fp, probe_fp, radius=8)
    with pytest.raises(ValueError, match="radius"):
        stream_fingerprint_admission(
            None, base_media, out_i, ckpt_i, radius=9
        )


def test_substring_dfcnt_ledger_plan_parity_and_backfill(spark, tmp_path):
    """r8 (clears the r7 weak flag): the substring index's window-df cap
    resolves from the incrementally-maintained ``dfcnt`` ledger, never a
    corpus-wide aggregate over the windows table. Pins: (1) the ledger
    invariant — per-hash SUM over dfcnt partitions equals count_distinct
    recomputed from the windows table — across batches AND LSM
    minor/major compactions; (2) admission parity with the recompute
    form across cap values on a ledger-driven index; (3) the plan
    property itself: the hot computation's scans are dfcnt-only (the
    windows table feeds only the candidate join), broadcast-restricted
    to the batch's hashes, and the full rejects plan reads no text path
    and contains no distinct-count aggregate; (4) a ledger deleted
    mid-process makes the read fail loudly (there is no ledger-less read
    arm), and after a restart the next admit backfills the ledger
    per-partition."""
    import shutil

    from pyspark_ingestion_spark.operators.dedup import (
        incremental_substring_rejects,
    )
    from pyspark_ingestion_spark.plans.explain import (
        formatted_plan,
        uses_broadcast_join,
    )
    from pyspark_ingestion_spark.streaming.pipeline import (
        _admit_substring_batch_indexed,
        _substring_hot_windows,
        _substring_rejects_indexed,
        compact_substring_index,
    )

    base = spark.createDataFrame(
        [(0, "one shared boilerplate phrase plus alpha beta gamma"),
         (1, "one shared boilerplate phrase plus delta epsilon zeta"),
         (2, "one shared boilerplate phrase plus eta theta iota")],
        "doc_id int, text string",
    )
    out, index = str(tmp_path / "out"), str(tmp_path / "idx")
    args = dict(id_col="doc_id", text_col="text", k=10, min_len=10,
                max_window_df=2, sample_mod=None)
    batches = {
        0: [(10, "docs with one shared boilerplate phrase only collide there"),
            (11, "plus alpha beta gamma tail shared with doc zero")],
        1: [(12, "phrase only collide there is now shared with doc ten"),
            (13, "totally novel words nothing matches here at all")],
    }
    for b, rows in batches.items():
        df = spark.createDataFrame(rows, "doc_id int, text string")
        _admit_substring_batch_indexed(df, b, base, out, index, **args)
    # 10 admits (its only collision is 3-doc boilerplate, > cap);
    # 11 rejects (tail shared with doc 0 only); 12 rejects against the
    # ADMITTED doc 10 — i.e. the ledger covers batch partitions, not just
    # the base; 13 admits
    admitted = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    assert admitted == {10, 13}

    def ledger() -> dict:
        return {
            r["wh"]: r["total"]
            for r in spark.read.parquet(f"{index}/dfcnt")
            .groupBy("wh").agg(F.sum("cnt").alias("total")).collect()
        }

    def recomputed() -> dict:
        return {
            r["wh"]: r["total"]
            for r in spark.read.parquet(f"{index}/windows")
            .groupBy("wh").agg(F.count_distinct("doc").alias("total")).collect()
        }

    assert ledger() == recomputed()

    # LSM folds preserve the ledger sums (minor → segment, major → base)
    assert compact_substring_index(spark, index, mode="minor") == {
        "windows": 2, "dfcnt": 2,
    }
    assert ledger() == recomputed()
    compact_substring_index(spark, index, mode="major")
    parts = {
        int(r["__batch_id"])
        for r in spark.read.parquet(f"{index}/dfcnt")
        .select("__batch_id").distinct().collect()
    }
    assert parts == {-1}, parts
    assert ledger() == recomputed()

    # read-path parity across caps on the compacted, ledger-driven index
    corpus = base.unionByName(
        spark.read.parquet(out).select("doc_id", "text")
    )
    probe = spark.createDataFrame(
        [(20, "one shared boilerplate phrase appears here once more"),
         (21, "plus delta epsilon zeta borrowed from document one"),
         (22, "phrase only collide there borrowed from doc ten")],
        "doc_id int, text string",
    )
    by_cap = {}
    for cap in (1, 2, None):
        want = {
            r["doc_id"]
            for r in incremental_substring_rejects(
                corpus, probe, "doc_id", "text", k=10, max_window_df=cap
            ).collect()
        }
        got_df, _ = _substring_rejects_indexed(
            spark, probe, index, 99, "doc_id", "text", 10, 10, cap, None
        )
        assert {r["doc_id"] for r in got_df.collect()} == want, cap
        by_cap[cap] = want
    # cap=2: 20's only collision (boilerplate, df=4 > 2) is capped →
    # admit; 21/22 share rare substrings with docs 1/10 → reject.
    # uncapped: the boilerplate collision counts again → 20 rejects too
    assert by_cap[2] == {21, 22}
    assert by_cap[None] == {20, 21, 22}

    # plan property: hotness never scans the windows table, and the
    # ledger aggregate is broadcast-restricted to the batch's hashes
    from pyspark_ingestion_spark.streaming.pipeline import _windows_with_text

    pw = _windows_with_text(probe, "doc_id", "text", 10, None)
    hot = _substring_hot_windows(spark, index, 99, pw, 2)
    hot_files = hot.inputFiles()
    assert hot_files and all("/dfcnt/" in f for f in hot_files), hot_files
    assert uses_broadcast_join(hot)
    # exchange budget, with runtime bloom injection disabled: on a TOY
    # corpus the planner may build a bloom from the (tiny) windows scan
    # to prune the stats-less checkpointed batch frame — a shape the
    # 10 MB creation-side threshold forbids at any real corpus size, so
    # it would only add noise to the structural pin. What the pin
    # asserts: every shuffle is batch-bounded (batch-hash distinct,
    # ledger-restricted sum, rejects distinct) and no join sort-merges —
    # the corpus-sized windows index is only ever the SCANNED side of an
    # explicit batch broadcast.
    from pyspark_ingestion_spark.plans.explain import shuffle_count

    bloom_key = "spark.sql.optimizer.runtime.bloomFilter.enabled"
    prev_bloom = spark.conf.get(bloom_key)
    spark.conf.set(bloom_key, "false")
    try:
        rej, _ = _substring_rejects_indexed(
            spark, probe, index, 99, "doc_id", "text", 10, 10, 2, None
        )
        files = rej.inputFiles()
        assert files and all(
            "/windows/" in f or "/dfcnt/" in f for f in files
        ), files
        rej_plan = formatted_plan(rej)
        assert "count(distinct" not in rej_plan.lower()
        assert shuffle_count(rej) <= 3, rej_plan
        assert "SortMergeJoin" not in rej_plan
    finally:
        spark.conf.set(bloom_key, prev_bloom)

    # ledger gone mid-process: the memoized probe does not look again,
    # so the read fails loudly, naming the missing path …
    from pyspark.errors import AnalysisException

    from pyspark_ingestion_spark.streaming.pipeline import _BOOTSTRAP_SEEN

    shutil.rmtree(f"{index}/dfcnt")
    with pytest.raises(AnalysisException, match="dfcnt"):
        _substring_rejects_indexed(
            spark, probe, index, 99, "doc_id", "text", 10, 10, 2, None
        )
    # … and after a restart (probe memo cleared) the next admit backfills
    # the ledger partition-per-partition
    _BOOTSTRAP_SEEN.clear()
    df3 = spark.createDataFrame(
        [(30, "yet another run of fresh text matching nothing")],
        "doc_id int, text string",
    )
    _admit_substring_batch_indexed(df3, 3, base, out, index, **args)
    win_parts = {
        int(r["__batch_id"])
        for r in spark.read.parquet(f"{index}/windows")
        .select("__batch_id").distinct().collect()
    }
    df_parts = {
        int(r["__batch_id"])
        for r in spark.read.parquet(f"{index}/dfcnt")
        .select("__batch_id").distinct().collect()
    }
    assert df_parts == win_parts, (df_parts, win_parts)
    assert ledger() == recomputed()


def test_minor_compaction_segments_and_major_collapse(spark, tmp_path):
    """LSM tiering of the admission index: a MINOR fold collapses only
    the delta partitions since the last fold into ONE segment (id =
    max(covered), marked with a _segment file) and leaves base and
    earlier segments untouched — O(deltas) rewrite, the level an
    in-sink cadence can afford — while a MAJOR collapses everything
    into the base. Effective state (admissions, effective bands, df
    totals, hot set) is invariant at every step, and the second minor
    provably does not rewrite the first segment."""
    import os

    from pyspark_ingestion_spark.streaming.pipeline import (
        _admit_dedup_batch_indexed,
        _read_hot_log,
        _read_latest_bands,
        compact_admission_index,
    )

    base = spark.createDataFrame(
        [(0, "alpha beta gamma delta epsilon zeta eta theta")],
        "doc_id int, text string",
    )
    out, idx = str(tmp_path / "out"), str(tmp_path / "idx")
    kwargs = dict(id_col="doc_id", text_col="text", n=3, num_hashes=8,
                  band_size=2, threshold_num=1, threshold_den=2,
                  max_doc_freq=2, max_bucket_size=None)
    texts = [
        "one two three four five six the big boiler plate text",
        "eight nine ten eleven twelve thirteen the big boiler plate text",
        # third appearance pushes the shared trigrams over cap=2
        "fourteen fifteen sixteen seventeen eighteen the big boiler plate text",
        "nineteen twenty twentyone twentytwo twentythree",
        "twentyfour twentyfive twentysix twentyseven twentyeight",
    ]
    for b, t in enumerate(texts):
        bdf = spark.createDataFrame([(10 + b, t)], "doc_id int, text string")
        _admit_dedup_batch_indexed(bdf, b, base, out, idx, **kwargs)

    tables = ["bands", "postings", "dfcnt", "hot"]

    def effective():
        state = {
            "bands": frozenset(
                tuple(r) for r in _read_latest_bands(spark, f"{idx}/bands", -2).collect()
            ),
            "posts": frozenset(
                tuple(r)
                for r in spark.read.parquet(f"{idx}/postings")
                .select("doc", "shingle").collect()
            ),
            "dfcnt": frozenset(
                (r["shingle"], r["t"])
                for r in spark.read.parquet(f"{idx}/dfcnt")
                .groupBy("shingle").agg(F.sum("cnt").alias("t")).collect()
            ),
            "hot": frozenset(
                r["shingle"]
                for r in _read_hot_log(spark, idx, exclude_batch_id=-2).collect()
            ),
        }
        return state

    def parts(t):
        return {
            int(r["__batch_id"])
            for r in spark.read.parquet(f"{idx}/{t}")
            .select("__batch_id").distinct().collect()
        }

    want = effective()

    # minor #1: deltas 0..4 → segment 4, base untouched. The hot table
    # has a single delta (only the crossing batch writes files), and a
    # one-partition minor is a no-op by design — nothing to fold.
    removed = compact_admission_index(spark, idx, mode="minor")
    assert removed["bands"] == 5 and removed["postings"] == 5
    for t in ("bands", "postings", "dfcnt"):
        assert parts(t) <= {-1, 4}, (t, parts(t))
        assert os.path.exists(f"{idx}/{t}/__batch_id=4/_segment"), t
    assert parts("hot") == {2} and removed["hot"] == 0
    assert effective() == want

    # two more batches on the compacted index
    for b, t in enumerate(
        ["thirty thirtyone thirtytwo thirtythree thirtyfour",
         "thirtyfive thirtysix thirtyseven thirtyeight thirtynine"], start=5
    ):
        bdf = spark.createDataFrame([(10 + b, t)], "doc_id int, text string")
        _admit_dedup_batch_indexed(bdf, b, base, out, idx, **kwargs)
    want2 = effective()

    # minor #2 folds ONLY the new deltas {5, 6}; segment 4 is not rewritten
    seg4_mtime = os.path.getmtime(f"{idx}/bands/__batch_id=4")
    removed2 = compact_admission_index(spark, idx, mode="minor")
    assert removed2["bands"] == 2, removed2
    for t in ("bands", "postings", "dfcnt"):
        assert parts(t) <= {-1, 4, 6}, (t, parts(t))
    assert os.path.getmtime(f"{idx}/bands/__batch_id=4") == seg4_mtime
    assert effective() == want2

    # a third minor with no new deltas is a no-op (segments are skipped)
    assert compact_admission_index(spark, idx, mode="minor")["bands"] == 0

    # major collapses segments + base into one partition, state invariant
    removed3 = compact_admission_index(spark, idx, mode="major")
    assert removed3["bands"] == 2
    for t in tables:
        assert parts(t) == {-1}, (t, parts(t))
    assert effective() == want2


def test_substring_index_stores_uncapped_windows(spark, tmp_path):
    """The windows index must hold exactly substring_window_table(doc)
    for every admitted doc — INCLUDING windows that were hot (df-capped)
    at admission time. Persisting capped rows would silently drop an
    admitted doc's hot windows from the ledger forever, so a restart
    with the cap raised/removed would diverge from the recompute form
    (r7 review). Pinned both directly (index rows == uncapped window
    table) and behaviorally (cap removed on restart: indexed ≡ batch)."""
    from pyspark_ingestion_spark.operators.dedup import (
        incremental_substring_rejects,
        substring_window_table,
    )
    from pyspark_ingestion_spark.streaming.pipeline import (
        _admit_substring_batch_indexed,
        _substring_rejects_indexed,
    )

    # the shared phrase sits in 3 > cap=2 corpus docs → hot at admission
    base = spark.createDataFrame(
        [(0, "one shared boilerplate phrase plus alpha beta gamma"),
         (1, "one shared boilerplate phrase plus delta epsilon zeta"),
         (2, "one shared boilerplate phrase plus eta theta iota")],
        "doc_id int, text string",
    )
    out, idx = str(tmp_path / "out"), str(tmp_path / "idx")
    doc10 = "docs with one shared boilerplate phrase only collide there"
    b0 = spark.createDataFrame([(10, doc10)], "doc_id int, text string")
    args = dict(id_col="doc_id", text_col="text", k=10, min_len=10,
                max_window_df=2, sample_mod=None)
    _admit_substring_batch_indexed(b0, 0, base, out, idx, **args)

    # direct: doc 10's index rows == its UNCAPPED window table
    stored = {
        (r["pos"], r["wh"], r["w"])
        for r in spark.read.parquet(f"{idx}/windows")
        .filter(F.col("doc") == 10).collect()
    }
    want = {
        (r["pos"], r["wh"], doc10[r["pos"] - 1 : r["pos"] - 1 + 10])
        for r in substring_window_table(b0, "doc_id", "text", 10).collect()
    }
    assert stored == want and stored  # non-empty, hot windows included

    # behavioral: next batch runs with NO cap — the previously-hot
    # boilerplate region must now collide via the index, exactly as the
    # recompute form over (base ∪ admitted) says
    b1 = spark.createDataFrame(
        [(20, "totally new words with one shared boilerplate phrase too"),
         (21, "nothing in common with anything whatsoever here")],
        "doc_id int, text string",
    )
    corpus = base.unionByName(
        spark.read.parquet(out).select("doc_id", "text")
    )
    want_rej = {
        r["doc_id"]
        for r in incremental_substring_rejects(
            corpus, b1, "doc_id", "text", k=10
        ).collect()
    }
    got_df, _ = _substring_rejects_indexed(
        spark, b1, idx, 1, "doc_id", "text", 10, 10, None, None
    )
    got_rej = {r["doc_id"] for r in got_df.collect()}
    assert got_rej == want_rej == {20}


def test_compaction_commit_floor_and_major_multiple(spark, tmp_path):
    """(1) Commit-log RETENTION: Spark purges commits/ beyond
    minBatchesToRetain, so a partition older than the oldest retained
    marker must count as committed (the log is sequential — it can
    never be in flight again); without the floor, old segments would
    never fold in skip mode and raise-mode would fail spuriously
    (r7 review). (2) compact_major_every must be a MULTIPLE of
    compact_every — majors only fire on compaction batches, so any
    other value silently degrades the cadence to lcm."""
    import os

    from pyspark_ingestion_spark.streaming.pipeline import (
        _compact_versioned_table,
        stream_dedup_admission,
    )

    table = str(tmp_path / "t")
    for b, cnt in ((-1, 5), (0, 2), (1, 3), (120, 4)):
        spark.createDataFrame([("sh", cnt)], "shingle string, cnt long").write.parquet(
            f"{table}/__batch_id={b}"
        )
    # simulate a purged commit log: only batches >= 119 retained
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(os.path.join(ckpt, "commits"), exist_ok=True)
    for b in (119, 120):
        with open(os.path.join(ckpt, "commits", str(b)), "w") as f:
            f.write("v1")

    def merge(path, ids):
        return (
            spark.read.parquet(path)
            .filter(F.col("__batch_id").cast("long").isin(ids))
            .groupBy("shingle").agg(F.sum("cnt").alias("cnt"))
        )

    # 0 and 1 predate the retained floor (119) → committed; 120 has a
    # marker; everything folds without raising
    assert _compact_versioned_table(spark, table, merge, ckpt) == 3
    rows = spark.read.parquet(table).collect()
    assert len(rows) == 1 and rows[0]["cnt"] == 14

    with pytest.raises(ValueError, match="multiple"):
        stream_dedup_admission(
            None, None, "x", "y", index_path="z",
            compact_every=4, compact_major_every=6,
        )


@pytest.mark.parametrize(
    "sink",
    [
        "stream_dedup_admission",
        "stream_substring_admission",
        "stream_semantic_admission",
        "stream_fingerprint_admission",
    ],
)
def test_compact_major_every_zero_rejected(spark, tmp_path, sink):
    """compact_major_every=0 satisfies the modulo check but makes the
    major cadence falsy (majors silently never run — unbounded segment
    growth); every admission sink must reject it (r7 review)."""
    from pyspark_ingestion_spark.streaming import pipeline

    with pytest.raises(ValueError, match="positive multiple"):
        getattr(pipeline, sink)(
            None, None, "x", "y", index_path="z",
            compact_every=4, compact_major_every=0,
        )


def test_compact_token_cms_preserves_sketch(spark, tmp_path):
    """Folding the CMS delta partitions into the base is exact: the
    merged sketch (read_token_cms) is identical before and after, the
    table ends single-partitioned, a second run is a no-op, and an
    uncommitted (replaying) partition is skipped, not folded."""
    import os

    from pyspark_ingestion_spark.streaming.pipeline import (
        compact_token_cms,
        read_token_cms,
    )

    cms = str(tmp_path / "cms")
    for b, rows in ((0, [(0, 1, 5), (0, 2, 1)]), (1, [(0, 1, 2), (1, 3, 7)]),
                    (2, [(0, 2, 4)])):
        spark.createDataFrame(rows, "i int, bucket int, cnt long").write.parquet(
            f"{cms}/__batch_id={b}"
        )

    def cells():
        return {(r["i"], r["bucket"]): r["cnt"]
                for r in read_token_cms(spark, cms).collect()}

    want = cells()
    # batch 2 has no commit marker (a possibly-replaying batch): skip it
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(os.path.join(ckpt, "commits"), exist_ok=True)
    for b in (0, 1):
        with open(os.path.join(ckpt, "commits", str(b)), "w") as f:
            f.write("v1")
    assert compact_token_cms(spark, cms, checkpoint=ckpt,
                             on_uncommitted="skip") == 2
    parts = {int(r["__batch_id"]) for r in spark.read.parquet(cms)
             .select("__batch_id").distinct().collect()}
    assert parts == {-1, 2}
    assert cells() == want
    # once batch 2 commits, the next fold takes it too
    with open(os.path.join(ckpt, "commits", "2"), "w") as f:
        f.write("v1")
    assert compact_token_cms(spark, cms, checkpoint=ckpt) == 1
    parts = {int(r["__batch_id"]) for r in spark.read.parquet(cms)
             .select("__batch_id").distinct().collect()}
    assert parts == {-1}
    assert cells() == want
    assert compact_token_cms(spark, cms) == 0  # idempotent no-op


@pytest.mark.parametrize("quantizer", ["sign", "ivf"])
def test_semantic_in_sink_compaction_commit_guard(spark, tmp_path, quantizer):
    """The semantic member of the in-sink auto-compaction pin (VERDICT
    r8 item 8): the LSH/substring sinks already prove the commit-guard
    interaction; the semantic index's compaction is plain concatenation,
    but the guard must behave identically — a skip-mode compaction run
    while the LAST batch's partitions sit on disk UNCOMMITTED (the
    crash-before-commit window) folds everything EXCEPT that partition,
    and replaying the batch afterwards reproduces the exact effective
    state. Parametrized over both bucket functions; for ivf the
    persisted quantizer must also survive compaction untouched."""
    import os as _os

    from pyspark_ingestion_spark.streaming.pipeline import (
        _admit_semantic_batch_indexed,
        compact_semantic_index,
        stream_semantic_admission,
    )

    def vec(*xs):
        return [float(x) for x in xs]

    base_rows = [(0, vec(1, 1, -1, -1))]
    file_a = [(10, vec(0.9, 1.1, -1, -1)), (11, vec(-1, 1, 1, -1))]
    file_b = [(12, vec(-0.9, 1.2, 1.0, -1.1)), (13, vec(1, -1, 1, -1))]
    file_c = [(14, vec(1.1, -0.9, 1, -1)), (15, vec(-1, -1, -1, 1))]
    schema = "vec_id long, embedding array<float>"
    base_corpus = spark.createDataFrame(base_rows, schema)
    kwargs = dict(id_col="vec_id", vec_col="embedding", threshold=0.3, n_dims=4)
    if quantizer == "ivf":
        kwargs["centroids"] = spark.createDataFrame(
            [
                (0, vec(1, 1, -1, -1)),
                (1, vec(-1, 1, 1, -1)),
                (2, vec(1, -1, 1, -1)),
                (3, vec(-1, -1, -1, 1)),
            ],
            "centroid_id int, cvec array<double>",
        )

    src = str(tmp_path / "src")
    out, index = str(tmp_path / "out"), str(tmp_path / "index")
    ckpt = str(tmp_path / "ckpt")
    _mk_admission_files(
        spark, tmp_path, src,
        [("a", file_a), ("b", file_b), ("c", file_c)], schema=schema,
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    stream_semantic_admission(
        stream, base_corpus, out, ckpt, index_path=index,
        compact_every=1, compact_major_every=1, **kwargs,
    )

    def snap():
        return (
            frozenset(
                (int(r["__batch_id"]), r["vec_id"])
                for r in spark.read.parquet(out).collect()
            ),
            frozenset(
                (r["doc"], r["bucket"], int(r["__batch_id"]))
                for r in spark.read.parquet(f"{index}/buckets").collect()
            ),
        )

    want = snap()
    assert {d for _, d in want[0]} == {11, 13, 15}

    # crash window: batch 2's partitions on disk, its commit marker
    # absent → skip-mode compaction must leave them out of the fold
    fake_ckpt = str(tmp_path / "fake_ckpt")
    _os.makedirs(_os.path.join(fake_ckpt, "commits"), exist_ok=True)
    for b in range(2):
        with open(_os.path.join(fake_ckpt, "commits", str(b)), "w") as f:
            f.write("v1")
    compact_semantic_index(spark, index, checkpoint=fake_ckpt,
                           on_uncommitted="skip")
    parts = {
        int(r["__batch_id"])
        for r in spark.read.parquet(f"{index}/buckets")
        .select("__batch_id").distinct().collect()
    }
    assert parts <= {-1, 2}, parts

    # replay the uncommitted batch → identical effective state
    batch_c = spark.createDataFrame(file_c, schema)
    _admit_semantic_batch_indexed(batch_c, 2, base_corpus, out, index, **kwargs)
    assert snap() == want

    # full commit + major: everything folds to the base partition with
    # (doc, bucket, vec, norm) rows preserved exactly, and the quantizer
    # (when present) survives verbatim
    compact_semantic_index(spark, index)
    parts = {
        int(r["__batch_id"])
        for r in spark.read.parquet(f"{index}/buckets")
        .select("__batch_id").distinct().collect()
    }
    assert parts == {-1}
    folded = frozenset(
        (r["doc"], r["bucket"])
        for r in spark.read.parquet(f"{index}/buckets").collect()
    )
    assert folded == frozenset((d, b) for d, b, _ in want[1])
    if quantizer == "ivf":
        cents = {
            (r["centroid_id"], tuple(r["cvec"]))
            for r in spark.read.parquet(f"{index}/centroids").collect()
        }
        assert cents == {
            (r["centroid_id"], tuple(r["cvec"]))
            for r in kwargs["centroids"].collect()
        }


def test_fingerprint_in_sink_compaction_commit_guard(spark, tmp_path):
    """The fingerprint member of the in-sink auto-compaction pin — the
    same commit-guard contract the other three sinks prove: a skip-mode
    compaction run while the LAST batch's partitions sit on disk
    UNCOMMITTED (the crash-before-commit window) folds everything
    EXCEPT that partition, replaying the batch afterwards reproduces
    the exact effective state, and a full-commit major folds to the
    base partition with (doc, hi, lo) rows preserved exactly."""
    import os as _os

    from pyspark_ingestion_spark.operators.multimodal import (
        image_dhash,
        synthesize_bmp_payload,
    )
    from pyspark_ingestion_spark.streaming.pipeline import (
        _admit_fingerprint_batch_indexed,
        compact_fingerprint_index,
        stream_fingerprint_admission,
    )

    t0 = "the quick brown fox jumps over the lazy dog " * 8
    t1 = "completely different pixel content everywhere!! " * 8
    t2 = "third unrelated signal plane with other bytes... " * 8
    t3 = "and a fourth independent payload, nothing alike! " * 8

    def media_rows(pairs):
        df = spark.createDataFrame(pairs, "doc_id long, text string")
        return [
            (r["doc_id"], bytearray(r["payload"]))
            for r in synthesize_bmp_payload(df, "doc_id", "text", width=12).collect()
        ]

    schema = "doc_id long, payload binary"
    base_media = spark.createDataFrame(media_rows([(0, t0)]), schema)
    file_a = media_rows([(10, "zzz" + t0[3:]), (11, t1)])
    file_b = media_rows([(12, "zzz" + t1[3:]), (13, t2)])
    file_c = media_rows([(14, "zzz" + t2[3:]), (15, t3)])
    kwargs = dict(hash_fn=image_dhash, hash_cols=("dh_hi", "dh_lo"),
                  id_col="doc_id", radius=7)

    src = str(tmp_path / "src")
    out, index = str(tmp_path / "out"), str(tmp_path / "index")
    ckpt = str(tmp_path / "ckpt")
    _mk_admission_files(
        spark, tmp_path, src,
        [("a", file_a), ("b", file_b), ("c", file_c)], schema=schema,
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    stream_fingerprint_admission(
        stream, base_media, out, ckpt, index_path=index,
        compact_every=1, compact_major_every=1, **kwargs,
    )

    def snap():
        return (
            frozenset(
                (int(r["__batch_id"]), r["doc_id"])
                for r in spark.read.parquet(out)
                .select("__batch_id", "doc_id").collect()
            ),
            frozenset(
                (r["doc"], r["hi"], r["lo"], int(r["__batch_id"]))
                for r in spark.read.parquet(f"{index}/fprints").collect()
            ),
        )

    want = snap()
    assert {d for _, d in want[0]} == {11, 13, 15}

    # crash window: batch 2's partitions on disk, its commit marker
    # absent → skip-mode compaction must leave them out of the fold
    fake_ckpt = str(tmp_path / "fake_ckpt")
    _os.makedirs(_os.path.join(fake_ckpt, "commits"), exist_ok=True)
    for b in range(2):
        with open(_os.path.join(fake_ckpt, "commits", str(b)), "w") as f:
            f.write("v1")
    compact_fingerprint_index(spark, index, checkpoint=fake_ckpt,
                              on_uncommitted="skip")
    parts = {
        int(r["__batch_id"])
        for r in spark.read.parquet(f"{index}/fprints")
        .select("__batch_id").distinct().collect()
    }
    assert parts <= {-1, 2}, parts

    # replay the uncommitted batch → identical effective state
    batch_c = spark.createDataFrame(file_c, schema)
    _admit_fingerprint_batch_indexed(batch_c, 2, base_media, out, index,
                                     **kwargs)
    assert snap() == want

    # full commit + major: everything folds to the base partition with
    # (doc, hi, lo) rows preserved exactly
    compact_fingerprint_index(spark, index)
    parts = {
        int(r["__batch_id"])
        for r in spark.read.parquet(f"{index}/fprints")
        .select("__batch_id").distinct().collect()
    }
    assert parts == {-1}
    folded = frozenset(
        (r["doc"], r["hi"], r["lo"])
        for r in spark.read.parquet(f"{index}/fprints").collect()
    )
    assert folded == frozenset((d, h, l) for d, h, l, _ in want[1])


def test_fingerprint_sink_empty_base_and_custom_id(spark, tmp_path):
    """Two review fixes pinned: (1) bootstrap-from-NOTHING — an empty
    base corpus writes zero index partitions, and the indexed read path
    must treat the missing index as an empty corpus (it used to raise
    'unable to infer schema' on every batch, permanently wedging the
    stream); (2) a caller-chosen id column actually works — the hash
    operators read fixed (doc_id, payload) columns, so the sink aliases
    ``id_col`` in before hashing (a non-default id_col used to crash
    inside hash_fn on batch 0)."""
    from pyspark_ingestion_spark.operators.multimodal import (
        image_dhash,
        synthesize_bmp_payload,
    )
    from pyspark_ingestion_spark.streaming.pipeline import (
        stream_fingerprint_admission,
    )

    t_a = "the quick brown fox jumps over the lazy dog " * 8
    t_b = "completely different pixel content everywhere!! " * 8

    def media_rows(pairs):
        df = spark.createDataFrame(pairs, "doc_id long, text string")
        return [
            (r["doc_id"], bytearray(r["payload"]))
            for r in synthesize_bmp_payload(df, "doc_id", "text", width=12).collect()
        ]

    schema = "img_id long, payload binary"
    empty_base = spark.createDataFrame([], schema)
    # batch: two distinct images + a near-dup of the first — with an
    # empty base, 10 and 11 admit and 12 rejects against 10 (admitted
    # THE SAME BATCH run earlier... batches are sequential files, so
    # put the near-dup in file b to exercise corpus growth from zero)
    file_a = media_rows([(10, t_a), (11, t_b)])
    file_b = media_rows([(12, "zzz" + t_a[3:])])  # ~10 → reject

    src = str(tmp_path / "src")
    _mk_admission_files(spark, tmp_path, src, [("a", file_a), ("b", file_b)],
                        schema=schema)

    def run(out, ckpt, index_path):
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        stream_fingerprint_admission(
            stream, empty_base, out, ckpt, hash_fn=image_dhash,
            hash_cols=("dh_hi", "dh_lo"), id_col="img_id", radius=7,
            index_path=index_path,
        )

    out_i, out_r = str(tmp_path / "out_i"), str(tmp_path / "out_r")
    run(out_i, str(tmp_path / "ckpt_i"), str(tmp_path / "index"))
    run(out_r, str(tmp_path / "ckpt_r"), None)

    def admitted(path):
        return {
            (int(r["__batch_id"]), r["img_id"])
            for r in spark.read.parquet(path).select("__batch_id", "img_id").collect()
        }

    assert admitted(out_i) == admitted(out_r) == {(0, 10), (0, 11)}


def test_semantic_indexed_nprobe_requires_persisted_quantizer(spark, tmp_path):
    """ADVICE r9: the PERSISTED index signature governs nprobe, not the
    caller's centroids argument. An index bootstrapped with sign
    buckets (no quantizer on disk) restarted with nprobe>1 must fail
    loud in _semantic_rejects_indexed instead of silently degrading the
    recall dial to nprobe=1."""
    import pytest

    from pyspark_ingestion_spark.streaming.pipeline import (
        _semantic_rejects_indexed,
        init_semantic_admission_index,
    )

    base = spark.createDataFrame(
        [(0, [1.0, 1.0, -1.0, -1.0])], "vec_id long, embedding array<float>"
    )
    index = str(tmp_path / "index")
    init_semantic_admission_index(base, index, n_dims=4)  # sign buckets

    batch = spark.createDataFrame(
        [(10, [0.9, 1.1, -1.0, -1.0])], "vec_id long, embedding array<float>"
    )
    with pytest.raises(ValueError, match="trained-quantizer index"):
        _semantic_rejects_indexed(
            spark, batch, index, batch_id=0, id_col="vec_id",
            vec_col="embedding", threshold=0.3, n_dims=4, nprobe=2,
        )
    # nprobe=1 against the same sign-bucket index still works
    rejects, _ = _semantic_rejects_indexed(
        spark, batch, index, batch_id=0, id_col="vec_id",
        vec_col="embedding", threshold=0.3, n_dims=4, nprobe=1,
    )
    assert {r["vec_id"] for r in rejects.collect()} == {10}


def test_overlapped_write_surfaces_both_failures(monkeypatch):
    """r12 ADVICE: when the index-maintenance chain raises inside the
    overlap block, the concurrent admitted-text write's outcome must
    still surface — under the bare executor form a write failure was
    silently masked by the index error (executor shutdown discards the
    future's outcome), so the batch's error report could name the
    wrong failing sink. Pure-Python pin on the shared context manager
    every admission sink routes its writes through; each write failure
    names its batch, table and path."""
    import pytest

    from pyspark_ingestion_spark.streaming import pipeline
    from pyspark_ingestion_spark.streaming.pipeline import _overlapped_writes

    done = []

    def fake_write(df, path, batch_id):
        if df == "bad":
            raise OSError(f"disk full in {path}")
        done.append((df, path, batch_id))

    monkeypatch.setattr(pipeline, "_write_batch_partition", fake_write)

    # both failed: the index error is primary, the write error rides
    # along as a NOTE (r13 ADVICE: the r12 form re-raised inside the
    # handler, overwriting body_err.__context__ — an index error that
    # was itself chained lost part of its traceback). The index error's
    # ORIGINAL chain must survive intact.
    with pytest.raises(RuntimeError, match="index chain broke") as exc:
        with _overlapped_writes(3) as (submit, _wait):
            submit("admitted-text", "bad", "/out")
            try:
                raise KeyError("original inner cause")
            except KeyError:
                raise RuntimeError("index chain broke")
    assert isinstance(exc.value.__context__, KeyError), (
        "the index error's pre-existing __context__ was overwritten"
    )
    notes = "\n".join(getattr(exc.value, "__notes__", []))
    assert "disk full" in notes and "OSError" in notes
    assert "batch 3: admitted-text write to /out failed" in notes

    # write failed, chain fine: the write error raises (r11 contract),
    # naming its batch and table
    with pytest.raises(OSError, match="disk full") as exc:
        with _overlapped_writes(4) as (submit, _wait):
            submit("admitted-text", "bad", "/out")
    assert exc.value.__notes__ == ["batch 4: admitted-text write to /out failed"]

    # write fine, chain failed: chain error raises; the write still ran
    # to completion (the batch's committed out_path partition is the
    # documented replay-overwrite-recoverable case)
    with pytest.raises(RuntimeError, match="index chain broke"):
        with _overlapped_writes(5) as (submit, _wait):
            submit("admitted-text", "ok", "/out")
            raise RuntimeError("index chain broke")
    assert done == [("ok", "/out", 5)]

    # both fine: write joined before the block returns
    done.clear()
    with _overlapped_writes(6) as (submit, _wait):
        submit("admitted-text", "ok", "/out")
    assert done == [("ok", "/out", 6)]

    # N-ary: every write is joined; the first failure (submit order) is
    # raised, later failures ride along as notes, successes complete;
    # wait() joins early and raises the named write's failure at once
    done.clear()
    with pytest.raises(OSError, match="/idx/postings") as exc:
        with _overlapped_writes(7) as (submit, _wait):
            submit("admitted-text", "ok", "/out")
            submit("postings", "bad", "/idx/postings")
            submit("bands", "ok", "/idx/bands")
            submit("dfcnt", "bad", "/idx/dfcnt")
    notes = "\n".join(exc.value.__notes__)
    assert notes.startswith("batch 7: postings write to /idx/postings failed")
    assert "batch 7: dfcnt write to /idx/dfcnt failed" in notes
    assert sorted(done) == [("ok", "/idx/bands", 7), ("ok", "/out", 7)]
    with pytest.raises(OSError, match="/idx/hot") as exc:
        with _overlapped_writes(8) as (submit, wait):
            submit("hot", "bad", "/idx/hot")
            wait("hot")
            raise AssertionError("wait() must raise the joined failure")
    assert exc.value.__notes__ == ["batch 8: hot write to /idx/hot failed"]


def test_sink_rejects_executed_shuffle_stages(spark, tmp_path):
    """r12 (VERDICT r11 item 7): the three admission sinks' per-batch
    READ paths get executed-plan (post-AQE) shuffle-stage pins, like the
    six spread batch queries already have — the O(batch) claims were
    pinned via inputFiles()/count invariants only, so an accidental
    corpus-wide shuffle in a future sink edit (e.g. a broadcast hint
    dropped from the verify join — the measured r8 ~25%/batch incident)
    would surface in a bench round, not a test. Measured steady-state
    ceilings: hotlog 0 real stages (broadcast-only read path), substring
    1 (the batch window aggregate), fingerprint 0. The write side stays
    covered by the replay/inputFiles pins."""
    import random

    from pyspark_ingestion_spark.operators.multimodal import (
        image_dhash,
        synthesize_bmp_payload,
    )
    from pyspark_ingestion_spark.plans.explain import executed_shuffle_stages
    from pyspark_ingestion_spark.streaming.pipeline import (
        _admit_dedup_batch_indexed,
        _admit_fingerprint_batch_indexed,
        _admit_substring_batch_indexed,
        _fingerprint_rejects_indexed,
        _hash_rows,
        _indexed_rejects_hotlog,
        _substring_rejects_indexed,
    )

    tmp = str(tmp_path)
    words = [f"w{i}" for i in range(2000)]

    def rows(nn, seed, start):
        rnd = random.Random(seed)
        return [
            (i, " ".join(rnd.choices(words, k=30)))
            for i in range(start, start + nn)
        ]

    # hotlog LSH sink: batch 0 bootstraps base + index, batch 1's read
    # path is the steady state the pin measures
    spark.createDataFrame(rows(300, 5, 0), "doc_id long, text string").repartition(
        4
    ).write.mode("overwrite").parquet(f"{tmp}/hbase")
    hb = spark.read.parquet(f"{tmp}/hbase")
    kw = dict(id_col="doc_id", text_col="text", n=3, num_hashes=8, band_size=2,
              threshold_num=1, threshold_den=2, max_doc_freq=25,
              max_bucket_size=None)
    b0 = spark.createDataFrame(
        rows(40, 100, 10_000), "doc_id long, text string"
    ).coalesce(2)
    _admit_dedup_batch_indexed(b0, 0, hb, f"{tmp}/hout", f"{tmp}/hidx", **kw)
    b1 = spark.createDataFrame(
        rows(40, 101, 20_000), "doc_id long, text string"
    ).coalesce(2)
    rej_hot, _sb = _indexed_rejects_hotlog(
        spark, b1, f"{tmp}/hidx", 1, "doc_id", 3, 8, 2, 1, 2, 25, None
    )
    real, _ = executed_shuffle_stages(rej_hot)
    assert real <= 0, f"hotlog read path grew a shuffle stage: {real}"

    # substring dfcnt-ledger sink
    spark.createDataFrame(rows(200, 6, 0), "doc_id long, text string").repartition(
        4
    ).write.mode("overwrite").parquet(f"{tmp}/sbase")
    sB = spark.read.parquet(f"{tmp}/sbase")
    sargs = dict(id_col="doc_id", text_col="text", k=20, min_len=20,
                 max_window_df=10, sample_mod=None)
    s0 = spark.createDataFrame(
        rows(30, 100, 10_000), "doc_id long, text string"
    ).coalesce(2)
    _admit_substring_batch_indexed(s0, 0, sB, f"{tmp}/sout", f"{tmp}/sidx", **sargs)
    s1 = spark.createDataFrame(
        rows(30, 101, 20_000), "doc_id long, text string"
    ).coalesce(2)
    rej_sub, _wb = _substring_rejects_indexed(
        spark, s1, f"{tmp}/sidx", 1, "doc_id", "text", 20, 20, 10, None
    )
    real, _ = executed_shuffle_stages(rej_sub)
    assert real <= 1, f"substring read path grew shuffle stages: {real}"

    # perceptual fingerprint sink
    def texts(nn, seed, start=0):
        rnd = random.Random(seed)
        return [
            (start + i, "".join(chr(rnd.randrange(32, 127)) for _ in range(360)))
            for i in range(nn)
        ]

    def synth(rws, parts):
        return synthesize_bmp_payload(
            spark.createDataFrame(rws, "doc_id long, text string"),
            "doc_id", "text", width=12,
        ).coalesce(parts)

    synth(texts(200, 5), 4).write.mode("overwrite").parquet(f"{tmp}/fbase")
    fB = spark.read.parquet(f"{tmp}/fbase")
    _admit_fingerprint_batch_indexed(
        synth(texts(20, 100, 10_000), 2), 0, fB, f"{tmp}/fout", f"{tmp}/fidx",
        hash_fn=image_dhash, hash_cols=("dh_hi", "dh_lo"),
        id_col="doc_id", radius=7,
    )
    fp1 = _hash_rows(
        image_dhash, synth(texts(20, 101, 20_000), 2), ("dh_hi", "dh_lo"),
        "doc_id",
    ).localCheckpoint(eager=False)
    rej_fp = _fingerprint_rejects_indexed(spark, fp1, f"{tmp}/fidx", 1, 7)
    real, _ = executed_shuffle_stages(rej_fp)
    assert real <= 0, f"fingerprint read path grew a shuffle stage: {real}"


def test_indexed_salted_admission_matches_recompute(spark, tmp_path):
    """r12: bucket_cap_mode='salt' threads through the indexed LSH
    read path and matches the recompute form
    (`incremental_lsh_rejects`) on a planted popular cluster — the
    indexed band table holds exactly the recompute form's rows, so the
    oversized-bucket lists, the per-doc salts and the probed sub-bucket
    sets agree. Drop mode misses the planted near-dups on both faces;
    salt mode recovers them on both faces."""
    import pytest

    from pyspark_ingestion_spark.operators.dedup import (
        incremental_lsh_rejects,
        release_shingle_caches,
    )
    from pyspark_ingestion_spark.streaming.pipeline import (
        _admit_dedup_batch_indexed,
        _indexed_rejects_hotlog,
    )

    cluster_text = "the quick brown fox jumps over the lazy dog again and again"
    corpus_rows = [(i, cluster_text) for i in range(40)] + [
        (100 + i, f"unique document number {i} with entirely different words "
                  f"alpha{i} beta{i} gamma{i} delta{i} epsilon{i}")
        for i in range(10)
    ]
    corpus = spark.createDataFrame(corpus_rows, "doc_id long, text string")
    batch = spark.createDataFrame(
        [(1000, cluster_text),
         (1001, "novel content zeta eta theta iota kappa matching nothing")],
        "doc_id long, text string",
    )
    args = (3, 8, 2, 1, 2)  # n, num_hashes, band_size, threshold num/den

    def recompute(**kw):
        return {
            r["doc_id"]
            for r in incremental_lsh_rejects(
                corpus, batch, "doc_id", "text", n=3, num_hashes=8,
                band_size=2, threshold_num=1, threshold_den=2,
                max_doc_freq=None, **kw
            ).collect()
        }

    root = str(tmp_path / "hotlog")
    # batch 0 bootstraps the index from the base corpus; we then
    # read batch 1's rejects directly off the read-path helper
    b0 = spark.createDataFrame(
        [(5000, "warmup words one two three four five six seven")],
        "doc_id long, text string",
    )
    _admit_dedup_batch_indexed(
        b0, 0, corpus, f"{root}/out", f"{root}/idx",
        id_col="doc_id", text_col="text", n=3, num_hashes=8, band_size=2,
        threshold_num=1, threshold_den=2, max_doc_freq=None,
        max_bucket_size=None,
    )
    release_shingle_caches()

    def indexed(**kw):
        rej, _sb = _indexed_rejects_hotlog(
            spark, batch, f"{root}/idx", 1, "doc_id", *args,
            max_doc_freq=None, **kw
        )
        return {r["doc_id"] for r in rej.collect()}

    for kw in (
        dict(max_bucket_size=None),
        dict(max_bucket_size=4),
        dict(max_bucket_size=4, bucket_cap_mode="salt"),
    ):
        assert indexed(**kw) == recompute(**kw), kw
    assert indexed(max_bucket_size=4) == set()
    assert indexed(max_bucket_size=4, bucket_cap_mode="salt") == {1000}

    with pytest.raises(ValueError, match="bucket_cap_mode"):
        _indexed_rejects_hotlog(
            spark, batch, str(tmp_path / "hotlog/idx"), 1, "doc_id", *args,
            max_doc_freq=None, max_bucket_size=4, bucket_cap_mode="bogus",
        )


def test_semantic_indexed_salted_admission_matches_recompute(spark, tmp_path):
    """r13 (VERDICT r12 item 3): bucket_cap_mode='salt' threads through
    the SEMANTIC indexed read path and matches the recompute form
    (`embedding_batch_rejects`) on a planted popular embedding cluster
    — the index's bucket table holds exactly the recompute form's
    bucket rows, so the oversized-bucket lists, per-doc salts and
    probed sub-bucket sets agree. Drop mode misses the near-cluster
    batch vector on both faces; salt mode recovers it on both."""
    import pytest

    from pyspark_ingestion_spark.operators.similarity import (
        embedding_batch_rejects,
    )
    from pyspark_ingestion_spark.streaming.pipeline import (
        _admit_semantic_batch_indexed,
        _semantic_rejects_indexed,
    )

    cluster = [(i, [1.0, 2.0, 3.0, 4.0]) for i in range(30)]
    lone = [(200, [-1.0, 2.0, -3.0, 4.0]), (201, [1.0, -2.0, 3.0, -4.0])]
    base = spark.createDataFrame(
        cluster + lone, "vec_id long, embedding array<double>"
    )
    batch = spark.createDataFrame(
        [
            (1000, [1.0, 2.0, 3.0, 4.1]),
            (1001, [-1.0, 2.0, -3.0, 4.05]),
            (1002, [-0.5, -0.5, -0.5, -0.5]),
        ],
        "vec_id long, embedding array<double>",
    )
    root = str(tmp_path / "sem")
    # batch 0 bootstraps the index from the base corpus and admits a
    # novel warmup vector; batch 1's rejects then come off the index
    warmup = spark.createDataFrame(
        [(5000, [-9.0, -9.0, 9.0, 9.0])], "vec_id long, embedding array<double>"
    )
    _admit_semantic_batch_indexed(
        warmup, 0, base, f"{root}/out", f"{root}/idx",
        id_col="vec_id", vec_col="embedding", threshold=0.95, n_dims=4,
    )
    corpus = base.unionByName(warmup)  # what the recompute form sees

    def recompute(**kw):
        return {
            r["vec_id"]
            for r in embedding_batch_rejects(
                corpus, batch, threshold=0.95, n_dims=4, **kw
            ).collect()
        }

    def indexed(**kw):
        rej, _ = _semantic_rejects_indexed(
            spark, batch, f"{root}/idx", 1, "vec_id", "embedding",
            threshold=0.95, n_dims=4, **kw
        )
        return {r["vec_id"] for r in rej.collect()}

    for kw in (
        dict(max_bucket_size=None),
        dict(max_bucket_size=4),
        dict(max_bucket_size=4, bucket_cap_mode="salt"),
    ):
        assert indexed(**kw) == recompute(**kw), kw
    assert indexed(max_bucket_size=4) == {1001}
    assert indexed(max_bucket_size=4, bucket_cap_mode="salt") == {1000, 1001}

    with pytest.raises(ValueError, match="max_bucket_size"):
        indexed(max_bucket_size=0, bucket_cap_mode="salt")
    from pyspark_ingestion_spark.streaming.pipeline import (
        stream_semantic_admission,
    )

    with pytest.raises(ValueError, match="bucket_cap_mode"):
        stream_semantic_admission(
            batch, base, f"{root}/out2", f"{root}/ckpt2",
            bucket_cap_mode="bogus",
        )


def test_stream_ivf_pq_assign_maintains_layout(spark, tmp_path):
    """r13 (VERDICT r12 item 5): the IVF-PQ layout gets streaming
    maintenance like every other index this engine maintains
    incrementally. Pins: (1) the streamed layout's union equals one
    batch ``ivf_pq_assign`` over the same rows (cells/codes are pure
    per-row functions of the generation, so batching cannot change
    them); (2) replay-overwrite idempotence; (3) the PERSISTED
    generation governs after bootstrap — different tables passed on a
    restart are ignored; (4) the per-batch read path is O(batch):
    inputFiles touches the batch file (+ the bounded generation
    tables) only, never the assigned layout; (5) loud bootstrap
    failures for a missing generation and an n_sub/codebook mismatch."""
    import glob
    import shutil
    import time

    from pyspark_ingestion_spark.operators.similarity import (
        ivf_pq_assign,
        pq_codebooks,
    )
    from pyspark_ingestion_spark.streaming.pipeline import (
        _assign_pq_batch,
        _load_pq_generation,
        stream_ivf_pq_assign,
    )

    rows = [(i, [float(i % 7), float(i % 5), float(i % 3), 1.0] * 4)
            for i in range(60)]
    schema = "vec_id long, embedding array<double>"
    all_df = spark.createDataFrame(rows, schema)
    cents = all_df.filter("vec_id < 2").selectExpr(
        "CAST(vec_id AS INT) AS centroid_id", "embedding AS cvec"
    )
    cb = pq_codebooks(all_df, n_sub=4, k_codes=8, seed=1)

    src = str(tmp_path / "src")
    os.makedirs(src)

    def write_file(name, lo, hi):
        stage = str(tmp_path / ("stage_" + name))
        spark.createDataFrame(rows[lo:hi], schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(stage)
        part = glob.glob(stage + "/part-*.parquet")[0]
        shutil.copy(part, os.path.join(src, name + ".parquet"))
        time.sleep(1.1)  # distinct mtimes -> deterministic batch order

    write_file("a", 0, 30)
    write_file("b", 30, 60)
    layout = str(tmp_path / "layout")
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    stream_ivf_pq_assign(
        stream, layout, str(tmp_path / "ckpt"), cents, cb, n_sub=4
    )

    key = lambda df: sorted(  # noqa: E731
        (r["vec_id"], r["cell"], tuple(r["codes"])) for r in df.collect()
    )
    got = spark.read.parquet(f"{layout}/assigned").drop("__batch_id")
    want = ivf_pq_assign(all_df, cents, cb, n_sub=4)
    assert got.count() == 60
    assert key(got) == key(want)

    # replay idempotence: re-running batch 1 overwrites, never duplicates
    b1 = spark.createDataFrame(rows[30:60], schema)
    _assign_pq_batch(b1, 1, layout, None, None, "vec_id", "embedding", 4)
    assert key(spark.read.parquet(f"{layout}/assigned").drop("__batch_id")) == key(want)

    # the persisted generation governs: a restart passing DIFFERENT
    # centroids cannot mix generations into the layout
    bogus = all_df.filter("vec_id >= 58").selectExpr(
        "CAST(vec_id AS INT) AS centroid_id", "embedding AS cvec"
    )
    _assign_pq_batch(b1, 1, layout, bogus, cb, "vec_id", "embedding", 4)
    assert key(spark.read.parquet(f"{layout}/assigned").drop("__batch_id")) == key(want)

    # O(batch) read path: the per-batch plan never scans the layout or
    # any corpus-sized table — only the batch file (the generation
    # tables are collected to bounded literals on the expr path)
    batch_b = spark.read.parquet(os.path.join(src, "b.parquet"))
    g_cents, g_cbs = _load_pq_generation(spark, layout)
    plan = ivf_pq_assign(batch_b, g_cents, g_cbs, n_sub=4)
    files = plan.inputFiles()
    assert files, "expected a batch scan in the plan"
    assert not any("/assigned/" in f for f in files), files
    assert all(
        "b.parquet" in f or "/centroids/" in f or "/codebooks/" in f
        for f in files
    ), files

    # loud bootstrap failures
    with pytest.raises(ValueError, match="bootstrap needs"):
        _assign_pq_batch(
            b1, 0, str(tmp_path / "nogen"), None, cb, "vec_id", "embedding", 4
        )
    with pytest.raises(ValueError, match="n_sub"):
        _assign_pq_batch(
            b1, 0, str(tmp_path / "badnsub"), cents, cb,
            "vec_id", "embedding", 8,
        )


def test_admission_chained_into_ivf_pq_layout(spark, tmp_path):
    """Integration pin for the documented chaining shape (r13): a
    semantic admission sink's out_path re-streamed as a file source
    into `stream_ivf_pq_assign` — the ANN layout ends up holding
    exactly the admitted vectors, with the cells/codes one batch
    `ivf_pq_assign` over the admitted set would produce."""
    from pyspark_ingestion_spark.operators.similarity import (
        ivf_pq_assign,
        pq_codebooks,
    )
    from pyspark_ingestion_spark.streaming.pipeline import (
        stream_ivf_pq_assign,
        stream_semantic_admission,
    )

    base = spark.createDataFrame(
        [(i, [1.0 + i / 100.0, 2.0, -3.0, 4.0]) for i in range(10)],
        "vec_id long, embedding array<double>",
    )
    # two stream rows: one near-dup of the base cluster (rejected), one
    # novel vector (admitted)
    feed = str(tmp_path / "feed")
    spark.createDataFrame(
        [(100, [1.05, 2.0, -3.0, 4.0]), (101, [-5.0, -6.0, 7.0, -8.0])],
        "vec_id long, embedding array<double>",
    ).coalesce(1).write.parquet(feed)
    out = str(tmp_path / "admitted")
    stream = spark.readStream.schema(
        "vec_id long, embedding array<double>"
    ).parquet(feed)
    stream_semantic_admission(
        stream, base, out, str(tmp_path / "ck1"),
        threshold=0.95, n_dims=4, index_path=str(tmp_path / "semidx"),
    )
    admitted = spark.read.parquet(out).select("vec_id", "embedding")
    assert {r["vec_id"] for r in admitted.collect()} == {101}

    # chain: admitted out_path -> file stream -> IVF-PQ layout
    cents = base.filter("vec_id < 2").selectExpr(
        "CAST(vec_id AS INT) AS centroid_id", "embedding AS cvec"
    )
    cb = pq_codebooks(base, n_sub=4, k_codes=4, seed=1)
    layout = str(tmp_path / "layout")
    stream2 = spark.readStream.schema(
        "vec_id long, embedding array<double>, __batch_id int"
    ).parquet(out)
    stream_ivf_pq_assign(
        stream2, layout, str(tmp_path / "ck2"), cents, cb, n_sub=4
    )
    key = lambda df: sorted(  # noqa: E731
        (r["vec_id"], r["cell"], tuple(r["codes"])) for r in df.collect()
    )
    got = spark.read.parquet(f"{layout}/assigned").select(
        "vec_id", "cell", "codes"
    )
    want = ivf_pq_assign(admitted, cents, cb, n_sub=4)
    assert key(got) == key(want)


def test_stream_ivf_pq_assign_stats_feed(spark, tmp_path):
    """r13: the drift-monitor feed. stats_path appends per-batch
    MERGEABLE residual stats next to the layout. Pins: (1) the rolled-up
    stats table equals one batch ivf_cell_residual_stats over all
    streamed vectors; (2) replay-overwrite idempotence (re-running a
    batch never double-counts its stats); (3) the rollup chains into
    ivf_drift_flags against a baseline without touching vectors."""
    from pyspark_ingestion_spark.operators.similarity import (
        ivf_cell_residual_stats,
        ivf_drift_flags,
        ivf_pq_assign,
        pq_codebooks,
    )
    from pyspark_ingestion_spark.streaming.pipeline import _assign_pq_batch

    rows = [(i, [float(i % 7), float(i % 5), float(i % 3), 1.0] * 4)
            for i in range(60)]
    schema = "vec_id long, embedding array<double>"
    all_df = spark.createDataFrame(rows, schema)
    cents = all_df.filter("vec_id < 2").selectExpr(
        "CAST(vec_id AS INT) AS centroid_id", "embedding AS cvec"
    )
    cb = pq_codebooks(all_df, n_sub=4, k_codes=8, seed=1)
    layout = str(tmp_path / "layout")
    stats_path = str(tmp_path / "stats")

    for bid, (lo, hi) in enumerate([(0, 30), (30, 60)]):
        _assign_pq_batch(
            spark.createDataFrame(rows[lo:hi], schema), bid, layout,
            cents, cb, "vec_id", "embedding", 4, stats_path,
        )

    def rollup():
        return (
            spark.read.parquet(stats_path)
            .groupBy("cell")
            .agg(
                F.sum("n_vectors").alias("n_vectors"),
                F.sum("sum_residual").alias("sum_residual"),
                F.round(F.sum("sum_residual") / F.sum("n_vectors"), 4).alias(
                    "avg_residual"
                ),
                F.max("max_residual").alias("max_residual"),
            )
        )

    want = {
        r["cell"]: r
        for r in ivf_cell_residual_stats(
            ivf_pq_assign(all_df, cents, cb, n_sub=4), cents
        ).collect()
    }
    def check():
        got = {r["cell"]: r for r in rollup().collect()}
        assert set(got) == set(want)
        for c, g in got.items():
            assert g["n_vectors"] == want[c]["n_vectors"]
            assert abs(g["sum_residual"] - want[c]["sum_residual"]) < 1e-9
            assert g["avg_residual"] == want[c]["avg_residual"]
            assert g["max_residual"] == want[c]["max_residual"]

    check()
    # replay idempotence: re-running batch 1 must not double-count
    _assign_pq_batch(
        spark.createDataFrame(rows[30:60], schema), 1, layout,
        None, None, "vec_id", "embedding", 4, stats_path,
    )
    check()
    # the feed chains into the retrain trigger with no vector rescan
    flags = ivf_drift_flags(rollup(), rollup(), min_rows=1).collect()
    assert flags and all(r["retrain"] == 0 for r in flags)  # self vs self: stable


def test_stream_decontaminate_admission(spark, tmp_path):
    """r13: the fixed-reference-set admission gate. Pins: (1) the
    streamed admitted union equals the batch containment face over the
    same rows (batches are independent — no growing state); (2) docs
    verbatim-containing an eval doc are rejected, clean docs admitted;
    (3) replay-overwrite idempotence; (4) Bloom on/off produce identical
    admission; (5) the per-batch plan reads the batch file + the bounded
    eval source only — never out_path."""
    import glob
    import shutil
    import time

    from pyspark_ingestion_spark.operators.dedup import containment_pairs
    from pyspark_ingestion_spark.streaming.pipeline import (
        _decontaminate_batch,
        stream_decontaminate_admission,
    )

    evals = spark.createDataFrame(
        [(1000 + i, f"secret benchmark passage number {i} alpha beta gamma delta")
         for i in range(5)],
        "doc_id long, text string",
    )
    # batch docs: i % 3 == 0 embed a full eval doc (contaminated)
    rows = []
    for i in range(30):
        if i % 3 == 0:
            text = (f"prefix words here secret benchmark passage number {i % 5} "
                    f"alpha beta gamma delta and a long clean tail {i}")
        else:
            text = f"perfectly original training document {i} with its own words"
        rows.append((i, text))
    schema = "doc_id long, text string"

    src = str(tmp_path / "src")
    os.makedirs(src)

    def write_file(name, lo, hi):
        stage = str(tmp_path / ("stage_" + name))
        spark.createDataFrame(rows[lo:hi], schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(stage)
        part = glob.glob(stage + "/part-*.parquet")[0]
        shutil.copy(part, os.path.join(src, name + ".parquet"))
        time.sleep(1.1)

    write_file("a", 0, 15)
    write_file("b", 15, 30)
    out = str(tmp_path / "admitted")
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    stream_decontaminate_admission(
        stream, evals, out, str(tmp_path / "ckpt"), n=3, bloom_bits=1 << 12
    )

    got = sorted(
        r["doc_id"] for r in spark.read.parquet(out).select("doc_id").collect()
    )
    # batch face over the same rows (independent batches => same union)
    all_df = spark.createDataFrame(rows, schema)
    dirty = (
        containment_pairs(all_df, evals, "doc_id", "text", n=3)
        .select("corpus_id").distinct()
    )
    want = sorted(
        r["doc_id"]
        for r in all_df.join(
            dirty, all_df["doc_id"] == dirty["corpus_id"], "left_anti"
        ).select("doc_id").collect()
    )
    assert got == want
    assert got, "everything rejected — fixture broken"
    assert all(i % 3 != 0 for i in got)  # contaminated docs rejected
    assert set(got) == {i for i in range(30) if i % 3 != 0}  # clean admitted

    # replay idempotence: re-running batch 1 overwrites, never duplicates
    b1 = spark.createDataFrame(rows[15:30], schema)
    _decontaminate_batch(
        b1, 1, evals, out, "doc_id", "text", 3, 1, 2, None, None, 4, None
    )
    again = sorted(
        r["doc_id"] for r in spark.read.parquet(out).select("doc_id").collect()
    )
    assert again == want  # also proves bloom-off == bloom-on admission

    # O(batch) read path: the per-batch plan touches the batch file and
    # the (bounded) eval source only — never the admitted output
    dirty_plan = containment_pairs(
        spark.read.parquet(os.path.join(src, "b.parquet")), evals,
        "doc_id", "text", n=3, bloom_bits=1 << 12,
    )
    files = dirty_plan.inputFiles()
    assert files and not any("/admitted/" in f for f in files), files

    # ADVICE r13: per-micro-batch doc frequencies would make admission
    # batching-dependent — the sink must refuse max_doc_freq loudly
    with pytest.raises(ValueError, match="max_doc_freq"):
        stream_decontaminate_admission(
            stream, evals, out, str(tmp_path / "ckpt2"), max_doc_freq=2
        )


def test_rotate_pq_layout_closes_drift_loop(spark, tmp_path):
    """r13: monitor -> trigger -> rotation, end to end. A generation
    trained on one regime drifts when the admitted window moves; pins:
    (1) the drift monitor flags the drifted cells against the OLD
    generation; (2) rotate_pq_layout publishes a fresh generation whose
    re-fit clears the flags on the SAME window; (3) the new layout's
    bootstrap assignment equals ivf_pq_assign under the persisted new
    generation, and the old layout is untouched; (4) the assign sink
    continues under the new path with the persisted generation
    governing; (5) rotation refuses to overwrite an existing layout."""
    from pyspark_ingestion_spark.operators.similarity import (
        ivf_cell_residual_stats,
        ivf_drift_flags,
        ivf_pq_assign,
        pq_codebooks,
    )
    from pyspark_ingestion_spark.streaming.pipeline import (
        _assign_pq_batch,
        _load_pq_generation,
        rotate_pq_layout,
    )

    schema = "vec_id long, embedding array<double>"
    # old regime: two tight clusters; new window: a third, far regime
    base_rows = [(i, [10.0, 0.1 * (i % 3), 0.0, 0.0]) for i in range(20)]
    base_rows += [(100 + i, [0.1 * (i % 3), 10.0, 0.0, 0.0]) for i in range(20)]
    new_rows = [(200 + i, [0.0, 0.5, 9.0, 3.0 + 0.1 * (i % 2)]) for i in range(12)]
    base = spark.createDataFrame(base_rows, schema)
    new = spark.createDataFrame(new_rows, schema)
    both = base.unionByName(new)

    old_layout = str(tmp_path / "gen_old")
    cents_old = spark.createDataFrame(
        [(0, [10.0, 0.0, 0.0, 0.0]), (1, [0.0, 10.0, 0.0, 0.0])],
        "centroid_id int, cvec array<double>",
    )
    cb_old = pq_codebooks(base, n_sub=4, k_codes=4, seed=7)
    _assign_pq_batch(base, 0, old_layout, cents_old, cb_old,
                     "vec_id", "embedding", 4)
    _assign_pq_batch(new, 1, old_layout, None, None, "vec_id", "embedding", 4)
    old_assigned_before = sorted(
        (r["vec_id"], r["cell"])
        for r in spark.read.parquet(f"{old_layout}/assigned").collect()
    )

    # (1) the monitor flags: new window vs train-time baseline, old gen
    stats = lambda df, cents: ivf_cell_residual_stats(  # noqa: E731
        ivf_pq_assign(df, cents, cb_old, n_sub=4).select(
            "vec_id", "embedding", "cell"
        ),
        cents,
    )
    flags_old = ivf_drift_flags(
        stats(new, cents_old), stats(base, cents_old), min_rows=5
    ).collect()
    assert any(r["retrain"] == 1 for r in flags_old), flags_old

    # (2)+(3) rotate on base ∪ admitted-new; drift clears under new gen
    new_layout = str(tmp_path / "gen_new")
    rotate_pq_layout(both, new_layout, n_centroids=3, n_sub=4, k_codes=4, seed=11)
    cents_new, cbs_new = _load_pq_generation(spark, new_layout)
    flags_new = ivf_drift_flags(
        stats(new, cents_new), stats(both, cents_new), min_rows=5
    ).collect()
    assert all(r["retrain"] == 0 for r in flags_new), flags_new

    key = lambda df: sorted(  # noqa: E731
        (r["vec_id"], r["cell"], tuple(r["codes"])) for r in df.collect()
    )
    got = spark.read.parquet(f"{new_layout}/assigned").drop("__batch_id")
    assert key(got) == key(ivf_pq_assign(both, cents_new, cbs_new, n_sub=4))
    # old layout untouched (publish-then-switch, never in-place)
    assert old_assigned_before == sorted(
        (r["vec_id"], r["cell"])
        for r in spark.read.parquet(f"{old_layout}/assigned").collect()
    )

    # (4) the sink continues under the new path: batches number from 0,
    # the persisted generation governs (bogus args ignored)
    more = spark.createDataFrame(
        [(300 + i, [0.0, 0.5, 9.0, 3.05]) for i in range(5)], schema
    )
    _assign_pq_batch(more, 0, new_layout, cents_old, cb_old,
                     "vec_id", "embedding", 4)
    after = spark.read.parquet(f"{new_layout}/assigned")
    assert after.count() == 52 + 5  # 52-row bootstrap + the new batch
    assert key(after.filter("vec_id >= 300").drop("__batch_id")) == key(
        ivf_pq_assign(more, cents_new, cbs_new, n_sub=4)
    )

    # (5) rotation never overwrites an existing generation
    with pytest.raises(Exception, match="already exists|ERROR"):
        rotate_pq_layout(both, new_layout, n_centroids=3, n_sub=4, k_codes=4)


def test_pq_generation_cutover_guard(spark, tmp_path):
    """r14 (VERDICT r13 item 4): the fresh-checkpoint cutover rule is
    enforced, not discipline. Pins: (1) a checkpoint binds to the
    generation it bootstraps against and replays/continues fine;
    (2) the SAME checkpoint pointed at a rotated layout raises a
    path-specific error before anything is written; (3) a fresh
    checkpoint proceeds under the new generation; (4) the real
    streaming sink threads the guard through foreachBatch."""
    import glob
    import shutil
    import time

    from pyspark_ingestion_spark.operators.similarity import pq_codebooks
    from pyspark_ingestion_spark.streaming.pipeline import (
        _assign_pq_batch,
        rotate_pq_layout,
        stream_ivf_pq_assign,
    )

    schema = "vec_id long, embedding array<double>"
    rows = [(i, [10.0, 0.1 * (i % 3), 0.0, 0.0]) for i in range(10)]
    rows += [(100 + i, [0.1 * (i % 3), 10.0, 0.0, 0.0]) for i in range(10)]
    base = spark.createDataFrame(rows, schema)
    cents = spark.createDataFrame(
        [(0, [10.0, 0.0, 0.0, 0.0]), (1, [0.0, 10.0, 0.0, 0.0])],
        "centroid_id int, cvec array<double>",
    )
    cbs = pq_codebooks(base, n_sub=4, k_codes=4, seed=7)

    layout_a = str(tmp_path / "genA")
    ck_a = str(tmp_path / "ckA")
    _assign_pq_batch(base, 0, layout_a, cents, cbs,
                     "vec_id", "embedding", 4, None, ck_a)
    # (1) replay under the SAME (checkpoint, layout) binding proceeds
    _assign_pq_batch(base, 0, layout_a, None, None,
                     "vec_id", "embedding", 4, None, ck_a)

    layout_b = str(tmp_path / "genB")
    rotate_pq_layout(base, layout_b, n_centroids=2, n_sub=4, k_codes=4, seed=11)

    # (2) old checkpoint x rotated path: loud, names both bindings
    with pytest.raises(ValueError, match="bound to generation") as ei:
        _assign_pq_batch(base, 1, layout_b, None, None,
                         "vec_id", "embedding", 4, None, ck_a)
    assert "genB" in str(ei.value) and "genA" in str(ei.value)
    assert "FRESH checkpoint" in str(ei.value)

    # (3) fresh checkpoint proceeds under the new generation
    _assign_pq_batch(base, 0, layout_b, None, None,
                     "vec_id", "embedding", 4, None, str(tmp_path / "ckB"))

    # (4) the real sink wires the guard through foreachBatch: a stream
    # driven by the OLD checkpoint against the rotated path must fail
    # on its first new batch with the same message
    src = str(tmp_path / "src")
    os.makedirs(src)

    def write_file(name, lo, hi):
        stage = str(tmp_path / ("stage_" + name))
        spark.createDataFrame(rows[lo:hi], schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(stage)
        part = glob.glob(stage + "/part-*.parquet")[0]
        shutil.copy(part, os.path.join(src, name + ".parquet"))
        time.sleep(1.1)

    write_file("a", 0, 10)
    ck_s = str(tmp_path / "ckS")
    stream = spark.readStream.schema(schema).parquet(src)
    stream_ivf_pq_assign(stream, layout_a, ck_s)  # binds ck_s -> genA
    write_file("b", 10, 20)
    stream2 = spark.readStream.schema(schema).parquet(src)
    with pytest.raises(Exception, match="bound to generation"):
        stream_ivf_pq_assign(stream2, layout_b, ck_s)


@pytest.mark.parametrize(
    "admit",
    ["dedup_indexed", "substring_indexed", "semantic_indexed",
     "fingerprint_indexed", "recompute"],
)
def test_admission_sink_single_source_evaluation(
    spark, tmp_path, monkeypatch, admit
):
    """r15 (VERDICT r14 item 6): pin the one-evaluation-per-micro-batch
    contract. The sink's entry checkpoint is what keeps a Python-backed
    batch source from being re-evaluated by every consumer (rejects
    broadcast, anti-join, postings/bands/dfcnt writes — measured ~3.3 s
    per extra evaluation at bench batch size before r14); an accidental
    lineage fork would silently reintroduce N evaluations and only show
    up as a bench regression. A counting mapInPandas source + a task
    accumulator make the contract a hard assertion: one partition, one
    evaluation, accumulator == 1 after the whole batch — for every
    indexed admit function and the shared recompute body.

    Each indexed admit also pins the bootstrap memo: once the batch
    that ran ``init_*`` returns, the next batch makes no read of the
    bootstrap probe path (``_has_base_partition`` reads nothing)."""
    import sys

    from pyspark_ingestion_spark.operators.dedup import (
        incremental_substring_rejects,
    )
    from pyspark_ingestion_spark.operators.multimodal import (
        image_dhash,
        synthesize_bmp_payload,
    )
    from pyspark_ingestion_spark.streaming import pipeline
    from pyspark_ingestion_spark.streaming.pipeline import (
        _admit_dedup_batch_indexed,
        _admit_fingerprint_batch_indexed,
        _admit_recompute,
        _admit_semantic_batch_indexed,
        _admit_substring_batch_indexed,
    )

    acc = spark.sparkContext.accumulator(0)

    def counted(it):
        acc.add(1)
        yield from it

    def texts(start, word, rep=1):
        return spark.createDataFrame(
            [(start + i, f"{word} doc {i} alpha beta gamma delta epsilon " * rep)
             for i in range(10)],
            "doc_id long, text string",
        )

    out, idx = str(tmp_path / "out"), str(tmp_path / "idx")
    if admit == "semantic_indexed":
        schema = "vec_id long, embedding array<double>"
        base = spark.createDataFrame(
            [(i, [float(i), 1.0, -1.0, 0.5]) for i in range(20)], schema
        )
        src = spark.createDataFrame(
            [(100 + i, [-1.0, float(i), 1.0, -0.5]) for i in range(10)], schema
        )
    elif admit == "fingerprint_indexed":
        schema = "doc_id long, payload binary"
        base = synthesize_bmp_payload(texts(0, "base", 8), "doc_id", "text", width=12)
        src = synthesize_bmp_payload(
            texts(100, "fresh", 8), "doc_id", "text", width=12
        )
    else:
        schema = "doc_id long, text string"
        base, src = texts(0, "base"), texts(100, "fresh")
    bdf = src.coalesce(1).mapInPandas(counted, schema)

    def run(batch_df, bid):
        if admit == "dedup_indexed":
            _admit_dedup_batch_indexed(
                batch_df, bid, base, out, idx,
                id_col="doc_id", text_col="text", n=3, num_hashes=8,
                band_size=2, threshold_num=1, threshold_den=2, max_doc_freq=5,
                max_bucket_size=None,
            )
        elif admit == "substring_indexed":
            _admit_substring_batch_indexed(
                batch_df, bid, base, out, idx, id_col="doc_id", text_col="text",
                k=10, min_len=10, max_window_df=5, sample_mod=None,
            )
        elif admit == "semantic_indexed":
            _admit_semantic_batch_indexed(
                batch_df, bid, base, out, idx, id_col="vec_id",
                vec_col="embedding", threshold=0.9, n_dims=4,
            )
        elif admit == "fingerprint_indexed":
            _admit_fingerprint_batch_indexed(
                batch_df, bid, base, out, idx, hash_fn=image_dhash,
                hash_cols=("dh_hi", "dh_lo"), id_col="doc_id", radius=7,
            )
        else:
            _admit_recompute(
                batch_df, bid, base, out, ("doc_id", "text"),
                lambda corpus, batch: incremental_substring_rejects(
                    corpus, batch, "doc_id", "text", k=10
                ),
            )

    run(bdf, 0)
    assert acc.value == 1, (
        f"batch source evaluated {acc.value} times — the sink's entry "
        "checkpoint no longer pins one evaluation per micro-batch"
    )
    if admit == "recompute":
        return
    probe_reads = []
    real_read = pipeline._read_idx_parquet

    def read(spark_, path):
        if sys._getframe(1).f_code.co_name == "_has_base_partition":
            probe_reads.append(path)
        return real_read(spark_, path)

    monkeypatch.setattr(pipeline, "_read_idx_parquet", read)
    run(src, 1)
    assert probe_reads == [], probe_reads


@pytest.mark.parametrize("sink", ["hotlog", "substring", "fingerprint"])
def test_overlapped_write_failure_replays_clean(spark, tmp_path, monkeypatch, sink):
    """Every sink keeps its exactly-once replay contract when a crash
    hits its overlapped writes: with some tables' ``overwrite_partitions``
    failing, the batch raises carrying a ``batch <id>: <table> write to
    <path> failed`` note for each of them while the other writes still
    commit. Two crashed attempts of the same batch id — first only the
    admitted-output write fails (the index partitions commit, so the
    replay must exclude its own index rows), then every index write
    fails (the output commits) — and a final replay without the fault
    leaves the admitted output and every index partition equal to a
    clean run's."""
    import shutil

    from pyspark_ingestion_spark.operators.multimodal import (
        image_dhash,
        synthesize_bmp_payload,
    )
    from pyspark_ingestion_spark.sources import writers
    from pyspark_ingestion_spark.streaming.pipeline import (
        _admit_dedup_batch_indexed,
        _admit_fingerprint_batch_indexed,
        _admit_substring_batch_indexed,
    )

    boiler = "subscribe to our newsletter for the latest updates"

    def texts(start, n, seed):
        return spark.createDataFrame(
            [(start + i, f"{boiler} doc {seed}x{i} topic {i % 3}")
             for i in range(n)],
            "doc_id long, text string",
        )

    # batch 1 repeats two base docs (rejected) next to fresh ones
    if sink == "fingerprint":
        import random

        def media(start, n, seed):
            rnd = random.Random(seed)
            df = spark.createDataFrame(
                [(start + i, "".join(chr(rnd.randrange(32, 127)) for _ in range(360)))
                 for i in range(n)],
                "doc_id long, text string",
            )
            return synthesize_bmp_payload(df, "doc_id", "text", width=12)

        base, b0 = media(0, 8, 0), media(100, 4, 1)
        b1 = media(200, 4, 2).unionByName(media(0, 2, 0))

        def admit(bdf, bid, root):
            _admit_fingerprint_batch_indexed(
                bdf, bid, base, f"{root}/out", f"{root}/idx",
                hash_fn=image_dhash, hash_cols=("dh_hi", "dh_lo"),
                id_col="doc_id", radius=3,
            )

        tables = {"media": "out", "fprints": "idx/fprints"}
    else:
        base = texts(0, 8, 0)
        b0 = texts(100, 4, 1)
        b1 = texts(200, 4, 2).unionByName(
            texts(0, 2, 0).withColumn("doc_id", F.col("doc_id") + 300)
        )
        if sink == "hotlog":
            def admit(bdf, bid, root):
                _admit_dedup_batch_indexed(
                    bdf, bid, base, f"{root}/out", f"{root}/idx",
                    id_col="doc_id", text_col="text", n=3, num_hashes=8,
                    band_size=2, threshold_num=1, threshold_den=2,
                    max_doc_freq=4, max_bucket_size=None,
                )

            tables = {"admitted-text": "out", "postings": "idx/postings",
                      "dfcnt-delta": "idx/dfcnt", "bands": "idx/bands",
                      "hot": "idx/hot"}
        else:
            def admit(bdf, bid, root):
                _admit_substring_batch_indexed(
                    bdf, bid, base, f"{root}/out", f"{root}/idx",
                    id_col="doc_id", text_col="text", k=20, min_len=20,
                    max_window_df=4, sample_mod=None,
                )

            tables = {"admitted-text": "out", "windows": "idx/windows",
                      "dfcnt": "idx/dfcnt"}

    def state(root):
        return {
            t: sorted((tuple(r) for r in spark.read.parquet(f"{root}/{t}").collect()),
                      key=repr)
            for t in tables.values()
        }

    clean, after0 = str(tmp_path / "clean"), str(tmp_path / "after0")
    admit(b0, 0, clean)
    shutil.copytree(clean, after0)
    admit(b1, 1, clean)
    want = state(clean)
    admitted1 = [r for r in want["out"] if str(r[-1]) == "1"]
    assert 0 < len(admitted1) < 6, admitted1  # batch 1 admits AND rejects

    root = str(tmp_path / "crashed")
    shutil.copytree(after0, root)
    real = writers.overwrite_partitions
    output, *index = tables.items()
    for failing_tables in ([output], index):
        targets = {f"{root}/{table}": name for name, table in failing_tables}

        def failing(df, path, *args, _targets=targets, **kwargs):
            if path in _targets:
                raise OSError(f"injected failure writing {path}")
            return real(df, path, *args, **kwargs)

        monkeypatch.setattr(writers, "overwrite_partitions", failing)
        with pytest.raises(OSError, match="injected failure") as exc:
            admit(b1, 1, root)
        notes = "\n".join(exc.value.__notes__)
        for path, name in targets.items():
            assert f"batch 1: {name} write to {path} failed" in notes, notes
    monkeypatch.setattr(writers, "overwrite_partitions", real)
    admit(b1, 1, root)  # the replay
    assert state(root) == want
