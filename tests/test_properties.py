"""Property-based tests (hypothesis) — invariants golden frames can't pin.

Spark jobs are slow per-example, so each property runs a small number of
generated cases but over *structured* random input (duplicates, unicode,
empty strings, skewed keys) that fixture data never covers.
"""

from __future__ import annotations

import hashlib
import os

from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

_TEXT = st.text(
    alphabet=st.characters(whitelist_categories=("Ll", "Lu", "Nd", "Zs")),
    max_size=80,
)


def _rolling_hash_py(text: str) -> int:
    """Independent Python model of functions.text.rolling_hash.

    Mirrors the engine's tokenizer EXACTLY (hypothesis found the
    boundaries): Spark's trim strips ASCII space only, and Java/RE2
    ``\\s`` is ASCII-only — a non-breaking space is a word character
    there, while Python's ``str.split()`` is Unicode-aware. Both the
    engine and the DuckDB oracle live in ASCII-``\\s`` world, so the
    model must too (re.ASCII), keeping leading/trailing empty tokens
    exactly like ``split(..., limit=-1)``.
    """
    import re

    t = text.strip(" ")
    ws = [] if t == "" else re.split(r"\s+", t, flags=re.ASCII)
    acc = 0
    for w in ws:
        code = int(hashlib.md5(w.encode()).hexdigest()[:8], 16)
        acc = (acc * 31 + code) % 1_000_000_007
    return acc


@settings(max_examples=5, deadline=None)
@given(st.lists(_TEXT, min_size=1, max_size=8))
def test_rolling_hash_matches_python_model(spark, texts):
    from pyspark_ingestion_spark.functions.text import rolling_hash

    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "id INT, t STRING")
    got = {r["id"]: r["h"] for r in df.select("id", rolling_hash("t").alias("h")).collect()}
    # Spark's split collapses any whitespace run like str.split; both sides
    # see the same word sequence, so the fold must agree exactly
    want = {i: _rolling_hash_py(t) for i, t in enumerate(texts)}
    assert got == want


@settings(max_examples=3, deadline=None)
@given(
    st.lists(st.tuples(st.integers(0, 5), st.integers(0, 100)), min_size=1, max_size=40),
    st.lists(st.tuples(st.integers(0, 5), st.text(max_size=5)), min_size=1, max_size=8),
)
def test_salted_join_equals_plain_join(spark, left_rows, right_rows):
    """Salting is a pure physical rewrite — any key distribution, any
    duplication factor, inner-join results must match exactly."""
    from pyspark_ingestion_spark.operators.relational import salted_join

    left = spark.createDataFrame(left_rows, "k INT, v INT")
    right = spark.createDataFrame(right_rows, "k INT, w STRING")
    plain = sorted(map(tuple, left.join(right, "k").collect()))
    salted = sorted(map(tuple, salted_join(left, right, on="k", n_salts=3).collect()))
    assert salted == plain


@settings(max_examples=3, deadline=None)
@given(st.lists(st.text(max_size=30), min_size=1, max_size=25))
def test_exact_dedup_partitions_the_input(spark, texts):
    """Dedup groups form a partition: copy counts sum to the input size and
    every keeper id is a real input id."""
    from pyspark_ingestion_spark.operators.dedup import exact_dedup_groups

    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "id INT, t STRING")
    groups = exact_dedup_groups(df, "id", "t").collect()
    assert sum(g["n_copies"] for g in groups) == len(texts)
    ids = set(range(len(texts)))
    assert all(g["keeper_id"] in ids for g in groups)


@settings(max_examples=3, deadline=None)
@given(st.lists(st.floats(-1e3, 1e3, allow_nan=False), min_size=2, max_size=16))
def test_cosine_similarity_bounds_and_self_identity(spark, vec):
    from pyspark_ingestion_spark.functions.vectors import cosine_similarity

    df = spark.createDataFrame([(vec,)], "v ARRAY<DOUBLE>")
    row = df.select(cosine_similarity("v", "v").alias("c")).first()
    # zero-norm predicate must mirror the engine's double arithmetic:
    # a subnormal component (e.g. 1.1e-308) squares to 0.0, so its norm
    # underflows to zero even though the component itself is nonzero
    if sum(x * x for x in vec) == 0.0:
        assert row["c"] is None  # zero norm → NULL, never division blowup
    else:
        assert abs(row["c"] - 1.0) < 1e-9


def test_pandas_quality_udf_null_matches_native(spark):
    """NULL text → NULL from BOTH the native expression and the pandas UDF
    (not 0.0, not NaN) — the escape hatch keeps null semantics."""
    from pyspark.sql import functions as F

    from pyspark_ingestion_spark.functions.text import quality_score
    from pyspark_ingestion_spark.functions.udfs import quality_score_pandas

    df = spark.createDataFrame([(1, None), (2, "hello world")], "id INT, t STRING")
    rows = df.select(
        quality_score("t").alias("native"), quality_score_pandas()("t").alias("pandas")
    ).collect()
    by_id = {i: r for i, r in enumerate(rows)}
    assert by_id[0]["native"] is None and by_id[0]["pandas"] is None
    assert by_id[1]["native"] == by_id[1]["pandas"] is not None


def test_salted_join_rejects_right_outer(spark):
    import pytest

    from pyspark_ingestion_spark.operators.relational import salted_join

    df = spark.createDataFrame([(1, 2)], "k INT, v INT")
    with pytest.raises(ValueError, match="inner/left"):
        salted_join(df, df, on="k", how="full_outer")


def test_watermark_uri_requires_session(tmp_path, monkeypatch):
    """URI paths never fall through to os.path (which would mangle
    gs://… into a local dir); without a session to reach Hadoop they
    fail loud."""
    import pytest
    from pyspark.sql import SparkSession

    from pyspark_ingestion_spark.ingestion.watermark import (
        Watermark,
        read_watermark,
        write_watermark,
    )

    monkeypatch.setattr(SparkSession, "getActiveSession", classmethod(lambda cls: None))
    with pytest.raises(RuntimeError, match="active SparkSession"):
        read_watermark("gs://bucket/lake/t", "s", "t", "c", "x", spark=None)
    with pytest.raises(RuntimeError, match="active SparkSession"):
        write_watermark(Watermark("s", "t", "c", "x"), "s3://bucket/lake/t", spark=None)
    assert not (tmp_path / "gs:").exists()


def test_watermark_roundtrip_through_hadoop_fs(spark, tmp_path):
    """file:// URI exercises the full Hadoop FileSystem path (open/create/
    rename) that gs://-s3a:// deployments use, and interoperates with the
    plain-local JSON store byte-for-byte."""
    from pyspark_ingestion_spark.ingestion.watermark import (
        Watermark,
        read_watermark,
        write_watermark,
    )

    uri = f"file://{tmp_path}/lake/t"
    init = read_watermark(uri, "sap", "t1", "updated_at", "1970-01-01T00:00:00.000000Z")
    assert init.ref_last_value == "1970-01-01T00:00:00.000000Z"  # absent → init

    wm = Watermark("sap", "t1", "updated_at", "2026-01-02T03:04:05.000006Z")
    write_watermark(wm, uri, spark=spark)
    assert read_watermark(uri, "sap", "t1", "updated_at", "x") == wm
    # overwrite (delete + rename path)
    wm2 = Watermark("sap", "t1", "updated_at", "2026-02-02T00:00:00.000000Z")
    write_watermark(wm2, uri)  # falls back to the active session
    assert read_watermark(uri, "sap", "t1", "updated_at", "x") == wm2
    # the local (non-URI) reader sees the same file
    assert read_watermark(f"{tmp_path}/lake/t", "sap", "t1", "updated_at", "x") == wm2


def test_state_json_writes_are_atomic_on_hadoop_fs(monkeypatch):
    """A crash mid-write must never leave a truncated state file that
    makes every later read raise: on URI paths each driver-side JSON
    state file (sync.json, the partition guard, the compaction manifest,
    the PQ generation binding) is created as ``<path>.tmp`` and renamed
    into place. A fake Hadoop FileSystem records every ``create``."""
    import types

    import pytest

    from pyspark_ingestion_spark.ingestion import watermark
    from pyspark_ingestion_spark.streaming.pipeline import _check_generation_binding

    files, created = {}, []

    class Out:
        def __init__(self, path):
            self.path, self.buf = path, b""

        def write(self, data):
            self.buf += bytes(data)

        def close(self):
            files[self.path] = self.buf

    class FakeFS:
        def exists(self, p):
            return p in files

        def create(self, p, overwrite):
            created.append(p)
            return Out(p)

        def open(self, p):
            return types.SimpleNamespace(data=files[p], close=lambda: None)

        def delete(self, p, recursive):
            return files.pop(p, None) is not None

        def rename(self, src, dst):
            files[dst] = files.pop(src)
            return True

    ns = types.SimpleNamespace
    jvm = ns(org=ns(apache=ns(
        hadoop=ns(fs=ns(Path=lambda p, child=None: p if child is None else f"{p}/{child}")),
        commons=ns(io=ns(IOUtils=ns(toString=lambda st, enc: st.data.decode(enc)))),
    )))
    fs = FakeFS()
    monkeypatch.setattr(watermark, "_hadoop_fs", lambda path, spark=None: (jvm, fs, path))

    _check_generation_binding(None, "gs://b/ck", "gs://b/layout", "gen-a")
    _check_generation_binding(None, "gs://b/ck", "gs://b/layout", "gen-a")
    with pytest.raises(ValueError, match="bound to generation"):
        _check_generation_binding(None, "gs://b/ck", "gs://b/layout", "gen-b")
    wm = watermark.Watermark("s", "t", "c", "2026-01-01T00:00:00.000000Z")
    watermark.write_watermark(wm, "gs://b/lake/t")
    watermark.write_watermark(wm, "gs://b/lake/t")  # replaces an existing file
    assert watermark.read_watermark("gs://b/lake/t", "s", "t", "c", "x") == wm
    assert len(created) == 3 and all(p.endswith(".tmp") for p in created), created
    assert sorted(files) == ["gs://b/ck/_pq_generation.json", "gs://b/lake/t/sync.json"]


@settings(max_examples=4, deadline=None)
@given(
    st.lists(st.tuples(st.integers(0, 2), st.integers(0, 50)), min_size=1, max_size=20),
    st.lists(st.tuples(st.integers(0, 2), st.integers(0, 50), st.integers(0, 99)),
             min_size=1, max_size=20),
)
def test_asof_join_matches_pandas_merge_asof(spark, left_rows, right_rows):
    """asof_join (union+window construction) must agree with pandas
    merge_asof (backward, inclusive, by-key) — an independent model of
    the same semantics, over arbitrary key/timestamp collisions."""
    import pandas as pd

    from pyspark_ingestion_spark.operators.relational import asof_join

    # dedupe right on (key, ts): with duplicate timestamps merge_asof picks
    # the LAST input row while the window construction picks a
    # deterministic one — both valid as-of semantics; pin the comparison
    # on unambiguous inputs by keeping one payload per (key, ts)
    right_map = {}
    for k, ts, payload in right_rows:
        right_map[(k, ts)] = payload
    right_rows = [(k, ts, p) for (k, ts), p in right_map.items()]

    left = spark.createDataFrame(left_rows, "k INT, lts INT")
    right = spark.createDataFrame(right_rows, "k INT, rts INT, payload INT")
    got = {
        (r["k"], r["lts"]): (r["asof_rts"], r["asof_payload"])
        for r in asof_join(left, right, by=["k"], left_ts="lts", right_ts="rts").collect()
    }

    lp = pd.DataFrame(left_rows, columns=["k", "lts"]).sort_values("lts").reset_index(drop=True)
    rp = pd.DataFrame(right_rows, columns=["k", "rts", "payload"]).sort_values("rts").reset_index(drop=True)
    want_df = pd.merge_asof(
        lp, rp, left_on="lts", right_on="rts", by="k", direction="backward"
    )
    want = {}
    for _, row in want_df.iterrows():
        rts = None if pd.isna(row["rts"]) else int(row["rts"])
        payload = None if pd.isna(row["payload"]) else int(row["payload"])
        want[(int(row["k"]), int(row["lts"]))] = (rts, payload)
    assert got == want


def test_connected_components_known_graph(spark):
    """Chain, triangle, isolated pair — min-label propagation must close
    the transitive hull and pick the min node id as component."""
    from pyspark_ingestion_spark.operators.dedup import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (4, 5), (5, 6), (4, 6), (7, 8)],
        "doc_a long, doc_b long",
    )
    got = {r["node"]: r["component"] for r in connected_components(edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 4, 5: 4, 6: 4, 7: 7, 8: 7}


@settings(max_examples=4, deadline=None)
@given(st.lists(st.tuples(st.integers(0, 15), st.integers(0, 15)), min_size=1, max_size=25))
def test_connected_components_matches_union_find(spark, edge_list):
    """Label propagation must agree with a driver-side union-find model
    over arbitrary small graphs (self-loops, multi-edges, long chains)."""
    from pyspark_ingestion_spark.operators.dedup import connected_components

    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edge_list:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {n: find(n) for n in parent}

    edges = spark.createDataFrame(edge_list, "doc_a long, doc_b long")
    # small-graph (driver union-find) path and distributed label
    # propagation must both match the model — and hence each other
    got = {r["node"]: r["component"] for r in connected_components(edges).collect()}
    assert got == want
    got_dist = {
        r["node"]: r["component"]
        for r in connected_components(edges, driver_max_edges=0).collect()
    }
    assert got_dist == want


@settings(max_examples=6, deadline=None)
@given(
    st.sets(st.integers(-50, 450), min_size=1, max_size=40),
    st.sampled_from([7, 100, 100_000]),
)
def test_sequence_gaps_matches_sorted_model(spark, ids, width):
    """The sharded gap detector must equal the sorted-list model for any
    id set and shard width — including gaps inside a shard, gaps that
    span shard boundaries, gaps covering whole empty shards, negative
    ids, and duplicate ids (the input is de-duplicated first)."""
    from pyspark_ingestion_spark.operators.relational import sequence_gaps

    ordered = sorted(ids)
    want = {
        (a, b, b - a - 1)
        for a, b in zip(ordered, ordered[1:])
        if b - a > 1
    }
    df = spark.createDataFrame([(i,) for i in ids] + [(i,) for i in ids], "id long")
    got = {
        (r["gap_after"], r["resume_at"], r["missing"])
        for r in sequence_gaps(df, "id", shard_width=width).collect()
    }
    assert got == want


def test_split_assignment_stable_under_corpus_growth(spark):
    """A doc's split never changes when the corpus grows — the no-leakage
    property hash bucketing exists for (seeded df.sample lacks it)."""
    from pyspark_ingestion_spark.operators.sampling import train_val_test_split

    small = spark.range(0, 200).withColumnRenamed("id", "doc_id")
    big = spark.range(0, 400).withColumnRenamed("id", "doc_id")
    s1 = {r["doc_id"]: (r["bucket"], r["split"])
          for r in train_val_test_split(small, "doc_id").collect()}
    s2 = {r["doc_id"]: (r["bucket"], r["split"])
          for r in train_val_test_split(big, "doc_id").collect()}
    assert all(s2[k] == v for k, v in s1.items())
    assert {v[1] for v in s2.values()} == {"train", "val", "test"}
    assert all(0 <= v[0] < 100 for v in s2.values())
    for b, s in s2.values():
        assert s == ("train" if b < 80 else "val" if b < 90 else "test")


def test_containment_catches_embedded_benchmark_doc(spark):
    """A benchmark doc fully embedded in a much larger corpus doc must
    score containment 1.0 even though symmetric Jaccard would be low."""
    from pyspark_ingestion_spark.operators.dedup import containment_pairs

    bench = spark.createDataFrame(
        [(1, "the quick brown fox jumps")], "doc_id long, text string"
    )
    filler = " ".join(f"word{i}" for i in range(60))
    corpus = spark.createDataFrame(
        [(100, f"{filler} the quick brown fox jumps {filler}"),
         (101, "entirely unrelated content here")],
        "doc_id long, text string",
    )
    got = containment_pairs(corpus, bench, "doc_id", "text", n=3).collect()
    assert len(got) == 1
    row = got[0]
    assert (row["bench_id"], row["corpus_id"]) == (1, 100)
    assert row["containment"] == 1.0


@settings(max_examples=3, deadline=None)
@given(st.lists(st.tuples(st.integers(0, 500), st.integers(0, 3)), min_size=1, max_size=40))
def test_stratified_sample_bounded_and_deterministic(spark, rows):
    """Per-stratum cap holds, ids are unique, and two runs over the same
    input pick IDENTICAL rows (the whole point vs seeded df.sample)."""
    from pyspark_ingestion_spark.operators.sampling import stratified_sample

    rows = list({r[0]: r for r in rows}.values())  # unique ids
    df = spark.createDataFrame(rows, "doc_id long, grp int")
    a = {(r["doc_id"], r["grp"], r["rn"])
         for r in stratified_sample(df, "doc_id", "grp", k=3).collect()}
    b = {(r["doc_id"], r["grp"], r["rn"])
         for r in stratified_sample(df, "doc_id", "grp", k=3).collect()}
    assert a == b
    per_grp = {}
    for _, g, rn in a:
        per_grp.setdefault(g, []).append(rn)
    for g, rns in per_grp.items():
        assert sorted(rns) == list(range(1, len(rns) + 1))
        assert len(rns) <= 3


def _hot_shingle_corpus(spark, n_docs=300):
    """Every doc shares one boilerplate 3-gram; tails are unique."""
    rows = [(i, f"aaa bbb ccc u{i} v{i} w{i}") for i in range(n_docs)]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_doc_freq_cap_drops_hot_shingle_keeps_rare(spark):
    """Absolute and fractional caps prune exactly the over-frequent shingles."""
    from pyspark_ingestion_spark.operators.dedup import _shingle_table

    df = _hot_shingle_corpus(spark, n_docs=50)
    uncapped = _shingle_table(df, "doc_id", "text", 3)
    assert uncapped.filter(F.col("shingle") == "aaa bbb ccc").count() == 50

    capped = _shingle_table(df, "doc_id", "text", 3, max_doc_freq=10)
    shingles = {r["shingle"] for r in capped.collect()}
    assert "aaa bbb ccc" not in shingles
    # rare (unique-tail) shingles survive, every doc still represented
    assert "u0 v0 w0" in shingles
    assert capped.select("doc").distinct().count() == 50

    frac = _shingle_table(df, "doc_id", "text", 3, max_doc_freq=0.5)
    fshingles = {r["shingle"] for r in frac.collect()}
    assert "aaa bbb ccc" not in fshingles  # df=50 > ceil(0.5*50)=25
    assert "bbb ccc u0" in fshingles


def test_doc_freq_cap_bounds_hot_shingle_pair_space(spark):
    """A hot boilerplate shingle no longer yields a quadratic pair set.

    300 docs sharing one shingle → C(300,2) = 44 850 colliding pairs
    uncapped; with the cap the hot key is gone and the corpus has no
    other collisions, so the pair space collapses to zero. This is the
    100 TB guard: pair count per shingle is bounded by cap², not df².
    """
    from pyspark_ingestion_spark.operators.dedup import (
        jaccard_similar_pairs,
        minhash_lsh_dedup_pairs,
    )

    df = _hot_shingle_corpus(spark, n_docs=300)
    uncapped = jaccard_similar_pairs(
        df, "doc_id", "text", n=3, threshold_num=0, threshold_den=1
    )
    assert uncapped.count() == 300 * 299 // 2

    capped = jaccard_similar_pairs(
        df, "doc_id", "text", n=3, threshold_num=0, threshold_den=1, max_doc_freq=10
    )
    assert capped.count() == 0

    lsh_capped = minhash_lsh_dedup_pairs(
        df, "doc_id", "text", threshold_num=0, threshold_den=1, max_doc_freq=10
    )
    assert lsh_capped.count() == 0


def test_doc_freq_cap_containment_consistent_universe(spark):
    """Corpus-side cap removes hot shingles from bench numerator AND
    denominator, so an all-boilerplate bench doc scores no hit instead
    of a spurious 100% containment."""
    from pyspark_ingestion_spark.operators.dedup import containment_pairs

    corpus = _hot_shingle_corpus(spark, n_docs=40)
    bench = spark.createDataFrame([(900, "aaa bbb ccc")], "doc_id long, text string")
    hit = containment_pairs(corpus, bench, "doc_id", "text", n=3)
    assert hit.count() == 40  # boilerplate matches every corpus doc uncapped
    capped = containment_pairs(
        corpus, bench, "doc_id", "text", n=3, max_doc_freq=10
    )
    assert capped.count() == 0


def test_incremental_batch_cap_bounds_hot_trigram_pairs(spark):
    """The r3 weak flag, pinned: a boilerplate trigram shared by the
    whole corpus AND the incoming batch must not materialize one
    candidate pair per corpus doc. With the corpus-side df-cap the hot
    shingle is gone before the equi-join; the Jaccard-implied
    pre-filter (2·ov ≥ batch_size) then drops incidental single-shingle
    collisions before any corpus-size lookup."""
    from pyspark_ingestion_spark.operators.dedup import (
        incremental_near_candidates,
        incremental_near_rejects,
    )

    corpus = _hot_shingle_corpus(spark, n_docs=1000)
    batch = spark.createDataFrame(
        [
            (9001, "aaa bbb ccc x1 x2 x3"),       # boilerplate + unique tail
            (9002, "aaa bbb ccc u7 v7 w7"),       # near-dup of corpus doc 7
            (9003, "zzz yyy xxx q1 q2 q3"),       # nothing shared
        ],
        "doc_id long, text string",
    )
    uncapped = incremental_near_candidates(
        corpus, batch, "doc_id", "text", n=3, threshold_num=0, threshold_den=1
    )
    # every corpus doc collides with both boilerplate batch docs
    assert uncapped.count() >= 2 * 1000

    capped = incremental_near_candidates(
        corpus, batch, "doc_id", "text", n=3, max_doc_freq=25
    )
    # hot shingle pruned -> only the genuine near-dup's tail collides
    assert capped.count() <= 2

    rejects = incremental_near_rejects(
        corpus, batch, "doc_id", "text", n=3, max_doc_freq=25
    )
    assert {r["doc_id"] for r in rejects.collect()} == {9002}


def test_cep_bucketed_join_matches_brute_force(spark, tmp_path):
    """The time-bucketed CEP join must equal the brute-force triple count
    on a synthetic heavy user whose events span many 2h buckets —
    sequences that cross a bucket boundary are the regression this
    pins (an off-by-one in the bucket explode silently drops exactly
    those)."""
    import datetime as dt
    import itertools

    from pyspark_ingestion_spark.queries import all_queries

    base = dt.datetime(2024, 1, 1)
    rows = []
    eid = 0
    # heavy user 1: events every 17 minutes across ~2 days, cycling types
    # (17 min stride ⇒ many view→click→purchase chains straddle bucket edges)
    for i in range(180):
        rows.append((eid, base + dt.timedelta(minutes=17 * i), 1,
                     ["view", "click", "purchase"][i % 3], 1.0, None))
        eid += 1
    # user 2: a single in-bucket chain and one >2h (excluded) purchase
    for ts_min, et in ((0, "view"), (10, "click"), (30, "purchase"),
                      (200, "purchase")):
        rows.append((eid, base + dt.timedelta(minutes=ts_min), 2, et, 1.0, None))
        eid += 1
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    (tmp_path / "events_cep").mkdir()
    pdf = pd.DataFrame(
        rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    # single file, like the driver's testdata (load_table sniffs the footer)
    pq.write_table(
        pa.Table.from_pandas(pdf), str(tmp_path / "events_cep" / "events.parquet")
    )

    got = {
        r["user_id"]: (r["n_sequences"], r["first_view"], r["first_purchase"])
        for r in all_queries()["cep_view_click_purchase"]
        .fn(spark, str(tmp_path / "events_cep"))
        .collect()
    }

    by_user: dict[int, list] = {}
    for _, ts, uid, et, _v, _p in rows:
        by_user.setdefault(uid, []).append((ts, et))
    want = {}
    for uid, evs in by_user.items():
        vs = [t for t, e in evs if e == "view"]
        cs = [t for t, e in evs if e == "click"]
        ps = [t for t, e in evs if e == "purchase"]
        triples = [
            (v, c, p)
            for v, c, p in itertools.product(vs, cs, ps)
            if v < c < p <= v + dt.timedelta(hours=2)
        ]
        if triples:
            want[uid] = (
                len(triples),
                min(t[0] for t in triples),
                min(t[2] for t in triples),
            )
    assert got == want
    assert want[1][0] > 0  # the heavy user really exercises the chains


_WORD = st.sampled_from(["aa", "bb", "cc", "dd", "ee", "ff", "gg", "hh"])
_DOC = st.lists(_WORD, min_size=0, max_size=8).map(" ".join)


@settings(max_examples=5, deadline=None)
@given(
    st.lists(_DOC, min_size=1, max_size=10),
    st.lists(_DOC, min_size=1, max_size=4),
    st.sampled_from([None, 2]),
)
def test_incremental_rejects_match_python_model(spark, corpus_texts, batch_texts, cap):
    """incremental_near_rejects must equal a brute-force Python model of
    'Jaccard ≥ 1/2 over the df-capped trigram universe against ANY
    corpus doc' — random small word-docs hit the edges fixtures don't
    (empty docs, docs shorter than the shingle width, identical docs,
    every-doc-shares-a-shingle under a cap of 2)."""
    from pyspark_ingestion_spark.operators.dedup import incremental_near_rejects

    def shingles(text):
        ws = text.split()
        if not ws:
            ws = [""]
        n = max(len(ws) - 2, 1)
        return {" ".join(ws[i : i + 3]) for i in range(n)}

    corpus = {1000 + i: shingles(t) for i, t in enumerate(corpus_texts)}
    batch = {2000 + i: shingles(t) for i, t in enumerate(batch_texts)}
    if cap is not None:
        from collections import Counter

        df_counts = Counter(s for sh in corpus.values() for s in sh)
        hot = {s for s, c in df_counts.items() if c > cap}
        corpus = {k: v - hot for k, v in corpus.items()}
        batch = {k: v - hot for k, v in batch.items()}
    want = {
        bid
        for bid, bs in batch.items()
        for cs in corpus.values()
        if bs | cs and 2 * len(bs & cs) >= len(bs | cs)
    }

    cdf = spark.createDataFrame(
        [(i, t) for i, t in zip(sorted(corpus), corpus_texts)],
        "doc_id long, text string",
    )
    bdf = spark.createDataFrame(
        [(i, t) for i, t in zip(sorted(batch), batch_texts)],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]
        for r in incremental_near_rejects(
            cdf, bdf, "doc_id", "text", n=3, max_doc_freq=cap
        ).collect()
    }
    assert got == want


@settings(max_examples=4, deadline=None)
@given(
    st.lists(_DOC, min_size=1, max_size=8),
    st.lists(_DOC, min_size=1, max_size=3),
)
def test_incremental_lsh_subset_of_exact_and_catches_dups(
    spark, corpus_texts, batch_texts
):
    """Two contracts of the LSH admission path: its reject set is a
    SUBSET of the exact shingle-join rejects (banding can only lose
    recall, never invent a rejection — verification is exact), and a
    batch doc textually identical to a corpus doc is ALWAYS rejected
    (identical shingle sets ⇒ identical signatures in every band)."""
    from pyspark_ingestion_spark.operators.dedup import (
        incremental_lsh_rejects,
        incremental_near_rejects,
    )

    # plant a guaranteed exact duplicate of the first corpus doc
    batch_texts = [*batch_texts, corpus_texts[0]]
    cdf = spark.createDataFrame(
        [(1000 + i, t) for i, t in enumerate(corpus_texts)],
        "doc_id long, text string",
    )
    bdf = spark.createDataFrame(
        [(2000 + i, t) for i, t in enumerate(batch_texts)],
        "doc_id long, text string",
    )
    kw = dict(n=3, threshold_num=1, threshold_den=2)
    exact = {
        r["doc_id"]
        for r in incremental_near_rejects(cdf, bdf, "doc_id", "text", **kw).collect()
    }
    lsh = {
        r["doc_id"]
        for r in incremental_lsh_rejects(cdf, bdf, "doc_id", "text", **kw).collect()
    }
    assert lsh <= exact
    planted = 2000 + len(batch_texts) - 1
    assert planted in lsh


def test_approx_distinct_error_bound(spark):
    """The one rows-only aggregate gets a real check: HLL++ estimate at
    rsd=0.01 stays within 5% of the exact distinct count (a broken rsd
    setting or sketch merge would blow well past this)."""
    import os

    from pyspark_ingestion_spark.queries import all_queries

    from tests.conftest import SF_DIR

    sf = "/root/testdata/sf0.01"
    if not os.path.isdir(sf):
        sf = SF_DIR  # pragma: no cover
    from pyspark_ingestion_spark.sources.readers import load_table

    approx = all_queries()["agg_approx_distinct"].fn(spark, sf).first()["approx_customers"]
    exact = (
        load_table(spark, sf, "orders")
        .agg(F.count_distinct("o_custkey").alias("n"))
        .first()["n"]
    )
    assert exact > 0
    assert abs(approx - exact) / exact <= 0.05, f"approx={approx} exact={exact}"


def test_connected_components_warns_when_unconverged(spark):
    """A component with diameter > max_iter must not silently return
    split clusters — the operator warns so pipelines can raise max_iter."""
    import warnings

    from pyspark_ingestion_spark.operators.dedup import connected_components

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], "doc_a int, doc_b int"
    )
    # force the distributed loop — the driver union-find path has no
    # iteration limit to exhaust
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        connected_components(chain, max_iter=2, driver_max_edges=0).collect()
    assert any(
        issubclass(w.category, RuntimeWarning) and "did not converge" in str(w.message)
        for w in caught
    )
    # and with enough rounds it converges to one component, no warning
    with warnings.catch_warnings(record=True) as caught2:
        warnings.simplefilter("always")
        out = connected_components(chain, max_iter=20, driver_max_edges=0).collect()
    assert not any("did not converge" in str(w.message) for w in caught2)
    assert {r["component"] for r in out} == {0}


def test_approx_percentile_error_bound(spark):
    """The quantile sketch stays within 1% relative error of exact
    percentiles at every probed quantile (same contract style as the
    HLL bound — sketches get error bounds, not oracles)."""
    from pyspark_ingestion_spark.queries import all_queries
    from pyspark_ingestion_spark.sources.readers import load_table

    sf = "/root/testdata/sf0.01"
    row = all_queries()["agg_approx_percentile"].fn(spark, sf).first()
    approx = [row["p25"], row["p50"], row["p75"], row["p95"]]
    exact = (
        load_table(spark, sf, "lineitem")
        .agg(F.expr("percentile(l_extendedprice, array(0.25, 0.5, 0.75, 0.95))").alias("p"))
        .first()["p"]
    )
    for a, e in zip(approx, exact):
        assert e > 0 and abs(a - e) / e <= 0.01, (approx, exact)


def test_quality_checks_counts_violations(spark):
    """On deliberately broken data every violation class is counted:
    surplus duplicates, NULLs in required columns, orphaned FKs."""
    from pyspark_ingestion_spark.operators.profiling import quality_checks

    child = spark.createDataFrame(
        [(1, 10), (1, 11), (1, 10), (2, None), (3, 99)], "k long, fk long"
    )
    parent = spark.createDataFrame([(10,), (11,)], "fk long")
    row = quality_checks(
        child, unique_cols=["k"], not_null_cols=["fk"], fk=("fk", parent, "fk")
    ).first()
    assert row["dup_k"] == 2        # three rows share k=1 → two surplus
    assert row["null_fk"] == 1
    assert row["orphan_fk"] == 1    # fk=99 has no parent


def test_hll_union_sketch_error_bound(spark):
    """Mergeable-sketch contract: per-group HLL sketches unioned then
    estimated stay within 5% of the exact global distinct count."""
    from pyspark_ingestion_spark.queries import all_queries
    from pyspark_ingestion_spark.sources.readers import load_table

    sf = "/root/testdata/sf0.01"
    merged = all_queries()["agg_hll_mergeable_sketch"].fn(spark, sf).first()[
        "merged_distinct_customers"
    ]
    exact = (
        load_table(spark, sf, "orders")
        .agg(F.count_distinct("o_custkey").alias("n"))
        .first()["n"]
    )
    assert abs(merged - exact) / exact <= 0.05, (merged, exact)


def test_aes_pseudonymize_modes(spark):
    """ECB tokens are deterministic (equal plaintexts stay joinable);
    GCM tokens are randomized (not linkable); both reveal exactly."""
    from pyspark_ingestion_spark.functions.scalar import aes_pseudonymize, aes_reveal

    key = "0123456789abcdef"
    df = spark.createDataFrame([(1, "alice"), (2, "alice"), (3, "bob")], "id int, name string")
    det = df.select(
        "id",
        aes_pseudonymize("name", key).alias("tok"),
        aes_reveal(aes_pseudonymize("name", key), key).alias("back"),
    ).collect()
    toks = {r["id"]: bytes(r["tok"]) for r in det}
    assert toks[1] == toks[2] != toks[3]
    assert all(r["back"] in ("alice", "bob") for r in det)

    rnd = df.select(
        aes_pseudonymize("name", key, deterministic=False).alias("tok"),
        aes_reveal(
            aes_pseudonymize("name", key, deterministic=False), key, deterministic=False
        ).alias("back"),
    ).collect()
    assert len({bytes(r["tok"]) for r in rnd}) == 3  # random IV → all distinct
    assert sorted(r["back"] for r in rnd) == ["alice", "alice", "bob"]


def test_scrub_pii_replaces_each_class(spark):
    """Redaction actually fires on real PII shapes (the corpus fixture is
    clean, so the oracle parity alone would pass on identity) and the
    email-before-phone / ssn-before-phone ordering holds."""
    from pyspark_ingestion_spark.functions.text import scrub_pii

    rows = [
        (1, "mail bob.smith+x@example.co.uk now"),
        (2, "call +1-555-123-4567 or (555) 987-6543"),
        (3, "host 192.168.1.250 down"),
        (4, "ssn 123-45-6789 leaked"),
        (5, "no pii here at all"),
    ]
    df = spark.createDataFrame(rows, "id int, t string")
    got = {r["id"]: r["s"] for r in df.select("id", scrub_pii("t").alias("s")).collect()}
    assert got[1] == "mail <EMAIL> now"
    assert got[2] == "call <PHONE> or <PHONE>"
    assert got[3] == "host <IP> down"
    assert got[4] == "ssn <SSN> leaked"
    assert got[5] == "no pii here at all"


def test_kll_quantile_sketch_error_bound(spark):
    """Merged per-group KLL quantiles honor the sketch's actual contract:
    RANK error (the fraction of rows at or below the estimate must sit
    within ±3% of the target quantile; default k=200 guarantees ~1.65%).
    Value-based bounds would be flaky — KLL is order-sensitive and dense
    value regions amplify value error."""
    from pyspark_ingestion_spark.queries import all_queries
    from pyspark_ingestion_spark.sources.readers import load_table

    sf = "/root/testdata/sf0.01"
    got = all_queries()["agg_kll_mergeable_quantiles"].fn(spark, sf).first()
    o = load_table(spark, sf, "orders")
    total = o.count()
    for target, est in ((0.25, got["p25"]), (0.5, got["p50"]), (0.75, got["p75"])):
        rank = o.filter(F.col("o_totalprice") <= est).count() / total
        assert abs(rank - target) <= 0.03, (target, est, rank)


def test_theta_set_overlap_exact_below_capacity(spark):
    """Theta intersection/union estimates equal the exact distinct-set
    counts while both sets fit the sketch (they do at sf0.01)."""
    from pyspark_ingestion_spark.queries import all_queries
    from pyspark_ingestion_spark.sources.readers import load_table

    sf = "/root/testdata/sf0.01"
    got = all_queries()["agg_theta_set_overlap"].fn(spark, sf).first()
    o = load_table(spark, sf, "orders")
    a = o.filter(F.year("o_orderdate") == 1995).select("o_custkey").distinct()
    b = o.filter(F.year("o_orderdate") == 1996).select("o_custkey").distinct()
    assert got["inter_customers"] == a.intersect(b).count()
    assert got["union_customers"] == a.union(b).distinct().count()


def _repetition_py(text: str, n: int) -> tuple[int, int, int]:
    """Independent Python model of functions.text.ngram_repetition."""
    from collections import Counter

    ws = text.lower().strip().split()
    if not ws or text.strip() == "":
        ws = [w for w in ws if w]
    grams = [" ".join(ws[i : i + n]) for i in range(len(ws) - n + 1)] if len(ws) >= n else []
    c = Counter(grams)
    top = max(c.values()) if c else 0
    dup = sum(v for v in c.values() if v > 1)
    return len(grams), top, dup


@settings(max_examples=4, deadline=None)
@given(st.lists(st.sampled_from(["a", "b", "cat", "dog ran", ""]), max_size=12))
def test_ngram_repetition_matches_python_model(spark, parts):
    from pyspark_ingestion_spark.functions.text import ngram_repetition, words

    text = " ".join(parts)
    df = spark.createDataFrame([(text,)], "t STRING")
    staged = df.select(words(F.lower(F.col("t"))).alias("w"))
    row = staged.select(
        ngram_repetition(F.col("w"), 2).alias("r2"),
        ngram_repetition(F.col("w"), 5).alias("r5"),
    ).first()
    for n, r in ((2, row["r2"]), (5, row["r5"])):
        pos, top, dup = _repetition_py(text, n)
        assert (r["positions"], r["top_count"], r["dup_count"]) == (pos, top, dup), (n, text)


def test_ngram_repetition_edges(spark):
    """Blank text, single word, and a fully-repeated doc pin the counter
    semantics: dup_count counts every slot in a run of length >= 2."""
    from pyspark_ingestion_spark.functions.text import ngram_repetition, words

    cases = [("", (0, 0, 0)), ("hello", (0, 0, 0)), ("a a a a", (3, 3, 3)),
             ("x y x y z", (4, 2, 2))]
    df = spark.createDataFrame([(t,) for t, _ in cases], "t STRING")
    staged = df.select("t", words(F.lower(F.col("t"))).alias("w"))
    rows = {r["t"]: r["r"] for r in staged.select("t", ngram_repetition(F.col("w"), 2).alias("r")).collect()}
    for t, want in cases:
        r = rows[t]
        assert (r["positions"], r["top_count"], r["dup_count"]) == want, t


def test_domain_mix_growth_monotonicity(spark):
    """The two mixing invariants: (a) raising a domain's weight only ADDS
    docs — the kept set at w1 is a strict subset of the kept set at
    w2 > w1; (b) corpus growth never changes an existing doc's verdict."""
    from pyspark_ingestion_spark.operators.sampling import weighted_domain_mix

    rows = [(i, "web" if i % 3 else "wiki") for i in range(300)]
    df = spark.createDataFrame(rows, ["doc_id", "source"])

    def kept(frame, w):
        out = weighted_domain_mix(frame, "doc_id", "source",
                                  weights={"web": w}, default_weight=1.0)
        return {r["doc_id"] for r in out.collect()}

    low, high = kept(df, 0.2), kept(df, 0.6)
    assert low < high  # strict subset: raising weight only adds

    grown = spark.createDataFrame(
        rows + [(i, "web") for i in range(300, 400)], ["doc_id", "source"]
    )
    assert kept(grown, 0.2) & set(range(300)) == low


def test_shuffle_assign_is_dense_permutation(spark):
    """Shard positions are a dense 1..n_shard permutation, the assignment
    is deterministic across runs, and no shard is empty-heavy (hash
    spreads keys)."""
    from pyspark_ingestion_spark.operators.sampling import shuffle_assign

    df = spark.createDataFrame([(i,) for i in range(500)], ["doc_id"])
    a = shuffle_assign(df, "doc_id", n_shards=8).collect()
    b = shuffle_assign(df, "doc_id", n_shards=8).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))  # deterministic

    by_shard: dict[int, list[int]] = {}
    for r in a:
        by_shard.setdefault(r["shard"], []).append(r["position"])
    assert set(by_shard) == set(range(8))  # every shard populated
    for positions in by_shard.values():
        assert sorted(positions) == list(range(1, len(positions) + 1))  # dense


def test_route_quarantine_precedence_and_null_policy(spark):
    """First failing rule wins regardless of later rules; NULL rule
    results quarantine (fail closed), never pass."""
    from pyspark.sql import functions as F

    from pyspark_ingestion_spark.operators.profiling import route_quarantine

    df = spark.createDataFrame(
        [(1, 10.0, "A"), (2, -5.0, "A"), (3, -5.0, None), (4, None, "B"), (5, 10.0, "B")],
        ["id", "amount", "grade"],
    )
    routed = route_quarantine(
        df,
        [
            ("amount_positive", F.col("amount") > 0),
            ("grade_known", F.col("grade").isin("A")),
        ],
    )
    got = {r["id"]: r["disposition"] for r in routed.collect()}
    assert got == {
        1: "valid",
        2: "quarantine:amount_positive",   # first rule fires, grade never checked
        3: "quarantine:amount_positive",   # both bad -> first wins
        4: "quarantine:amount_positive",   # NULL amount fails closed
        5: "quarantine:grade_known",
    }


def test_count_min_sketch_heavy_hitter_bound(spark):
    """Count-min sketch estimates (mergeable heavy-hitter counting — the
    frequency analog of the HLL/KLL/Theta family) are within eps·N of
    exact counts and never underestimate. Spark exposes the aggregate
    natively but no query expression over the sketch, so the estimate
    side goes through the JVM sketch class — a driver-side read of one
    8 KB sketch, the way a production pipeline would consume persisted
    per-partition sketches."""
    from pyspark.sql import functions as F

    from pyspark_ingestion_spark.sources.readers import load_table

    sf = "/root/testdata/sf0.01"
    e = load_table(spark, sf, "events")
    eps, conf = 0.01, 0.95
    sk_bytes = e.agg(
        F.count_min_sketch("event_type", F.lit(eps), F.lit(conf), F.lit(42)).alias("sk")
    ).first()["sk"]

    jvm = spark.sparkContext._jvm
    bis = jvm.java.io.ByteArrayInputStream(bytes(sk_bytes))
    cms = jvm.org.apache.spark.util.sketch.CountMinSketch.readFrom(bis)

    exact = {r["event_type"]: r["n"] for r in
             e.groupBy("event_type").agg(F.count(F.lit(1)).alias("n")).collect()}
    total = sum(exact.values())
    for etype, n in exact.items():
        est = cms.estimateCount(etype)
        assert est >= n  # CMS never underestimates
        assert est - n <= eps * total, (etype, est, n)


@given(
    st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 1000), st.booleans()),
        min_size=1, max_size=40,
    )
)
@settings(max_examples=15, deadline=None)
def test_asof_nearest_matches_python_model(spark, rows):
    """join_asof_nearest composition (backward + forward + distance CASE)
    vs a brute-force python model: for each left row, the right row with
    the minimal |Δts| within the key, ties toward the EARLIER right ts.
    Exercises empty-right keys, equal timestamps, and all-left inputs."""
    from pyspark_ingestion_spark.operators.relational import asof_join

    lefts = [(k, ts) for (k, ts, is_left) in rows if is_left]
    rights = [(k, ts) for (k, ts, is_left) in rows if not is_left]
    if not lefts:
        return
    # distinct right ts per key: equal-ts right rows are order-ambiguous
    # in BOTH engines (documented asof_join caveat) — not the property
    # under test here
    rights = list({(k, ts) for (k, ts) in rights})

    l = spark.createDataFrame([(k, ts, i) for i, (k, ts) in enumerate(lefts)],
                              "k int, ts long, lid int")
    r = spark.createDataFrame(rights or [(None, None)],
                              "k int, ts long").filter(F.col("k").isNotNull())

    b = asof_join(l, r, by=["k"], left_ts="ts", right_ts="ts",
                  right_cols=[], prefix="b_")
    both = asof_join(b, r, by=["k"], left_ts="ts", right_ts="ts",
                     right_cols=[], prefix="f_", direction="forward")
    use_b = F.col("b_ts").isNotNull() & (
        F.col("f_ts").isNull()
        | ((F.col("ts") - F.col("b_ts")) <= (F.col("f_ts") - F.col("ts")))
    )
    got = {
        row["lid"]: row["nearest"]
        for row in both.select(
            "lid", F.when(use_b, F.col("b_ts")).otherwise(F.col("f_ts")).alias("nearest")
        ).collect()
    }

    for i, (k, ts) in enumerate(lefts):
        cands = [rt for (rk, rt) in rights if rk == k]
        if not cands:
            assert got[i] is None, (i, got[i])
        else:
            # min |Δ|, tie → earlier right ts
            want = min(cands, key=lambda rt: (abs(rt - ts), rt))
            assert got[i] == want, (i, k, ts, got[i], want)


def test_leakage_audit_flags_planted_cross_split_dup(spark):
    """A near-duplicate pair planted across the train/test split boundary
    must surface as an is_leak group; the same text duplicated within one
    split must not. Uses the same operators the registry query composes
    (hash split + df-capped jaccard pairs) with ids chosen by their real
    hash buckets, so the plant is deterministic."""
    import hashlib as _h

    from pyspark_ingestion_spark.operators.dedup import jaccard_similar_pairs
    from pyspark_ingestion_spark.operators.sampling import train_val_test_split

    def bucket(i):
        return int(_h.md5(str(i).encode()).hexdigest()[:7], 16) % 100

    train_ids = [i for i in range(1000) if bucket(i) < 80]
    test_ids = [i for i in range(1000) if bucket(i) >= 90]
    dup = "the exact same training document text repeated verbatim here"
    uniq = [
        "alpha beta gamma delta epsilon zeta",
        "one two three four five six seven",
    ]
    docs = [
        (train_ids[0], dup),          # cross-split near-dup pair
        (test_ids[0], dup),
        (train_ids[1], uniq[0] + " " + dup),  # also similar -> same cluster
        (train_ids[2], uniq[1]),      # unique doc, no pair
    ]
    d = spark.createDataFrame(docs, "doc_id long, text string")
    splits = train_val_test_split(d, "doc_id", train=80, val=10).select(
        "doc_id", "split"
    )
    pairs = jaccard_similar_pairs(
        d, "doc_id", "text", n=3, threshold_num=1, threshold_den=2,
        max_doc_freq=25,
    ).select("doc_a", "doc_b")
    a = splits.join(F.broadcast(pairs), splits.doc_id == pairs.doc_a).select(
        "doc_b", F.col("split").alias("split_a")
    )
    ab = splits.join(F.broadcast(a), splits.doc_id == a.doc_b).select(
        F.least("split_a", F.col("split")).alias("split_lo"),
        F.greatest("split_a", F.col("split")).alias("split_hi"),
    )
    groups = {
        (r["split_lo"], r["split_hi"]): r["n"]
        for r in ab.groupBy("split_lo", "split_hi").agg(
            F.count(F.lit(1)).alias("n")
        ).collect()
    }
    assert groups.get(("test", "train"), 0) >= 2  # dup x 2 train members
    assert ("train", "train") in groups            # in-split pair exists too


def test_knn_vote_stable_under_repartition(spark):
    """The kNN vote is fully deterministic: repartitioning the corpus
    (different partition order, different aggregation order) must not
    change a single prediction — rank ties break on neighbor id, vote
    ties on the lowest label."""
    import random

    rnd = random.Random(7)
    rows = [
        (i, [rnd.uniform(-1, 1) for _ in range(8)], rnd.randrange(3))
        for i in range(60)
    ]
    from pyspark_ingestion_spark.functions.vectors import cosine_similarity
    from pyspark_ingestion_spark.operators.relational import topk_per_group

    def predict(e):
        q = e.filter(F.col("vec_id") % 10 == 0).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("__qvec"),
        )
        scored = e.join(F.broadcast(q), F.col("vec_id") != F.col("query_id")).select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.col("label").alias("neighbor_label"),
            F.round(cosine_similarity("embedding", "__qvec"), 6).alias("sim"),
        )
        top = topk_per_group(scored, ["query_id"],
                             [F.desc("sim"), F.asc("neighbor_id")], k=5)
        votes = top.groupBy("query_id", "neighbor_label").agg(
            F.count(F.lit(1)).alias("n_votes"))
        best = topk_per_group(votes, ["query_id"],
                              [F.desc("n_votes"), F.asc("neighbor_label")], k=1)
        return {r["query_id"]: r["neighbor_label"] for r in best.collect()}

    e1 = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label int")
    e2 = e1.repartition(13, "label")
    assert predict(e1) == predict(e2)


@given(st.lists(st.sampled_from(
    ["table", "row", "spark", "scan", "merge", ""]), min_size=0, max_size=12),
    st.integers(2, 6))
@settings(max_examples=10, deadline=None)
def test_bm25_matches_python_model(spark, words_for_doc0, n_docs):
    """BM25 scoring vs an independent Python model over generated
    mini-corpora — pins the idf form, the tf saturation, the dl/avgdl
    normalization, and the matching-docs-only output filter on inputs
    the fixtures don't cover (term-free docs, single-doc corpora,
    all-query-term docs)."""
    import math

    from pyspark_ingestion_spark.queries.llm_ops import bm25_scores

    k1, b, terms = 1.2, 0.75, ["table", "row", "spark"]
    base = ["alpha beta gamma table row", "spark spark table delta",
            "epsilon zeta eta theta", "row row row spark table scan"]
    texts = [" ".join(w for w in words_for_doc0 if w)] + base[: n_docs - 1]
    docs = [(i, t) for i, t in enumerate(texts)]

    # python model over the SAME tokenizer convention (split on ws, drop empties)
    toks = {i: [w for w in t.split() if w] for i, t in docs}
    toks = {i: ws for i, ws in toks.items() if ws}       # docs with no tokens drop out
    n = len(toks)
    if n == 0:
        return
    avgdl = sum(len(ws) for ws in toks.values()) / n
    df = {t: sum(1 for ws in toks.values() if t in ws) for t in terms}
    want = {}
    for i, ws in toks.items():
        dl = len(ws)
        score = 0.0
        for t in terms:
            tf = ws.count(t)
            idf = math.log((n - df[t] + 0.5) / (df[t] + 0.5) + 1.0)
            score = score + idf * (tf * (k1 + 1)) / (tf + k1 * (1 - b + b * dl / avgdl))
        if any(t in ws for t in terms):
            want[i] = round(score, 4)

    import os
    import tempfile

    import pyarrow as pa
    import pyarrow.parquet as pq

    with tempfile.TemporaryDirectory() as td:
        # single parquet FILE, like the driver's testdata layout
        # (load_table reads the footer with pyarrow)
        pq.write_table(
            pa.table({"doc_id": pa.array([i for i, _ in docs], pa.int64()),
                      "text": [t for _, t in docs]}),
            os.path.join(td, "documents.parquet"),
        )
        got = {r["doc_id"]: r["bm25"]
               for r in bm25_scores(spark, td).collect()}
    assert set(got) == set(want), (sorted(got), sorted(want))
    for i in want:
        assert abs(got[i] - want[i]) <= 1e-4, (i, got[i], want[i])


@given(st.lists(st.tuples(st.integers(0, 40), st.integers(0, 10**6)),
                min_size=1, max_size=200),
       st.integers(2, 7), st.integers(2, 6))
@settings(max_examples=10, deadline=None)
def test_global_ntile_matches_spark_ntile(spark, rows, n, shards):
    """global_ntile (range-shard + prefix offsets) is bit-identical to
    F.ntile over an unpartitioned window, for any key distribution,
    bucket count, and shard count — including total < n and heavy ties
    broken by the unique id."""
    from pyspark.sql import Window

    from pyspark_ingestion_spark.operators.relational import global_ntile

    df = spark.createDataFrame(
        [(v, i) for i, (v, _) in enumerate(rows)], "v int, id int"
    )
    want = {
        r["id"]: r["t"]
        for r in df.select(
            "id", F.ntile(n).over(Window.orderBy("v", "id")).alias("t")
        ).collect()
    }
    got = {
        r["id"]: r["tile"]
        for r in global_ntile(df, ["v", "id"], n, shards=shards).collect()
    }
    assert got == want


def _persistent_rdd_ids(spark) -> set:
    m = spark.sparkContext._jsc.getPersistentRDDs()
    return {k for k in m.keySet().toArray()}


def test_shingle_caches_are_released(spark, sf_dir):
    """The dedup shingle cache is tracked and release_shingle_caches()
    removes it: after the consuming action + release, the JVM's
    persistent-RDD registry returns to its pre-operator state (VERDICT
    r4 item 3 — no session-lived corpus-sized caches).

    Parquet-backed input: the size gate needs a real Catalyst estimate
    (LocalRelation plans report unknown → the gate skips the cache)."""
    from pyspark_ingestion_spark.operators import dedup

    df = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(20)

    dedup.release_shingle_caches()  # clean slate from any earlier test
    before = _persistent_rdd_ids(spark)

    dedup.minhash_lsh_dedup_pairs(df, "doc_id", "text", n=2).collect()
    assert len(dedup._LIVE_SHINGLE_CACHES) == 1  # gate persisted (tiny input)
    created = _persistent_rdd_ids(spark) - before
    assert created  # the cache is real, so the release assertion below
    # is sensitive, not vacuously true

    released = dedup.release_shingle_caches(blocking=True)
    assert released == 1
    # id-set compare, not counts: other tests' async unpersists can
    # retire OLD ids concurrently — only "none of OUR new ids remain"
    # is the invariant this test owns
    assert not (_persistent_rdd_ids(spark) & created)


def test_shingle_persist_size_gate_skips_large_inputs(spark, sf_dir):
    """With the size-gate threshold forced to 1 byte, the operators run
    cache-free (same results, nothing tracked, nothing persisted) — the
    100 TB path where a corpus-sized cache would be a spill risk.
    Parquet-backed so the gate sees a real (non-unknown) estimate and the
    conf genuinely flips the persist decision."""
    from pyspark_ingestion_spark.operators import dedup

    df = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(20)

    dedup.release_shingle_caches()
    baseline = sorted(
        map(tuple, dedup.minhash_lsh_dedup_pairs(df, "doc_id", "text", n=2).collect())
    )
    dedup.release_shingle_caches()
    before = _persistent_rdd_ids(spark)

    spark.conf.set(dedup.SHINGLE_PERSIST_CONF, "1")
    try:
        got = sorted(
            map(tuple, dedup.minhash_lsh_dedup_pairs(df, "doc_id", "text", n=2).collect())
        )
        assert got == baseline
        assert dedup._LIVE_SHINGLE_CACHES == []
        assert not (_persistent_rdd_ids(spark) - before)  # nothing new persisted
    finally:
        spark.conf.unset(dedup.SHINGLE_PERSIST_CONF)


def test_substring_spans_planted_and_disjoint(spark):
    """Exact-substring dedup: docs over pairwise-disjoint alphabets share
    no windows, so no pairs; after planting one 60-char substring into
    two of them (at different offsets), exactly that pair appears, with
    exactly the planted span (maximal run assembly recovers the full
    60 chars, not just k-sized fragments)."""
    import random

    from pyspark_ingestion_spark.operators.dedup import (
        repeated_substring_pairs,
        repeated_substring_spans,
    )

    rng = random.Random(7)
    alphabets = ["ab", "cd", "ef", "gh"]
    texts = ["".join(rng.choice(a) for _ in range(200)) for a in alphabets]
    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id int, text string"
    )
    assert repeated_substring_spans(df, "doc_id", "text", k=20,
                                    max_window_df=None).count() == 0

    plant = "".join(rng.choice("z9") for _ in range(60))
    texts[1] = texts[1][:50] + plant + texts[1][50:]
    texts[3] = texts[3][:120] + plant + texts[3][120:]
    df2 = spark.createDataFrame(
        list(enumerate(texts)), "doc_id int, text string"
    )
    spans = repeated_substring_spans(df2, "doc_id", "text", k=20,
                                     max_window_df=None).collect()
    assert len(spans) == 1, spans
    s = spans[0]
    assert (s["doc_a"], s["doc_b"]) == (1, 3)
    assert (s["pos_a"], s["pos_b"], s["length"]) == (51, 121, 60), tuple(s)

    pairs = repeated_substring_pairs(df2, "doc_id", "text", k=20,
                                     max_window_df=None).collect()
    assert len(pairs) == 1
    assert (pairs[0]["doc_a"], pairs[0]["doc_b"], pairs[0]["n_spans"],
            pairs[0]["max_len"]) == (1, 3, 1, 60)


def test_substring_sampling_still_catches_long_plants(spark):
    """Content-defined mod-sampling: with sample_mod=4 the window table
    shrinks, yet a 200-char planted substring is still detected (same
    pair, span inside the plant) — the alignment-free property a fixed
    stride would not have."""
    import random

    from pyspark_ingestion_spark.operators.dedup import (
        repeated_substring_spans,
        substring_window_table,
    )

    rng = random.Random(11)
    plant = "".join(rng.choice("z9x8") for _ in range(200))
    texts = [
        "".join(rng.choice("ab") for _ in range(100)) + plant
        + "".join(rng.choice("ab") for _ in range(100)),
        "".join(rng.choice("cd") for _ in range(37)) + plant
        + "".join(rng.choice("cd") for _ in range(150)),
    ]
    df = spark.createDataFrame(list(enumerate(texts)), "doc_id int, text string")
    dense = substring_window_table(df, "doc_id", "text", k=20).count()
    sampled = substring_window_table(df, "doc_id", "text", k=20, sample_mod=4).count()
    assert sampled < dense / 2  # real sparsification (E[sampled] = dense/4)
    spans = repeated_substring_spans(
        df, "doc_id", "text", k=20, max_window_df=None, sample_mod=4
    ).collect()
    assert spans, "sampling lost a 200-char planted substring"
    assert all((r["doc_a"], r["doc_b"]) == (0, 1) for r in spans)
    # every reported span lies inside the planted region of both docs
    for r in spans:
        assert 101 <= r["pos_a"] and r["pos_a"] + r["length"] - 1 <= 300, tuple(r)
        assert 38 <= r["pos_b"] and r["pos_b"] + r["length"] - 1 <= 237, tuple(r)


def test_incremental_substring_boundary_and_unrelated(spark):
    """incremental_substring_rejects: a batch doc sharing EXACTLY
    min_len chars with the corpus is rejected; sharing min_len−1 is
    admitted; disjoint-alphabet docs are always admitted. Pins the
    min_len = run_len + k − 1 boundary arithmetic."""
    import random

    from pyspark_ingestion_spark.operators.dedup import incremental_substring_rejects

    rng = random.Random(3)
    k, min_len = 20, 30
    shared = "".join(rng.choice("z9x8") for _ in range(min_len))  # 30 chars
    corpus_text = (
        "".join(rng.choice("ab") for _ in range(80))
        + shared
        + "".join(rng.choice("ab") for _ in range(80))
    )
    corpus = spark.createDataFrame([(0, corpus_text)], "doc_id int, text string")
    batch = spark.createDataFrame(
        [
            # exactly min_len shared chars, different surroundings -> reject
            (10, "".join(rng.choice("cd") for _ in range(40)) + shared
                 + "".join(rng.choice("cd") for _ in range(40))),
            # only min_len-1 shared chars -> admit
            (11, "".join(rng.choice("ef") for _ in range(40)) + shared[:-1]
                 + "".join(rng.choice("ef") for _ in range(40))),
            # disjoint alphabet -> admit
            (12, "".join(rng.choice("gh") for _ in range(120))),
        ],
        "doc_id int, text string",
    )
    rejected = {
        r["doc_id"]
        for r in incremental_substring_rejects(
            corpus, batch, "doc_id", "text", k=k, min_len=min_len
        ).collect()
    }
    assert rejected == {10}, rejected
    # min_len == k degenerates to single-window membership (no run window)
    rejected_k = {
        r["doc_id"]
        for r in incremental_substring_rejects(
            corpus, batch, "doc_id", "text", k=k, min_len=k
        ).collect()
    }
    assert rejected_k == {10, 11}, rejected_k  # 29 shared chars ≥ one k-window


def test_remove_duplicate_spans_models_python(spark):
    """remove_duplicate_spans ≡ a direct Python set-of-covered-positions
    model, for random overlapping/adjacent/contained span layouts —
    pinning the cursor-fold's overlap merging beyond the oracle corpus."""
    import random

    from pyspark_ingestion_spark.operators.dedup import remove_duplicate_spans

    rng = random.Random(23)
    texts = {i: "".join(rng.choice("abcdefgh") for _ in range(60)) for i in range(6)}
    span_rows = []
    for doc in range(1, 6):  # doc 0 gets no spans (pass-through)
        for _ in range(rng.randrange(0, 5)):
            p = rng.randrange(1, 58)
            ln = rng.randrange(1, 61 - p)
            span_rows.append((0, doc, p, ln))
    df = spark.createDataFrame(list(texts.items()), "doc_id int, text string")
    spans = spark.createDataFrame(span_rows, "doc_a int, doc_b int, pos_b int, length int")

    got = {
        r["doc_id"]: (r["text_clean"], r["chars_removed"])
        for r in remove_duplicate_spans(df, spans, "doc_id", "text").collect()
    }
    for doc, text in texts.items():
        covered = set()
        for _, d, p, ln in span_rows:
            if d == doc:
                covered.update(range(p, p + ln))  # 1-based positions
        want = "".join(ch for i, ch in enumerate(text, start=1) if i not in covered)
        assert got[doc] == (want, len(text) - len(want)), (doc, got[doc], want)


def test_shingle_cache_count_is_bounded(spark, sf_dir):
    """Long sessions (the driver runs 50+ queries in one) keep at most
    maxLiveShingleCaches shingle caches live: the oldest is unpersisted
    as new ones are tracked — results unaffected (early unpersist just
    recomputes)."""
    from pyspark_ingestion_spark.operators import dedup

    df = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(10)
    dedup.release_shingle_caches()
    spark.conf.set(dedup.SHINGLE_CACHE_COUNT_CONF, "2")
    try:
        for _ in range(4):
            dedup.minhash_lsh_dedup_pairs(df, "doc_id", "text", n=2).collect()
        assert len(dedup._LIVE_SHINGLE_CACHES) == 2
    finally:
        spark.conf.unset(dedup.SHINGLE_CACHE_COUNT_CONF)
        dedup.release_shingle_caches()


def test_substring_guard_rails(spark):
    """Misconfigurations that would produce silently-wrong results fail
    fast: k < 1 (degenerate identical windows → quadratic join),
    sampling combined with min_len > k (run assembly needs consecutive
    positions — spans would silently collapse / admission would reject
    nothing)."""
    import pytest

    from pyspark_ingestion_spark.operators.dedup import (
        incremental_substring_rejects,
        repeated_substring_spans,
        substring_window_table,
    )

    df = spark.createDataFrame([(1, "abcdef" * 10)], "doc_id int, text string")
    with pytest.raises(ValueError, match="k must be"):
        substring_window_table(df, "doc_id", "text", k=0)
    with pytest.raises(ValueError, match="sample_mod"):
        repeated_substring_spans(df, "doc_id", "text", k=20, sample_mod=4, min_len=30)
    with pytest.raises(ValueError, match="sample_mod"):
        incremental_substring_rejects(df, df, "doc_id", "text", k=20,
                                      min_len=30, sample_mod=4)


def test_scoped_release_keeps_prior_caches(spark, sf_dir):
    """release_shingle_caches(keep=snapshot) releases only caches created
    after the snapshot — the streaming sink must not sweep a concurrent
    foreground job's cache."""
    from pyspark_ingestion_spark.operators import dedup

    df = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(10)
    dedup.release_shingle_caches()
    dedup.minhash_lsh_dedup_pairs(df, "doc_id", "text", n=2).collect()
    assert len(dedup._LIVE_SHINGLE_CACHES) == 1
    foreground = dedup._LIVE_SHINGLE_CACHES[0]
    snap = dedup.snapshot_shingle_caches()
    dedup.minhash_lsh_dedup_pairs(df, "doc_id", "text", n=3).collect()
    assert len(dedup._LIVE_SHINGLE_CACHES) == 2
    released = dedup.release_shingle_caches(keep=snap)
    assert released == 1
    assert dedup._LIVE_SHINGLE_CACHES == [foreground]
    assert foreground.storageLevel.useMemory  # still persisted
    dedup.release_shingle_caches()


def test_cache_count_zero_disables_caching(spark, sf_dir):
    """maxLiveShingleCaches=0 means keep NO caches (consistent with the
    byte gate's '0 disables'), never 'unbounded'."""
    from pyspark_ingestion_spark.operators import dedup

    df = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(10)
    dedup.release_shingle_caches()
    spark.conf.set(dedup.SHINGLE_CACHE_COUNT_CONF, "0")
    try:
        dedup.minhash_lsh_dedup_pairs(df, "doc_id", "text", n=2).collect()
        assert dedup._LIVE_SHINGLE_CACHES == []
    finally:
        spark.conf.unset(dedup.SHINGLE_CACHE_COUNT_CONF)


def test_asof_join_null_timestamps_never_match(spark):
    """NULL timestamps match nothing in either direction: a NULL-ts left
    row gets NULL asof fields (forward used to hand it the earliest
    right row via NULLS LAST), and a NULL-ts right row's payload never
    bleeds into real rows (backward used to treat it as 'earliest')."""
    from pyspark_ingestion_spark.operators.relational import asof_join

    left = spark.createDataFrame(
        [(1, None), (1, 5)], "k int, lts int"
    )
    right = spark.createDataFrame(
        [(1, 3, "early"), (1, 10, "late"), (1, None, "ghost")],
        "k int, rts int, v string",
    )
    for direction, want_for_5 in (("backward", "early"), ("forward", "late")):
        rows = {
            r["lts"]: r["asof_v"]
            for r in asof_join(
                left, right, by=["k"], left_ts="lts", right_ts="rts",
                direction=direction,
            ).collect()
        }
        assert rows[None] is None, (direction, rows)
        assert rows[5] == want_for_5, (direction, rows)


def test_sampling_guards(spark):
    """Silent-empty-output configs fail fast: a positive weight below
    the bucket resolution, and train+val exceeding the bucket count."""
    import pytest

    from pyspark_ingestion_spark.operators.sampling import (
        train_val_test_split,
        weighted_domain_mix,
    )

    df = spark.createDataFrame([(1, "wiki")], "id int, source string")
    with pytest.raises(ValueError, match="bucket resolution"):
        weighted_domain_mix(df, "id", "source", {"wiki": 0.0004}, buckets=1000)
    with pytest.raises(ValueError, match="buckets"):
        train_val_test_split(df, "id", train=80, val=30, buckets=100)


def test_quality_checks_unique_ignores_nulls(spark):
    """SQL UNIQUE semantics: multiple NULL keys are not duplicates (the
    not-null check owns nullability); real duplicates still count."""
    from pyspark_ingestion_spark.operators.profiling import quality_checks

    df = spark.createDataFrame(
        [(None,), (None,), (7,), (7,), (8,)], "email int"
    )
    row = quality_checks(df, unique_cols=["email"]).first()
    assert row["dup_email"] == 1  # the extra 7; NULLs don't count


def test_lang_id_case_insensitive(spark):
    """Sentence-initial capitals count as marker hits (both engines
    lowercase): title-case English is still English."""
    from pyspark_ingestion_spark.functions.text import lang_id

    df = spark.createDataFrame(
        [(1, "The Sun Also Rises And The Old Man And The Sea"),
         (2, "the sun also rises and the old man and the sea")],
        "id int, t string",
    )
    got = {r["id"]: r["l"] for r in df.select("id", lang_id("t").alias("l")).collect()}
    assert got[1] == got[2] == "en", got


def test_release_shingle_caches_concurrent_releases_do_not_race():
    """Two threads releasing concurrently must never raise (the old bare
    check-then-pop could IndexError out of the streaming sink — ADVICE
    r5) and must release each cache exactly once."""
    import threading

    from pyspark_ingestion_spark.operators import dedup

    class FakeDF:
        def __init__(self):
            self.releases = 0

        def unpersist(self, blocking=False):
            self.releases += 1

    fakes = [FakeDF() for _ in range(2000)]
    with dedup._SHINGLE_CACHE_LOCK:
        dedup._LIVE_SHINGLE_CACHES.clear()
        dedup._LIVE_SHINGLE_CACHES.extend(fakes)

    errors = []
    released = []

    def worker():
        try:
            released.append(dedup.release_shingle_caches())
        except Exception as e:  # pragma: no cover - the regression itself
            errors.append(e)

    threads = [threading.Thread(target=worker) for _ in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors, errors
    assert sum(released) == len(fakes)
    assert all(f.releases == 1 for f in fakes)
    assert dedup._LIVE_SHINGLE_CACHES == []


def test_boilerplate_template_corpus_pair_space_stays_capped(spark):
    """Adversarial corpus: ONE 40-word template shared by 30% of docs
    (each copy differing in two words). Without the df cap the template
    shingles dominate every copy's MinHash signature, so the candidate
    pair space goes quadratic in the template count — C(300,2) ≈ 45k
    pairs from 300 docs. With the corpus-measured df cap the template
    shingles are dropped from both sides BEFORE signatures, leaving each
    copy only its distinctive shingles: the pair space collapses to the
    linear regime. VERDICT r5 item 6 — the cap's purpose, measured, not
    asserted from theory."""
    import random

    from pyspark_ingestion_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
        release_shingle_caches,
    )

    rnd = random.Random(7)
    vocab = [f"w{i}" for i in range(5000)]
    template = [f"t{j}" for j in range(40)]
    rows = []
    for i in range(1000):
        if i < 300:  # template copies with two doc-specific words
            ws = list(template)
            ws[(i * 7) % 40] = f"u{i}a"
            ws[(i * 11 + 3) % 40] = f"u{i}b"
            rows.append((i, " ".join(ws)))
        else:
            rows.append((i, " ".join(rnd.choices(vocab, k=40))))
    df = spark.createDataFrame(rows, "doc_id long, text string")

    uncapped = lsh_candidate_pairs(
        minhash_signatures(df, "doc_id", "text", max_doc_freq=None)
    ).count()
    capped = lsh_candidate_pairs(
        minhash_signatures(df, "doc_id", "text", max_doc_freq=25)
    ).count()
    release_shingle_caches()
    # most (not all) template pairs collide: a copy's two swapped words
    # can hijack the signature minimum in every band for some pairs
    assert uncapped >= 300 * 299 / 4, uncapped  # quadratic in template count
    assert capped <= 5 * 1000, capped           # linear regime
    assert capped < uncapped / 8, (capped, uncapped)


def test_entity_resolution_transitive_closure(spark, sf_dir):
    """bolt~rod and ring~rod sit at edit distance 3, but bolt~ring is 4:
    only the transitive closure merges all three — the reason entity
    resolution needs components, not pairs. Singletons must survive as
    their own entities, and the rollup must re-partition the part table
    exactly (no member lost or double-counted)."""
    from pyspark_ingestion_spark.queries import all_queries
    from pyspark_ingestion_spark.sources.readers import load_table

    df = all_queries()["entity_canonical_keep_one"].fn(spark, sf_dir)
    rows = {r["entity"]: r for r in df.collect()}
    merged = [r for r in rows.values() if r["n_names"] > 1]
    assert merged and all(r["n_names"] == 3 for r in merged), merged
    assert sum(r["n_parts"] for r in rows.values()) == load_table(
        spark, sf_dir, "part"
    ).count()
    assert any(r["n_names"] == 1 for r in rows.values())


def test_pagerank_conserves_mass(spark, sf_dir):
    """Symmetrized co-purchase edges leave no dangling nodes, so damped
    power iteration conserves total rank mass exactly (up to the final
    6-dp rounding, ≤ 5e-7 per node); every node keeps at least the
    teleport floor 0.15/N."""
    from pyspark_ingestion_spark.queries import all_queries

    rows = all_queries()["pagerank_copurchase"].fn(spark, sf_dir).collect()
    n = len(rows)
    mass = sum(r["pagerank"] for r in rows)
    assert abs(mass - 1.0) <= 5e-7 * n + 1e-9, mass
    assert all(r["pagerank"] >= 0.15 / n - 5e-7 for r in rows)


def test_zorder_prunes_where_linear_cannot(spark, sf_dir):
    """The pruning arithmetic's invariants: both layouts hold the same
    rows (rows_in_box is layout-invariant), every scanned superset
    covers the box rows, and the z-order layout needs strictly fewer
    files for the 2-D box than insertion order (whose every file spans
    the whole part range)."""
    from pyspark_ingestion_spark.queries import all_queries

    rows = {
        r["layout"]: r
        for r in all_queries()["zorder_layout_pruning"].fn(spark, sf_dir).collect()
    }
    z, lin = rows["zorder"], rows["linear"]
    assert z["files_total"] == lin["files_total"] == 32
    assert z["rows_in_box"] == lin["rows_in_box"]
    assert z["rows_scanned"] >= z["rows_in_box"]
    assert lin["rows_scanned"] >= lin["rows_in_box"]
    assert z["files_scanned"] < lin["files_scanned"], (z, lin)


def test_triangle_count_invariants(spark, sf_dir):
    """Per-node triangle participation is bounded by the wedge count
    C(deg, 2); clustering = 2·tri/(deg·(deg−1)) must land in (0, 1];
    and the degree-oriented enumeration must agree with a brute-force
    Python recount on the same edge set (orientation changes COST, not
    the triangle set)."""
    from itertools import combinations

    from pyspark_ingestion_spark.queries import all_queries
    from pyspark_ingestion_spark.sources.readers import load_table

    rows = all_queries()["triangle_count_copurchase"].fn(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0 < r["triangles"] <= r["degree"] * (r["degree"] - 1) // 2, r
        assert 0 < r["clustering"] <= 1.0, r

    li = load_table(spark, sf_dir, "lineitem")
    orders = {}
    for ok, pk in li.select("l_orderkey", "l_partkey").distinct().collect():
        orders.setdefault(ok, set()).add(pk)
    adj = {}
    for parts in orders.values():
        for u, v in combinations(sorted(parts), 2):
            adj.setdefault(u, set()).add(v)
            adj.setdefault(v, set()).add(u)
    # triangles containing n = adjacent pairs of n's neighbours
    expected = {
        n: sum(1 for a, b in combinations(sorted(adj[n]), 2) if b in adj[a])
        for n in adj
    }
    got = {r["node"]: r["triangles"] for r in rows}
    for node, tri in got.items():
        assert expected[node] == tri, (node, tri, expected[node])


def test_k_anonymity_generalization_monotone(spark, sf_dir):
    """Coarsening the quasi-identifier can only merge groups: along the
    ladder L0→L3 the worst-case k must be non-decreasing, the rows
    below the k=5 policy line non-increasing, and the k≥5 coverage
    non-decreasing; group counts shrink. The total row count seen at
    every level equals the table (no row lost to the stack fan-out)."""
    from pyspark_ingestion_spark.queries import all_queries
    from pyspark_ingestion_spark.sources.readers import load_table

    rows = {r["level"]: r
            for r in all_queries()["k_anonymity_report"].fn(spark, sf_dir).collect()}
    ladder = ["L0_bal10", "L1_bal1000", "L2_nation_seg", "L3_nation"]
    assert set(rows) == set(ladder)
    total = load_table(spark, sf_dir, "customer").count()
    for lvl in ladder:
        r = rows[lvl]
        assert r["rows_k_lt_5"] + round(r["pct_rows_k_ge_5"] * total) == total, r
    for fine, coarse in zip(ladder, ladder[1:]):
        f, c = rows[fine], rows[coarse]
        assert c["min_k"] >= f["min_k"], (f, c)
        assert c["rows_k_lt_5"] <= f["rows_k_lt_5"], (f, c)
        assert c["pct_rows_k_ge_5"] >= f["pct_rows_k_ge_5"], (f, c)
        assert c["n_groups"] <= f["n_groups"], (f, c)


def test_attribution_conserves_purchase_value(spark, sf_dir):
    """Per-purchase normalization means attribution redistributes value,
    never creates or destroys it: the credited totals across all touch
    types (+ direct) must sum to the total purchase value, and every
    credited bucket is positive."""
    from pyspark.sql import functions as F

    from pyspark_ingestion_spark.queries import all_queries
    from pyspark_ingestion_spark.sources.readers import load_table

    rows = all_queries()["attribution_time_decay"].fn(spark, sf_dir).collect()
    assert rows and all(r["credited_value"] > 0 for r in rows)
    credited = sum(r["credited_value"] for r in rows)
    total = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .agg(F.sum("value"))
        .first()[0]
    )
    # each bucket is rounded to 2 dp → error ≤ 0.005 per bucket
    assert abs(credited - total) <= 0.005 * len(rows) + 1e-9, (credited, total)


def test_cms_overestimate_is_one_sided(spark, sf_dir):
    """Count-min can only overestimate: every reported estimate ≥ the
    exact count, and the top-15 selection is by estimated count."""
    from pyspark_ingestion_spark.queries import all_queries

    rows = all_queries()["approx_topk_heavy_hitters"].fn(spark, sf_dir).collect()
    assert len(rows) == 15
    assert all(r["overestimate"] >= 0 for r in rows)
    ests = [r["est_count"] for r in rows]
    assert ests == sorted(ests, reverse=True)


def test_score_fixture_blank_text_cross_engine(spark):
    """Blank / whitespace-only documents score at the intercept on BOTH
    engines: Spark's words('') is an empty array (z = b), and the
    DuckDB oracle's token CTE guards `trim(text) <> ''` so the blank
    doc falls to the LEFT-JOIN/coalesce path instead of hashing the ''
    token DuckDB's split would otherwise emit (a divergence the shipped
    fixtures never exercise — this pins it on adversarial input)."""
    import duckdb
    import pandas as pd

    from pyspark_ingestion_spark.queries import all_queries
    from pyspark_ingestion_spark.operators.quality_model import (
        TextClassifier,
        md5_token_indices,
    )

    docs = pd.DataFrame(
        {"doc_id": [1, 2, 3], "text": ["hello world", "", "   "]}
    )
    oracle = all_queries()["quality_model_score_fixture"].oracle
    con = duckdb.connect()
    con.register("documents", docs)
    duck = {r[0]: r[1] for r in con.execute(oracle).fetchall()}

    n_features = 64
    weights = [((i * 13) % 21 - 10) / 16.0 for i in range(n_features)]
    model = TextClassifier(weights=weights, intercept=0.25, n_features=n_features)
    sdf = spark.createDataFrame(docs)
    from pyspark_ingestion_spark.operators.quality_model import score_corpus

    got = {
        r["doc_id"]: r["model_score"]
        for r in score_corpus(
            model, sdf, token_indices=md5_token_indices
        ).collect()
    }
    assert got == duck, (got, duck)
    import math

    intercept_score = round(1 / (1 + math.exp(-0.25)), 4)
    assert got[2] == got[3] == intercept_score


def test_weighted_priority_sampling_favors_heavy_docs(spark, sf_dir):
    """The A-ES draw's inclusion bias is real and directional: the mean
    weight of the selected docs exceeds the corpus mean, selection keys
    are a valid top-k (every excluded doc's key ≤ the selection
    boundary), and the plan stays scan-side (zero exchanges — top-k is
    TakeOrdered, not a global sort)."""
    from pyspark.sql import functions as F

    from pyspark_ingestion_spark.plans.explain import shuffle_count
    from pyspark_ingestion_spark.queries import all_queries
    from pyspark_ingestion_spark.sources.readers import load_table

    df = all_queries()["sample_weighted_priority"].fn(spark, sf_dir)
    assert shuffle_count(df) == 0
    rows = df.collect()
    assert len(rows) == 100
    sel_mean = sum(r["weight"] for r in rows) / len(rows)
    corpus = (
        load_table(spark, sf_dir, "documents")
        .filter(F.trim("text") != "")
        .agg(F.avg(F.octet_length("text")))
        .first()[0]
    )
    assert sel_mean > corpus, (sel_mean, corpus)
    # top-k validity against the FULL corpus: no excluded doc's key may
    # exceed the selection boundary (comparing selected rows against
    # their own min would be tautologically true)
    # selection maximizes (key, -doc_id): key desc, doc_id asc tie-break
    boundary = min((r["sample_key"], -r["doc_id"]) for r in rows)
    selected_ids = {r["doc_id"] for r in rows}
    all_keys = (
        load_table(spark, sf_dir, "documents")
        .filter(F.trim("text") != "")
        .select(
            "doc_id",
            F.round(
                F.log(
                    F.greatest(
                        F.conv(
                            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15),
                            16, 10,
                        ).cast("double") / F.lit(float(1 << 60)),
                        F.lit(1e-18),
                    )
                )
                / F.octet_length("text").cast("long"),
                9,
            ).alias("key"),
        )
        .collect()
    )
    excluded = [(r["key"], -r["doc_id"]) for r in all_keys
                if r["doc_id"] not in selected_ids]
    assert max(excluded) < boundary, (max(excluded), boundary)


def test_snapshot_diff_roundtrip_reconstructs_new(spark, sf_dir):
    """The diff is a complete, minimal change feed: (old − removed −
    changed keys) ∪ (new rows for added/changed keys) reconstructs the
    new snapshot exactly, and every emitted changed_cols list is
    non-empty exactly for 'changed' rows."""
    from pyspark.sql import functions as F

    from pyspark_ingestion_spark.queries import all_queries
    from pyspark_ingestion_spark.sources.readers import load_table

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    old = o.filter(F.col("o_orderkey") % 97 != 0)
    new = o.filter(F.col("o_orderkey") % 89 != 0).select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 11 == 0, F.col("o_totalprice") + 100)
        .otherwise(F.col("o_totalprice")).alias("o_totalprice"),
        F.when(F.col("o_orderkey") % 13 == 0, F.lit("X"))
        .otherwise(F.col("o_orderstatus")).alias("o_orderstatus"),
    )
    diff = all_queries()["snapshot_table_diff"].fn(spark, sf_dir)
    rows = diff.collect()
    assert rows
    types = {r["change_type"] for r in rows}
    assert types == {"added", "removed", "changed"}
    for r in rows:
        assert (len(r["changed_cols"]) > 0) == (r["change_type"] == "changed"), r

    drop_keys = diff.filter(F.col("change_type").isin("removed", "changed")).select(
        "o_orderkey"
    )
    take_keys = diff.filter(F.col("change_type").isin("added", "changed")).select(
        "o_orderkey"
    )
    rebuilt = old.join(drop_keys, "o_orderkey", "left_anti").unionByName(
        new.join(take_keys, "o_orderkey", "left_semi")
    )
    assert rebuilt.exceptAll(new).isEmpty() and new.exceptAll(rebuilt).isEmpty()


def test_calibration_report_invariants(spark, sf_dir):
    """Deciles partition the corpus exactly (Σn = docs), mean predicted
    score is non-decreasing across deciles by construction (they are
    cut on the score), rates stay in [0,1], and the n-weighted positive
    rate equals the corpus base rate (no doc lost or double-counted by
    the sharded ntile)."""
    from pyspark_ingestion_spark.queries import all_queries
    from pyspark_ingestion_spark.sources.readers import load_table

    rows = sorted(
        all_queries()["quality_model_calibration"].fn(spark, sf_dir).collect(),
        key=lambda r: r["decile"],
    )
    assert [r["decile"] for r in rows] == list(range(1, 11))
    total = load_table(spark, sf_dir, "documents").count()
    assert sum(r["n"] for r in rows) == total
    scores = [r["mean_score"] for r in rows]
    assert scores == sorted(scores)
    assert all(0.0 <= r["pos_rate"] <= 1.0 for r in rows)
    weighted = sum(r["pos_rate"] * r["n"] for r in rows) / total
    # hi_q is 'strictly above the median' -> base rate just under 0.5
    assert 0.3 <= weighted <= 0.5, weighted


def _bpe_merge_py(tokens: list[str], x: str, y: str) -> list[str]:
    """Independent Python model of the greedy non-overlapping
    left-to-right BPE merge (scan; on (x, y) emit the space-joined
    merged symbol and advance TWO positions, so a just-merged element
    can never immediately re-merge)."""
    out, i = [], 0
    while i < len(tokens):
        if i + 1 < len(tokens) and tokens[i] == x and tokens[i + 1] == y:
            out.append(f"{x} {y}")
            i += 2
        else:
            out.append(tokens[i])
            i += 1
    return out


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.lists(st.sampled_from(["a", "b", "c"]), min_size=1, max_size=12),
        min_size=1,
        max_size=6,
    ),
    st.sampled_from([("a", "a"), ("a", "b"), ("b", "a"), ("c", "c")]),
)
def test_bpe_merge_fold_matches_python_model(spark, docs, pair):
    """The chr(1)-boundary string-accumulator fold
    (queries.llm_ops._bpe_apply_merge) equals an independent Python
    scan-and-skip model on random token sequences — including the
    (x, x) repeated-symbol case ("a a a" → ["a a", "a"]) and x == a
    suffix traps the fold's endswith test must not confuse."""
    from pyspark_ingestion_spark.queries.llm_ops import (
        _BPE_SEP,
        _bpe_apply_merge,
    )

    x, y = pair
    df = spark.createDataFrame(
        [(i, _BPE_SEP.join(toks)) for i, toks in enumerate(docs)],
        "doc_id INT, s STRING",
    )
    best = spark.createDataFrame([(x, y, 1)], "x STRING, y STRING, cnt INT")
    got = {
        r["doc_id"]: r["s"].split(_BPE_SEP)
        for r in _bpe_apply_merge(df, best).collect()
    }
    want = {i: _bpe_merge_py(toks, x, y) for i, toks in enumerate(docs)}
    assert got == want


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.lists(st.sampled_from(["a", "b", "c", "d"]), min_size=1, max_size=14),
        min_size=1,
        max_size=6,
    ),
    st.integers(min_value=0, max_value=10_000),
)
def test_bpe_merge_table_fold_matches_python_reference(spark, docs, seed):
    """The ONE-pass arbitrary-merge-table encode
    (queries.llm_ops._bpe_apply_merge_table) equals applying each merge
    of a rank-ordered table in sequence with the independent Python
    scan-and-skip model — on RANDOM tables that include merges whose
    elements are EARLIER merges' outputs (the real-tokenizer case: rank
    k's pair is built from the vocab after ranks < k), repeated-symbol
    merges, and merges that never fire."""
    import random

    from pyspark_ingestion_spark.queries.llm_ops import (
        _BPE_SEP,
        _bpe_apply_merge_table,
    )

    rng = random.Random(seed)
    words = ["a", "b", "c", "d"]
    merges: list[tuple[str, str]] = []
    for _ in range(rng.randint(1, 8)):
        if merges and rng.random() < 0.4:
            # consume an earlier merge's OUTPUT symbol
            px, py = rng.choice(merges)
            pick = f"{px} {py}"
            merges.append(
                (pick, rng.choice(words))
                if rng.random() < 0.5
                else (rng.choice(words), pick)
            )
        else:
            merges.append((rng.choice(words), rng.choice(words)))

    df = spark.createDataFrame(
        [(i, _BPE_SEP.join(toks)) for i, toks in enumerate(docs)],
        "doc_id INT, s STRING",
    )
    mt = spark.createDataFrame(
        [(merges,)], "merges array<struct<x: string, y: string>>"
    )
    got = {
        r["doc_id"]: r["s"].split(_BPE_SEP)
        for r in _bpe_apply_merge_table(
            df.crossJoin(F.broadcast(mt)), F.col("merges")
        ).collect()
    }
    want = {}
    for i, toks in enumerate(docs):
        syms = list(toks)
        for x, y in merges:
            syms = _bpe_merge_py(syms, x, y)
        want[i] = syms
    assert got == want


def _image_dhash_py(data: bytes, width: int) -> tuple[int, int]:
    """Independent Python model of operators.multimodal.image_dhash for
    the BMP-synthesizer geometry: 24-bit pixels from the byte triples
    (B,G,R weights 114/587/299), rows zero-padded to width, BOTTOM-UP
    storage (text row y is stored row h-1-y), 9×8 block-mean grid,
    bit k = cy*8+cx set iff cell mean > right neighbour's via integer
    cross-multiplication."""
    row = width * 3
    h = max(1, -(-len(data) // row))
    padded = data.ljust(h * row, b"\x00")
    s = [[0] * 9 for _ in range(8)]
    c = [[0] * 9 for _ in range(8)]
    for ys in range(h):          # stored rows, bottom-up
        yt = h - 1 - ys          # text row that landed here
        for xpix in range(width):
            b0 = padded[yt * row + xpix * 3]
            g0 = padded[yt * row + xpix * 3 + 1]
            r0 = padded[yt * row + xpix * 3 + 2]
            lm = 114 * b0 + 587 * g0 + 299 * r0
            cx, cy = xpix * 9 // width, ys * 8 // h
            s[cy][cx] += lm
            c[cy][cx] += 1
    hi = lo = 0
    for cy in range(8):
        for cx in range(8):
            if s[cy][cx] * c[cy][cx + 1] > s[cy][cx + 1] * c[cy][cx]:
                k = cy * 8 + cx
                if k < 32:
                    lo |= 1 << k
                else:
                    hi |= 1 << (k - 32)
    return hi, lo


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.text(
            alphabet=st.characters(min_codepoint=32, max_codepoint=126),
            min_size=36,
            max_size=200,
        ),
        min_size=1,
        max_size=4,
    )
)
def test_image_dhash_matches_python_model(spark, texts):
    """image_dhash over really-synthesized BMPs equals an independent
    Python reimplementation on random ASCII payloads — pinning the
    pixel/row/cell arithmetic (incl. the bottom-up row mirror and the
    zero-padded final row) beyond the fixture-oracle cases."""
    from pyspark_ingestion_spark.operators.multimodal import (
        image_dhash,
        synthesize_bmp_payload,
    )

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id LONG, text STRING"
    )
    got = {
        r["doc_id"]: (r["dh_hi"], r["dh_lo"])
        for r in image_dhash(
            synthesize_bmp_payload(df, "doc_id", "text", width=12)
        ).collect()
    }
    want = {i: _image_dhash_py(t.encode(), 12) for i, t in enumerate(texts)}
    assert got == want


_HASH32 = st.integers(0, 2**32 - 1)


@settings(max_examples=5, deadline=None)
@given(
    st.lists(st.tuples(_HASH32, _HASH32), min_size=1, max_size=20),
    st.lists(st.tuples(_HASH32, _HASH32), min_size=1, max_size=12),
    st.integers(0, 7),
)
def test_fingerprint_batch_rejects_equals_bruteforce(
    spark, corpus, batch, radius
):
    """fingerprint_batch_rejects (the banded admission core shared by
    the image/audio dedup queries and stream_fingerprint_admission)
    equals a brute-force Python Hamming scan on RANDOM 64-bit hashes —
    pinning the band-split shiftright/mask arithmetic and the
    pigeonhole-completeness claim (banding at radius ≤ 7 loses no pair)
    beyond the structured-payload oracle cases."""
    from pyspark_ingestion_spark.operators.multimodal import (
        fingerprint_batch_rejects,
    )

    cdf = spark.createDataFrame(
        [(i, hi, lo) for i, (hi, lo) in enumerate(corpus)],
        "doc long, hi long, lo long",
    )
    bdf = spark.createDataFrame(
        [(1000 + i, hi, lo) for i, (hi, lo) in enumerate(batch)],
        "doc long, hi long, lo long",
    )
    got = {
        r["doc"]
        for r in fingerprint_batch_rejects(cdf, bdf, radius=radius).collect()
    }
    want = {
        1000 + i
        for i, (bh, bl) in enumerate(batch)
        if any(
            bin((bh ^ ch)).count("1") + bin((bl ^ cl)).count("1") <= radius
            for ch, cl in corpus
        )
    }
    assert got == want


def test_fingerprint_bucket_cap_guards_degenerate_media(spark):
    """The r10 band-key-skew guard (max_bucket_size on fingerprint_pairs /
    fingerprint_batch_rejects): (1) a degenerate corpus — every item the
    SAME fingerprint, the flat-image/silent-audio collapse — produces
    ZERO candidate pairs under the cap instead of the quadratic n² band
    join (sub-quadratic by construction: every bucket is dropped before
    the self-join); (2) on a corpus where no bucket exceeds the cap the
    results are IDENTICAL to the uncapped run (exactness below the cap);
    (3) near-dups sharing several bands survive one oversized bucket,
    because only pairs whose EVERY shared band is oversized are lost."""
    from pyspark_ingestion_spark.operators.multimodal import (
        fingerprint_batch_rejects,
        fingerprint_pairs,
    )

    # (1) degenerate: 40 identical fingerprints, cap 8
    flat = spark.createDataFrame(
        [(i, 0, 0) for i in range(40)], "doc long, hi long, lo long"
    )
    assert fingerprint_pairs(flat, max_bucket_size=8).count() == 0
    assert fingerprint_pairs(flat).count() == 40 * 39 // 2  # uncapped: all
    assert fingerprint_batch_rejects(flat, flat, max_bucket_size=8).count() == 0
    import pytest

    with pytest.raises(ValueError, match="max_bucket_size"):
        fingerprint_pairs(flat, max_bucket_size=0)

    # (2) no oversized bucket → capped ≡ uncapped, exactly
    import random

    rnd = random.Random(99)
    mixed = [(i, rnd.getrandbits(32), rnd.getrandbits(32)) for i in range(30)]
    mixed += [(100 + i, mixed[i][1], mixed[i][2] ^ 1) for i in range(5)]  # near-dups
    mdf = spark.createDataFrame(mixed, "doc long, hi long, lo long")
    uncapped = {
        (r["doc_a"], r["doc_b"], r["hamming"])
        for r in fingerprint_pairs(mdf).collect()
    }
    capped = {
        (r["doc_a"], r["doc_b"], r["hamming"])
        for r in fingerprint_pairs(mdf, max_bucket_size=29).collect()
    }
    assert capped == uncapped and len(uncapped) >= 5

    # (3) one oversized bucket: pairs sharing OTHER bands still found.
    # 20 docs share band j=0 value 0 (low byte zero) but differ wildly
    # elsewhere; two docs are near-dups via their remaining bands.
    rows = [(i, rnd.getrandbits(32), (rnd.getrandbits(24) << 8))
            for i in range(20)]
    rows.append((500, rows[0][1], rows[0][2] ^ (3 << 8)))  # 2 bits, band j=1
    rdf = spark.createDataFrame(rows, "doc long, hi long, lo long")
    got = {
        (r["doc_a"], r["doc_b"])
        for r in fingerprint_pairs(rdf, max_bucket_size=21 - 1).collect()
    }
    # the j=0 bucket (21 rows) is dropped by cap 20, but (0, 500) share
    # bands j=2,3 and the hi bands too — the pair survives
    assert (0, 500) in got


def _py_bpe_train(docs_words, n_rounds):
    """Independent Python BPE trainer: (cnt DESC, pair ASC) argmax,
    greedy left-to-right non-overlapping merge, merged symbols joined
    with spaces — the exact contract of bpe_train_merges_iter."""
    from collections import Counter

    docs = [list(ws) for ws in docs_words]
    merges = []
    for _ in range(n_rounds):
        cnt = Counter()
        for d in docs:
            for a, b in zip(d, d[1:]):
                cnt[(a, b)] += 1
        if not cnt:
            break
        mx = max(cnt.values())
        best = min(p for p, c in cnt.items() if c == mx)
        merges.append((best[0], best[1], mx))
        for i, d in enumerate(docs):
            nd, j = [], 0
            while j < len(d):
                if j + 1 < len(d) and (d[j], d[j + 1]) == best:
                    nd.append(d[j] + " " + d[j + 1])
                    j += 2
                else:
                    nd.append(d[j])
                    j += 1
            docs[i] = nd
    return merges


@settings(max_examples=4, deadline=None)
@given(
    st.lists(
        st.lists(st.sampled_from(["a", "b", "c", "ab", "bc"]),
                 min_size=1, max_size=12),
        min_size=1,
        max_size=8,
    ),
    st.integers(1, 10),
)
def test_bpe_train_merges_iter_matches_python_model(spark, docs, n_rounds):
    """The N-round BPE trainer (round count as runtime data — the
    production form behind the 3-round oracle-pinned registry query)
    equals an independent Python trainer on random small-alphabet
    corpora: same (cnt DESC, pair ASC) argmax boundary, same greedy
    non-overlapping merges, same early stop when the corpus runs out of
    adjacent pairs."""
    from pyspark_ingestion_spark.queries.llm_ops import (
        _BPE_SEP,
        bpe_train_merges_iter,
    )

    df = spark.createDataFrame(
        [(_BPE_SEP.join(ws),) for ws in docs], "s string"
    )
    got = [
        (r["merge_round"], r["left_sym"], r["right_sym"], r["pair_count"])
        for r in bpe_train_merges_iter(df, n_rounds)
        .orderBy("merge_round").collect()
    ]
    want = [
        (i + 1, x, y, c)
        for i, (x, y, c) in enumerate(_py_bpe_train(docs, n_rounds))
    ]
    assert got == want


def _py_bpe_train_batched(docs_words, n_rounds, batch_k):
    """Independent Python model of bpe_train_merges_batched: per round,
    top-min(batch_k, remaining) pairs by (cnt DESC, pair ASC), greedy
    rank-order symbol-disjoint filter, merges applied sequentially in
    rank order (greedy left-to-right non-overlapping each)."""
    from collections import Counter

    docs = [list(ws) for ws in docs_words]

    def apply(best):
        for i, d in enumerate(docs):
            nd, j = [], 0
            while j < len(d):
                if j + 1 < len(d) and (d[j], d[j + 1]) == best:
                    nd.append(d[j] + " " + d[j + 1])
                    j += 2
                else:
                    nd.append(d[j])
                    j += 1
            docs[i] = nd

    merges = []
    while len(merges) < n_rounds:
        cnt = Counter()
        for d in docs:
            for a, b in zip(d, d[1:]):
                cnt[(a, b)] += 1
        if not cnt:
            break
        take = min(batch_k, n_rounds - len(merges))
        top = sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))[:take]
        used, batch = set(), []
        for (x, y), c in top:
            if x in used or y in used:
                continue
            used.update((x, y))
            batch.append((x, y, c))
            merges.append((x, y, c))
        if len(merges) < n_rounds:
            for x, y, _ in batch:
                apply((x, y))
    return merges


@settings(max_examples=4, deadline=None)
@given(
    st.lists(
        st.lists(st.sampled_from(["a", "b", "c", "ab", "bc"]),
                 min_size=1, max_size=12),
        min_size=1,
        max_size=8,
    ),
    st.integers(1, 10),
    st.integers(1, 4),
)
def test_bpe_train_merges_batched_matches_python_model(
    spark, docs, n_rounds, batch_k
):
    """The batched top-k BPE trainer (r10 — cuts the sequential
    trainer's one-job-chain-per-merge latency ~batch_k×) equals an
    independent Python model of the same algorithm on random corpora —
    including batch_k=1, where both collapse to exactly the sequential
    trainer's contract (iter-equivalence is implied transitively via
    the models: _py_bpe_train_batched(k=1) reduces to _py_bpe_train)."""
    from pyspark_ingestion_spark.queries.llm_ops import (
        _BPE_SEP,
        bpe_train_merges_batched,
    )

    df = spark.createDataFrame(
        [(_BPE_SEP.join(ws),) for ws in docs], "s string"
    )
    got = [
        (r["merge_round"], r["left_sym"], r["right_sym"], r["pair_count"])
        for r in bpe_train_merges_batched(df, n_rounds, batch_k=batch_k)
        .orderBy("merge_round").collect()
    ]
    want = [
        (i + 1, x, y, c)
        for i, (x, y, c) in enumerate(
            _py_bpe_train_batched(docs, n_rounds, batch_k)
        )
    ]
    assert got == want
    if batch_k == 1:
        assert [(x, y, c) for _, x, y, c in got] == _py_bpe_train(
            docs, n_rounds
        )


def test_hilbert_index_is_the_canonical_curve(spark):
    """r13: hilbert_index equals the canonical xy2d walk on the full
    16x16 grid, is a bijection, and has the property the layout query
    sells: consecutive curve positions are GRID NEIGHBORS (|dx|+|dy|=1
    everywhere - the locality z-order's quadrant jumps break). Also
    pins the bits guard."""
    import pytest as _pytest

    from pyspark_ingestion_spark.operators.relational import hilbert_index

    bits, n = 4, 16
    df = spark.createDataFrame(
        [(x, y) for x in range(n) for y in range(n)], "x int, y int"
    )
    got = {
        (r["x"], r["y"]): r["__h"]
        for r in hilbert_index(df, "x", "y", bits=bits).collect()
    }

    def xy2d(order, x, y):
        d, s = 0, order // 2
        while s > 0:
            rx = 1 if (x & s) > 0 else 0
            ry = 1 if (y & s) > 0 else 0
            d += s * s * ((3 * rx) ^ ry)
            if ry == 0:
                if rx == 1:
                    x, y = s - 1 - x, s - 1 - y
                x, y = y, x
            s //= 2
        return d

    assert got == {(x, y): xy2d(n, x, y) for x in range(n) for y in range(n)}
    inv = {d: xy for xy, d in got.items()}
    assert len(inv) == n * n  # bijection on the grid
    assert all(
        abs(inv[d][0] - inv[d + 1][0]) + abs(inv[d][1] - inv[d + 1][1]) == 1
        for d in range(n * n - 1)
    )
    with _pytest.raises(ValueError, match="bits"):
        hilbert_index(df, "x", "y", bits=0)


def test_scrub_common_segments_removes_planted_boilerplate(spark):
    """r13: the segment-tier boilerplate pass. A shared 8-word header
    planted across many docs is scrubbed from every one; unique tails
    survive byte-for-byte in order; a doc that is ALL boilerplate comes
    back as the empty string (kept, counted); docs with no hot segments
    pass through untouched; and the guard rejects a degenerate width."""
    import pytest as _pytest

    from pyspark_ingestion_spark.operators.dedup import scrub_common_segments

    header = "terms of service apply to all content here"  # 8 words
    rows = [(i, f"{header} unique tail words for document number {i}")
            for i in range(6)]
    rows.append((100, header))                      # all boilerplate
    rows.append((200, "entirely original text with no shared segments at all"))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in scrub_common_segments(
        df, "doc_id", "text", words_per_segment=8, max_doc_df=2
    ).collect()}
    assert len(out) == 8  # every doc kept, including the emptied one
    for i in range(6):
        assert out[i]["text_clean"] == f"unique tail words for document number {i}"
        assert out[i]["n_scrubbed"] == 1 and out[i]["n_segments"] == 2
    assert out[100]["text_clean"] == "" and out[100]["n_scrubbed"] == 1
    assert out[200]["text_clean"] == rows[-1][1] and out[200]["n_scrubbed"] == 0
    with _pytest.raises(ValueError, match="words_per_segment"):
        scrub_common_segments(df, "doc_id", "text", words_per_segment=0)


def test_hilbert_index_rejects_out_of_range_inputs(spark):
    """r13: out-of-range coordinates would alias quadrants silently —
    the per-row guard raises instead (in-range rows still compute)."""
    import pytest as _pytest

    from pyspark_ingestion_spark.operators.relational import hilbert_index

    ok = spark.createDataFrame([(3, 5)], "x int, y int")
    assert hilbert_index(ok, "x", "y", bits=4).collect()[0]["__h"] is not None
    for bad in [(16, 0), (0, 16), (-1, 0)]:
        df = spark.createDataFrame([bad], "x int, y int")
        with _pytest.raises(Exception, match="alias quadrants"):
            hilbert_index(df, "x", "y", bits=4).collect()


def test_pack_sequences_tiles_exactly(spark):
    """r14: concat-and-chunk packing contracts. (1) Per doc, fragments
    tile [0, n_tokens) without gaps or overlap. (2) Per sequence, every
    sequence except the last is EXACTLY full and fragments tile it in
    order (zero padding waste — the property the layout is chosen
    for). (3) The sharded prefix sum equals a driver-side sequential
    packer. (4) Zero-token docs are dropped; the capacity guard
    raises."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from pyspark_ingestion_spark.operators.relational import pack_sequences

    cap = 100
    # lengths exercise: tiny docs, an exact-fit doc, a >capacity doc
    lens = [37, 100, 13, 250, 1, 99, 42, 0, 7, 180, 64, 5]
    rows = [(i, lens[i]) for i in range(len(lens))]
    df = spark.createDataFrame(rows, "doc_id long, n_tok long")
    out = pack_sequences(df, "doc_id", "n_tok", capacity=cap, shards=3).collect()

    # (3) driver-side reference packer
    want = []
    cum = 0
    for i, tk in rows:
        if tk == 0:
            continue
        cb, ca = cum, cum + tk
        for s in range(cb // cap, (ca - 1) // cap + 1):
            lo, hi = max(cb, s * cap), min(ca, (s + 1) * cap)
            want.append((i, tk, s, lo - cb, hi - cb, lo - s * cap, hi - s * cap))
        cum = ca
    got = sorted(tuple(r) for r in out)
    assert got == sorted(want)

    # (1) per-doc tiling
    bydoc = {}
    for r in out:
        bydoc.setdefault(r["doc_id"], []).append(r)
    assert set(bydoc) == {i for i, tk in rows if tk > 0}
    for i, frs in bydoc.items():
        frs.sort(key=lambda r: r["doc_off_start"])
        assert frs[0]["doc_off_start"] == 0
        assert frs[-1]["doc_off_end"] == lens[i]
        for a, b in zip(frs, frs[1:]):
            assert a["doc_off_end"] == b["doc_off_start"]

    # (2) per-sequence tiling: all but the last sequence exactly full
    byseq = {}
    for r in out:
        byseq.setdefault(r["seq_id"], []).append(r)
    total = sum(tk for _, tk in rows)
    n_seq = (total - 1) // cap + 1
    assert set(byseq) == set(range(n_seq))
    for s, frs in byseq.items():
        frs.sort(key=lambda r: r["seq_off_start"])
        assert frs[0]["seq_off_start"] == 0
        expect_end = cap if s < n_seq - 1 else total - (n_seq - 1) * cap
        assert frs[-1]["seq_off_end"] == expect_end
        for a, b in zip(frs, frs[1:]):
            assert a["seq_off_end"] == b["seq_off_start"]

    with _pytest.raises(ValueError, match="capacity"):
        pack_sequences(df, "doc_id", "n_tok", capacity=0)


def test_feature_histogram_is_mergeable_and_psi_detects_drift(spark):
    """r14: the distribution-drift tier's two contracts. (1) Histogram
    counts are MERGEABLE: per-split histograms rolled up equal the
    whole-frame histogram (the streaming feed's rollup-not-rescan
    guarantee). (2) PSI behaves like the drift observable it is: a
    same-distribution split reads ~0, a shifted distribution reads
    large, a bucket empty on one side is epsilon-floored (finite), and
    buckets empty on BOTH sides contribute nothing. Also pins the
    ascending-edges guard."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from pyspark_ingestion_spark.operators.profiling import (
        distribution_drift,
        feature_histogram,
    )

    edges = [10.0, 20.0, 30.0, 40.0]
    df = spark.range(1000).select((F.col("id") % 50).cast("double").alias("v"))
    whole = {
        r["bucket"]: r["cnt"]
        for r in feature_histogram(df, "v", edges).collect()
    }
    assert sum(whole.values()) == 1000 and set(whole) == {0, 1, 2, 3, 4}
    # (1) mergeability: split rollup == whole
    a = feature_histogram(df.filter(F.col("v") % 2 == 0), "v", edges)
    b = feature_histogram(df.filter(F.col("v") % 2 == 1), "v", edges)
    merged = {
        r["bucket"]: r["s"]
        for r in a.unionByName(b)
        .groupBy("bucket").agg(F.sum("cnt").alias("s")).collect()
    }
    assert merged == whole
    # (2) same distribution => PSI ~ 0
    same = distribution_drift(
        feature_histogram(df.filter(F.col("id") % 5 == 0), "v", edges),
        feature_histogram(df.filter(F.col("id") % 5 != 0), "v", edges),
    ).agg(F.sum("psi_term")).first()[0]
    assert abs(same) < 0.01
    # shifted distribution => large PSI; one-side-empty bucket stays finite
    lo = spark.range(500).select((F.col("id") % 8).cast("double").alias("v"))
    hi = spark.range(500).select((42 + F.col("id") % 8).cast("double").alias("v"))
    drift = distribution_drift(
        feature_histogram(hi, "v", edges), feature_histogram(lo, "v", edges)
    )
    rows = {r["bucket"]: r for r in drift.collect()}
    assert set(rows) == {0, 4}  # union domain only: middle buckets absent
    assert all(abs(r["psi_term"]) < float("inf") for r in rows.values())
    total = sum(r["psi_term"] for r in rows.values())
    assert total > 1.0  # complete mass displacement reads as major drift
    with _pytest.raises(ValueError, match="ascending"):
        feature_histogram(df, "v", [2.0, 1.0])


def test_stream_feature_histogram_feeds_the_drift_monitor(spark, tmp_path):
    """r14: the streaming feed. Pins: (1) the streamed per-batch
    histograms ROLL UP to the batch-face histogram over the same rows
    (mergeability is the sink's whole contract); (2) replay overwrites
    its batch partition, never duplicates; (3) the rolled-up feed
    plugs into distribution_drift against a baseline."""
    import glob
    import shutil
    import time

    from pyspark.sql import functions as F

    from pyspark_ingestion_spark.operators.profiling import (
        distribution_drift,
        feature_histogram,
    )
    from pyspark_ingestion_spark.streaming.pipeline import (
        _feature_hist_batch,
        stream_feature_histogram,
    )

    edges = [10.0, 20.0, 30.0]
    schema = "id long, v double"
    rows = [(i, float(i % 40)) for i in range(200)]
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

    write_file("a", 0, 120)
    write_file("b", 120, 200)
    stats = str(tmp_path / "stats")
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    stream_feature_histogram(stream, "v", edges, stats, str(tmp_path / "ck"))

    rollup = lambda: {  # noqa: E731
        r["bucket"]: r["s"]
        for r in spark.read.parquet(stats)
        .groupBy("bucket").agg(F.sum("cnt").alias("s")).collect()
    }
    want = {
        r["bucket"]: r["cnt"]
        for r in feature_histogram(
            spark.createDataFrame(rows, schema), "v", edges
        ).collect()
    }
    got = rollup()
    assert got == want  # streamed rollup == batch face
    # replay idempotence
    _feature_hist_batch(
        spark.createDataFrame(rows[120:200], schema), 1, "v", edges, stats
    )
    assert rollup() == want
    # the feed drives the monitor end to end
    baseline = feature_histogram(spark.createDataFrame(rows, schema), "v", edges)
    psi = distribution_drift(
        spark.read.parquet(stats).select("bucket", "cnt"), baseline
    ).agg(F.sum("psi_term")).first()[0]
    assert abs(psi) < 0.01  # same rows => no drift


def test_hilbert_index_nd_is_a_hilbert_curve(spark):
    """r14 (VERDICT r13 item 8): the d≥3 generalization. Over the FULL
    8x8x8 cube (bits=3, n=3): (1) the index is a bijection onto
    [0, 512); (2) consecutive curve positions are GRID NEIGHBORS
    (L1 distance exactly 1 — the defining Hilbert property, which any
    interleave/z-order breaks at quadrant jumps); (3) it matches a
    straight-line Python transcription of Skilling's transpose
    algorithm bit for bit; (4) the shape/range guards raise."""
    import pytest as _pytest

    from pyspark_ingestion_spark.operators.relational import hilbert_index_nd

    bits, side = 3, 8
    df = spark.createDataFrame(
        [(x, y, z) for x in range(side) for y in range(side) for z in range(side)],
        "x int, y int, z int",
    )
    got = {
        (r["x"], r["y"], r["z"]): r["__h"]
        for r in hilbert_index_nd(df, ["x", "y", "z"], bits=bits).collect()
    }

    def skilling(coords, b, n):
        X = list(coords)
        q = 1 << (b - 1)
        while q > 1:
            p = q - 1
            for i in range(n):
                if X[i] & q:
                    X[0] ^= p
                else:
                    t = (X[0] ^ X[i]) & p
                    X[0] ^= t
                    X[i] ^= t
            q >>= 1
        for i in range(1, n):
            X[i] ^= X[i - 1]
        t, q = 0, 1 << (b - 1)
        while q > 1:
            if X[n - 1] & q:
                t ^= q - 1
            q >>= 1
        X = [x ^ t for x in X]
        d = 0
        for beta in range(b):
            for i in range(n):
                d |= ((X[i] >> beta) & 1) << (beta * n + (n - 1 - i))
        return d

    want = {
        (x, y, z): skilling((x, y, z), bits, 3)
        for x in range(side) for y in range(side) for z in range(side)
    }
    assert got == want
    inv = {d: xyz for xyz, d in got.items()}
    assert len(inv) == side ** 3 and min(inv) == 0 and max(inv) == side ** 3 - 1
    assert all(
        sum(abs(a - b) for a, b in zip(inv[d], inv[d + 1])) == 1
        for d in range(side ** 3 - 1)
    )
    with _pytest.raises(ValueError, match="dimensions"):
        hilbert_index_nd(df, ["x"], bits=4)
    with _pytest.raises(ValueError, match="BIGINT"):
        hilbert_index_nd(df, ["x", "y", "z"], bits=22)  # 66 index bits
    bad = spark.createDataFrame([(8, 0, 0)], "x int, y int, z int")
    with _pytest.raises(Exception, match="alias quadrants"):
        hilbert_index_nd(bad, ["x", "y", "z"], bits=bits).collect()


def test_lsh_sql_string_builds_match_column_api(spark):
    """r15 (guide §4/§1.2): `_shingle_table`'s window transform,
    `_wide_signatures` and `_bands_from_wide` are built from SQL strings
    (the r14 `_ivf_score_structs` treatment — these builds run per
    micro-batch in the admission sinks, where ~100 py4j round trips per
    build were a steady-state cost). The parsed trees must stay
    value-identical (and schema-identical) to the Column-API builds
    they replaced, which are inlined here as the reference."""
    from pyspark.sql import functions as F

    from pyspark_ingestion_spark.functions.text import words
    from pyspark_ingestion_spark.operators.dedup import (
        MINHASH_P,
        _bands_from_wide,
        _shingle_table,
        _wide_signatures,
        minhash_seed_coeffs,
    )

    df = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "  weird   spacing\tand TABS here"),
            (3, ""),
            (4, "one two"),
            (5, "a b c d e f g a b c"),
        ],
        "doc_id long, text string",
    )

    # pre-r15 Column-API reference builds
    w = df.select(F.col("doc_id").alias("doc"), words(F.lower(F.col("text"))).alias("__w"))
    arr = F.col("__w")
    shingled = F.transform(
        F.sequence(F.lit(1), F.greatest(F.size(arr) - 3 + 1, F.lit(1))),
        lambda i: F.concat_ws(" ", *[F.get(arr, i + j - 1) for j in range(3)]),
    )
    ref_sh = w.select("doc", F.explode(F.array_distinct(shingled)).alias("shingle"))

    def ref_wide(sh, num_hashes):
        h = F.conv(F.substring(F.md5("shingle"), 1, 7), 16, 10).cast("long")
        aggs = []
        for i in range(num_hashes):
            a, b = minhash_seed_coeffs(i)
            aggs.append(
                F.min((F.lit(a) * F.col("h") + F.lit(b)) % MINHASH_P).alias(f"sig{i}")
            )
        return sh.select("doc", h.alias("h")).groupBy("doc").agg(*aggs)

    def ref_bands(wide, num_hashes, band_size):
        n_bands = (num_hashes + band_size - 1) // band_size
        structs = []
        for bi in range(n_bands):
            seeds = range(bi * band_size, min((bi + 1) * band_size, num_hashes))
            key = F.md5(
                F.concat_ws("|", *[F.col(f"sig{s}").cast("string") for s in seeds])
            )
            structs.append(F.struct(F.lit(bi).alias("band"), key.alias("band_key")))
        return wide.select("doc", F.explode(F.array(*structs)).alias("b")).select(
            "doc", F.col("b.band").alias("band"), F.col("b.band_key").alias("band_key")
        )

    got_sh = _shingle_table(df, "doc_id", "text", 3)
    assert sorted(map(tuple, got_sh.collect())) == sorted(
        map(tuple, ref_sh.collect())
    )

    got_w = _wide_signatures(got_sh, 8)
    want_w = ref_wide(ref_sh, 8)
    assert got_w.schema == want_w.schema
    assert sorted(map(tuple, got_w.collect())) == sorted(map(tuple, want_w.collect()))

    got_b = _bands_from_wide(got_w, 8, 2)
    want_b = ref_bands(want_w, 8, 2)
    assert got_b.schema == want_b.schema
    assert sorted(map(tuple, got_b.collect())) == sorted(map(tuple, want_b.collect()))
