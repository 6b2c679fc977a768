"""Deterministic input generators for the three workloads.

Everything here is pure Python + numpy + pyarrow: staging never touches
Spark, so the program under test only ever sees finished input files.
The same seed gives byte-identical files; see ``test_perfbench.py``.
"""

from __future__ import annotations

import datetime as dt
import os
import struct

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SYSTEMS = ("sap", "lims", "c1")
REGIONS = ("EMEA", "AMER", "APAC", "LATAM", "ANZ")
EPOCH = dt.datetime(2024, 1, 1)


def write_table(table: pa.Table, path: str) -> None:
    """Write one parquet file atomically (tmp + rename), so a file-source
    stream never lists a half-written file."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = os.path.join(os.path.dirname(path), "." + os.path.basename(path) + ".tmp")
    pq.write_table(table, tmp, compression="snappy")
    os.replace(tmp, path)


def _rng(seed: int, *salt: int) -> np.random.Generator:
    return np.random.default_rng([seed, *salt])


# --------------------------------------------------------------------------
# ingest_incremental: per-system day slices + a CDC feed + expectations
# --------------------------------------------------------------------------


class IngestPlan:
    """The op sequence of ``ingest_incremental`` for one seed.

    Op ``i`` lands day ``i // 3`` of system ``SYSTEMS[i % 3]``: a slice
    of ``rows`` source rows, then a CDC batch (the slice's rows as new
    keys, plus updates and tombstones of keys created by the previous
    three ops), then a rollup of the slice by (SYS, MONTH, REGION).
    ``expected`` after op ``i`` is computed here, independently of Spark.
    """

    def __init__(self, seed: int, rows: int, n_ops: int):
        self.seed, self.rows, self.n_ops = seed, rows, n_ops

    def day_start(self, op: int) -> dt.datetime:
        return EPOCH + dt.timedelta(days=op // 3)

    def slice_arrays(self, op: int) -> dict:
        r = _rng(self.seed, 1, op)
        n = self.rows
        # seconds inside the day, strictly increasing so the max is the last row
        secs = np.sort(r.choice(86_400 - 1, size=n, replace=False))
        micros = r.integers(0, 1_000_000, size=n)
        return {
            "ids": np.arange(op * n, (op + 1) * n, dtype=np.int64) + 1,
            "secs": secs.astype(np.int64),
            "micros": micros.astype(np.int64),
            "region": r.integers(0, len(REGIONS), size=n),
            "amount": r.integers(100, 1_000_000, size=n, dtype=np.int64),
            "qty": r.integers(1, 500, size=n).astype(np.int32),
            "pro": r.integers(0, 2, size=n).astype(bool),
        }

    def slice_table(self, op: int) -> pa.Table:
        system = SYSTEMS[op % 3]
        a = self.slice_arrays(op)
        day = self.day_start(op)
        ts = np.datetime64(day, "us") + a["secs"] * 1_000_000 + a["micros"]
        region = pa.array(np.array(REGIONS)[a["region"]])
        common = {
            "REGION": region,
            "AMOUNT_CENTS": pa.array(a["amount"]),
            "QTY": pa.array(a["qty"]),
        }
        if system == "sap":
            hms = a["secs"]
            erzet = [f"{h:02d}{m:02d}{s:02d}" for h, m, s in
                     zip(hms // 3600, hms // 60 % 60, hms % 60)]
            cols = {"DOC_ID": pa.array(a["ids"]),
                    "ERDAT": pa.array([day.strftime("%Y%m%d")] * self.rows),
                    "ERZET": pa.array(erzet)}
        elif system == "lims":
            cols = {"SAMPLE_ID": pa.array(a["ids"]),
                    "MODIFIED_ON": pa.array(ts.astype("datetime64[us]"))}
        else:
            cols = {"CONTACT_ID": pa.array(a["ids"]),
                    "EMAIL__C": pa.array([f"user{i}@example.com" for i in a["ids"]]),
                    "IS_PRO__C": pa.array(a["pro"]),
                    "LASTMODIFIEDDATE": pa.array(ts.astype("datetime64[us]")),
                    "NOTES": pa.array([f"note {i % 97}" for i in a["ids"]])}
        return pa.table({**cols, **common})

    def watermark(self, op: int) -> str:
        """The sync-file value expected after op ``op`` lands."""
        a = self.slice_arrays(op)
        t = self.day_start(op) + dt.timedelta(seconds=int(a["secs"][-1]))
        if SYSTEMS[op % 3] != "sap":  # sap refs carry whole seconds only
            t += dt.timedelta(microseconds=int(a["micros"][-1]))
        return t.strftime("%Y-%m-%dT%H:%M:%S.%fZ")

    def month(self, op: int) -> str:
        return str(self.day_start(op).month)

    def cdc_table(self, op: int, live: dict) -> pa.Table:
        """New keys of this op's slice, plus updates and tombstones of
        live keys created by the previous three ops. ``live`` maps
        creation op -> {key: amount} and is advanced in place."""
        a = self.slice_arrays(op)
        r = _rng(self.seed, 2, op)
        recent = [(k, d) for d in range(max(0, op - 3), op) for k in sorted(live.get(d, ()))]
        n_touch = min(len(recent), self.rows // 10)
        picks = r.choice(len(recent), size=n_touch, replace=False) if n_touch else []
        touched = [recent[int(j)] for j in picks]
        n_dead = n_touch // 4
        dead, upd = touched[:n_dead], touched[n_dead:]
        upd_amount = r.integers(100, 1_000_000, size=len(upd), dtype=np.int64)
        keys = np.array([*a["ids"], *(k for k, _ in upd), *(k for k, _ in dead)],
                        dtype=np.int64)
        cday = np.array([op] * self.rows + [d for _, d in upd] + [d for _, d in dead],
                        dtype=np.int32)
        amount = np.concatenate([a["amount"], upd_amount,
                                 np.zeros(len(dead), dtype=np.int64)])
        deleted = np.concatenate([np.zeros(self.rows + len(upd), bool),
                                  np.ones(len(dead), bool)])
        live[op] = dict(zip(a["ids"].tolist(), a["amount"].tolist()))
        for (k, d), v in zip(upd, upd_amount.tolist()):
            live[d][k] = v
        for k, d in dead:
            del live[d][k]
        return pa.table({
            "KEY": pa.array(keys), "CDAY": pa.array(cday),
            "VER": pa.array(np.full(len(keys), op, dtype=np.int64)),
            "AMOUNT_CENTS": pa.array(amount), "DELETED": pa.array(deleted),
        })

    def rollup_delta(self, op: int) -> dict:
        """(SYS, MONTH, REGION) -> (n, sum amount, max qty) of one slice."""
        a = self.slice_arrays(op)
        out = {}
        for g in range(len(REGIONS)):
            m = a["region"] == g
            if m.any():
                out[(SYSTEMS[op % 3], self.month(op), REGIONS[g])] = (
                    int(m.sum()), int(a["amount"][m].sum()), int(a["qty"][m].max()))
        return out


def key_digest(keys: np.ndarray, amounts: np.ndarray) -> tuple[int, int]:
    """(count, order-independent 64-bit digest) of a key -> amount set."""
    return len(keys), int(_mix(keys, amounts).sum(dtype=np.uint64))


def _mix(keys, amounts) -> np.ndarray:
    with np.errstate(over="ignore"):
        h = np.asarray(keys, np.int64).astype(np.uint64) * np.uint64(0x9E3779B97F4A7C15)
        h ^= np.asarray(amounts, np.int64).astype(np.uint64) * np.uint64(0xBF58476D1CE4E5B9)
        h ^= h >> np.uint64(31)
        h *= np.uint64(0x94D049BB133111EB)
    return h


def stage_ingest(plan: IngestPlan, root: str) -> list[dict]:
    """Write every slice and CDC batch under ``root``; return per-op
    expectations (cumulative lake rows per system, watermark, digest of
    the live CDC keys, rollup)."""
    live: dict = {}
    lake_rows = dict.fromkeys(SYSTEMS, 0)
    rollup: dict = {}
    n_live, digest = 0, np.uint64(0)
    expect = []
    for op in range(plan.n_ops):
        system = SYSTEMS[op % 3]
        write_table(plan.slice_table(op), f"{root}/src/{system}/op{op:04d}.parquet")
        before = {d: dict(live[d]) for d in range(max(0, op - 3), op)}
        write_table(plan.cdc_table(op, live), f"{root}/cdc/op{op:04d}.parquet")
        # advance the digest by this op's delta only: the new day plus the
        # three days an update or tombstone may have touched
        with np.errstate(over="ignore"):
            for d, old in before.items():
                digest -= _mix(list(old), list(old.values())).sum(dtype=np.uint64)
                digest += _mix(list(live[d]), list(live[d].values())).sum(dtype=np.uint64)
                n_live += len(live[d]) - len(old)
            digest += _mix(list(live[op]), list(live[op].values())).sum(dtype=np.uint64)
        n_live += len(live[op])
        lake_rows[system] += plan.rows
        for k, (n, s, q) in plan.rollup_delta(op).items():
            n0, s0, q0 = rollup.get(k, (0, 0, 0))
            rollup[k] = (n0 + n, s0 + s, max(q0, q))
        expect.append({
            "system": system,
            "lake_rows": lake_rows[system],
            "watermark": plan.watermark(op),
            "cdc": (n_live, int(digest)),
            "rollup": dict(rollup),
        })
    return expect


# --------------------------------------------------------------------------
# query_mix: TPC-H-like star schema + events + documents + embeddings
# --------------------------------------------------------------------------

WORDS = ("the a key agg row scan slow fast table value part hash merge batch "
         "spark line sort window data column join small customer query order "
         "group filter stream big index shard cache plan stage task node").split()


def query_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    r = _rng(seed, 3)
    n_cust, n_ord, n_li = int(150_000 * sf), int(1_500_000 * sf), int(6_000_000 * sf)
    n_part, n_supp = int(200_000 * sf), max(10, int(10_000 * sf))
    n_ev, n_doc, n_emb = int(1_000_000 * sf), int(50_000 * sf), int(50_000 * sf)
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(r.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(np.round(r.uniform(-999, 9999, n_cust), 2)),
        "c_mktsegment": pa.array(np.array(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
        )[r.integers(0, 5, n_cust)])})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(r.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(np.round(r.uniform(-999, 9999, n_supp), 2))})
    colors = np.array(["red", "blue", "green", "small", "large", "shiny"])
    things = np.array(["widget", "ring", "bolt", "gear", "panel"])
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": pa.array(np.char.add(np.char.add(
            colors[r.integers(0, 6, n_part)], " "), things[r.integers(0, 5, n_part)])),
        "p_brand": pa.array(np.char.add("Brand#", r.integers(1, 50, n_part).astype(str))),
        "p_type": pa.array(np.array(["ECONOMY", "STANDARD", "PROMO"])[r.integers(0, 3, n_part)]),
        "p_size": pa.array(r.integers(1, 50, n_part).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900 + np.arange(n_part) % 1000 / 10, 2))})
    day0 = np.datetime64("1992-01-01", "us")
    odate = day0 + r.integers(0, 365 * 10, n_ord) * 86_400_000_000
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(r.integers(0, n_cust, n_ord)),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[r.integers(0, 3, n_ord)]),
        "o_totalprice": pa.array(np.round(r.uniform(1000, 500_000, n_ord), 2)),
        "o_orderdate": pa.array(odate),
        "o_orderpriority": pa.array(np.array(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
        )[r.integers(0, 5, n_ord)])})
    lok = r.integers(0, n_ord, n_li)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(lok),
        "l_partkey": pa.array(r.integers(0, n_part, n_li)),
        "l_suppkey": pa.array(r.integers(0, n_supp, n_li)),
        "l_linenumber": pa.array(r.integers(1, 8, n_li).astype(np.int32)),
        "l_quantity": pa.array(r.integers(1, 51, n_li).astype(np.float64)),
        # whole hundreds keep price * (1 - disc) * (1 + tax) at two decimals,
        # so no rounded sum sits on a half-cent tie that summation order decides
        "l_extendedprice": pa.array(100.0 * r.integers(9, 1001, n_li)),
        "l_discount": pa.array(r.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(r.integers(0, 9, n_li) / 100.0),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[r.integers(0, 3, n_li)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[r.integers(0, 2, n_li)]),
        "l_shipdate": pa.array(odate[lok] + r.integers(1, 122, n_li) * 86_400_000_000)})
    n_users = max(20, n_ev // 50)
    ev_ts = np.sort(np.datetime64("2024-01-01", "us")
                    + r.integers(0, 2 * 86_400_000_000, n_ev))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": pa.array(ev_ts),
        "user_id": pa.array(r.integers(0, n_users, n_ev)),
        "event_type": pa.array(np.array(
            ["click", "view", "purchase", "error", "scroll"])[r.integers(0, 5, n_ev)]),
        "value": pa.array(np.round(r.uniform(0, 100, n_ev), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in r.integers(0, 100, n_ev)])})
    words = np.array(WORDS)
    texts = []
    for i in range(n_doc):
        if i > 10 and r.random() < 0.1:  # exact and near copies for the dedup queries
            src = texts[int(r.integers(0, i))]
            texts.append(src if r.random() < 0.5 else src + " " + str(words[r.integers(0, len(words))]))
        else:
            texts.append(" ".join(words[r.integers(0, len(words), int(r.integers(5, 80)))]))
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(np.array(["en", "en", "en", "de", "fr"])[r.integers(0, 5, n_doc)]),
        "source": pa.array([f"src{k}" for k in r.integers(0, 8, n_doc)]),
        "n_chars": pa.array(np.array([len(x) for x in texts], dtype=np.int64))})
    emb = r.standard_normal((n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb, dtype=np.int64)),
        "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
        "label": pa.array(r.integers(0, 8, n_emb).astype(np.int32))})
    return t


def stage_queries(seed: int, sf: float, root: str) -> None:
    for name, table in query_tables(seed, sf).items():
        write_table(table, f"{root}/{name}.parquet")


# --------------------------------------------------------------------------
# stream_admission: base corpora + arriving batches with planted near-dups
# --------------------------------------------------------------------------

SINKS = ("hotlog", "substring", "fingerprint")
VOCAB = [f"w{i}" for i in range(8000)]
BOILER = ("subscribe to our newsletter for the latest updates and offers",
          "all rights reserved reproduction without permission is prohibited")


def _doc_text(r: np.random.Generator, n_words: int, boiler: bool) -> str:
    ws = [VOCAB[j] for j in r.integers(0, len(VOCAB), n_words)]
    if boiler and r.random() < 0.3:
        pos = int(r.integers(0, len(ws)))
        ws[pos:pos] = BOILER[int(r.integers(0, 2))].split()
    return " ".join(ws)


def _pixel_text(r: np.random.Generator) -> str:
    return "".join(chr(c) for c in r.integers(32, 127, 360))


def near_duplicate(sink: str, text: str) -> str:
    """A planted near-duplicate that each sink must reject by construction:
    LSH shingles lower-cased words (so case and spacing changes keep the
    shingle set, Jaccard 1); the substring sink shares every window but
    the first word's; a +1 gain shift leaves the image dHash unchanged."""
    if sink == "hotlog":
        return text.upper().replace(" ", "  ", 3)
    if sink == "substring":
        return "edited " + text.split(" ", 1)[1]
    return "".join(chr(ord(c) + 1) for c in text)


def bmp_payload(text: str, width: int = 12) -> bytes:
    """The text's bytes as the 24-bit pixels of a ``width``-wide BMP."""
    data = text.encode("utf-8")
    row = width * 3
    h = max(1, -(-len(data) // row))
    padded = data.ljust(h * row, b"\x00")
    pix = b"".join(reversed([padded[i * row:(i + 1) * row] for i in range(h)]))
    dib = struct.pack("<IiiHHIIiiII", 40, width, h, 1, 24, 0, len(pix), 2835, 2835, 0, 0)
    return struct.pack("<2sIHHI", b"BM", 54 + len(pix), 0, 0, 54) + dib + pix


def stream_rows(sink: str, texts: list[str]) -> pa.Table:
    ids = pa.array([t[0] for t in texts], type=pa.int64())
    if sink == "fingerprint":
        return pa.table({"doc_id": ids,
                         "payload": pa.array([bmp_payload(t[1]) for t in texts],
                                             type=pa.binary())})
    return pa.table({"doc_id": ids, "text": pa.array([t[1] for t in texts])})


class StreamPlan:
    """Base corpus and batch ``b`` of each sink; every batch holds
    ``batch_rows`` fresh documents plus ``batch_rows // 10`` planted
    near-duplicates of distinct base documents."""

    def __init__(self, seed: int, corpus_n: int, batch_rows: int):
        self.seed, self.corpus_n, self.batch_rows = seed, corpus_n, batch_rows

    def _text(self, sink: str, r) -> str:
        if sink == "fingerprint":
            return _pixel_text(r)
        return _doc_text(r, 40, boiler=sink == "substring")

    def base(self, sink: str) -> list[tuple[int, str]]:
        r = _rng(self.seed, 4, SINKS.index(sink))
        return [(i, self._text(sink, r)) for i in range(self.corpus_n)]

    def batch(self, sink: str, b: int, base: list) -> tuple[list, set]:
        """Rows of batch ``b`` and the ids that must be admitted."""
        r = _rng(self.seed, 5, SINKS.index(sink), b)
        start = self.corpus_n + b * 10_000
        fresh = [(start + j, self._text(sink, r)) for j in range(self.batch_rows)]
        picks = r.choice(self.corpus_n, size=self.batch_rows // 10, replace=False)
        planted = [(start + self.batch_rows + j, near_duplicate(sink, base[int(p)][1]))
                   for j, p in enumerate(picks)]
        rows = fresh + planted
        order = r.permutation(len(rows))
        return [rows[k] for k in order], {i for i, _ in fresh}


class SubstringReference:
    """The substring sink's admission rule, for computing the expected
    admitted ids: a batch doc is rejected iff one of its ``k``-char
    windows (every char position) also occurs in a corpus doc and in at
    most ``max_df`` distinct corpus docs (more makes it boilerplate).
    The corpus is the base plus every doc admitted so far."""

    def __init__(self, corpus: list, k: int = 20, max_df: int = 10):
        self.k, self.max_df = k, max_df
        self.df: dict[str, int] = {}
        self.add(corpus)

    def windows(self, text: str) -> set:
        return {text[p:p + self.k] for p in range(len(text) - self.k + 1)}

    def add(self, docs: list) -> None:
        for _, text in docs:
            for w in self.windows(text):
                self.df[w] = self.df.get(w, 0) + 1

    def admit(self, rows: list) -> set:
        admitted = [(i, t) for i, t in rows
                    if not any(0 < self.df.get(w, 0) <= self.max_df
                               for w in self.windows(t))]
        self.add(admitted)
        return {i for i, _ in admitted}


def stage_stream(plan: StreamPlan, root: str, n_batches: int) -> dict:
    """Write each sink's base corpus and its ``n_batches`` batches (to a
    holding dir the workload moves into the stream source one at a
    time); return {sink: [admitted id set per batch]}."""
    expect = {}
    for sink in SINKS:
        base = plan.base(sink)
        ref = SubstringReference(base) if sink == "substring" else None
        write_table(stream_rows(sink, base), f"{root}/{sink}/base/part-0.parquet")
        expect[sink] = []
        for b in range(n_batches):
            rows, admitted = plan.batch(sink, b, base)
            if ref is not None:
                admitted = ref.admit(rows)
            write_table(stream_rows(sink, rows), f"{root}/{sink}/hold/b{b:04d}.parquet")
            expect[sink].append(admitted)
    return expect
