"""Seeded benchmark inputs. Every input the program sees is made here
from the run's seed; the same seed gives the same inputs.

CDC events are ``(op, key, before, after)`` tuples over rows
``(amount, name)`` — see oracle.py. The wire encoders turn one batch
into each source's on-disk format: a MySQL binlog file (the spec-built
encoder in tests/binlog_builder.py), a pgoutput frame file (messages
from the independent encoders in tests/test_pgoutput.py) and
Confluent-framed Debezium-Avro payloads.
"""

from __future__ import annotations

import bisect
import datetime as dt
import json
import os
import random
from decimal import Decimal

# -- CDC event scripts ---------------------------------------------------------


def _row(rng: random.Random, key: int, version: int) -> tuple:
    return (f"{rng.randrange(0, 10_000_000) / 100:.2f}", f"n{key}-v{version}")


def initial_rows(rng: random.Random, n_keys: int) -> dict:
    return {k: _row(rng, k, 0) for k in range(n_keys)}


def uniform_batches(rng: random.Random, initial: dict, key_space: int,
                    n_batches: int, batch_size: int) -> list[list[tuple]]:
    """Keys uniform over ``key_space``: a present key is updated (70%)
    or deleted, an absent key inserted, so all three ops occur."""
    state = dict(initial)
    version = 0
    batches = []
    for _ in range(n_batches):
        batch = []
        for _ in range(batch_size):
            key = rng.randrange(key_space)
            version += 1
            before = state.get(key)
            if before is None:
                after = _row(rng, key, version)
                batch.append(("insert", key, None, after))
                state[key] = after
            elif rng.random() < 0.7:
                after = _row(rng, key, version)
                batch.append(("update", key, before, after))
                state[key] = after
            else:
                batch.append(("delete", key, before, None))
                del state[key]
        batches.append(batch)
    return batches


class Zipf:
    """Zipf(s) over ranks 0..n-1, mapped to keys by a seeded shuffle so
    the hot keys are spread over the key range."""

    def __init__(self, rng: random.Random, n: int, s: float = 1.1):
        weights = [1.0 / (r + 1) ** s for r in range(n)]
        total = sum(weights)
        acc, self.cdf = 0.0, []
        for w in weights:
            acc += w / total
            self.cdf.append(acc)
        self.keys = list(range(n))
        rng.shuffle(self.keys)
        self.rng = rng

    def draw(self) -> int:
        i = bisect.bisect_left(self.cdf, self.rng.random())
        return self.keys[min(i, len(self.keys) - 1)]


def zipf_script(rng: random.Random, initial: dict, key_space: int,
                n_events: int) -> list[tuple]:
    """Zipf-hot keys; every deleted key is re-inserted by the next event
    with probability 1/2, so delete+reinsert pairs land in one batch."""
    zipf = Zipf(rng, key_space)
    state = dict(initial)
    out = []
    version = 0
    while len(out) < n_events:
        key = zipf.draw()
        version += 1
        before = state.get(key)
        if before is None:
            after = _row(rng, key, version)
            out.append(("insert", key, None, after))
            state[key] = after
        elif rng.random() < 0.85:
            after = _row(rng, key, version)
            out.append(("update", key, before, after))
            state[key] = after
        else:
            out.append(("delete", key, before, None))
            del state[key]
            if rng.random() < 0.5 and len(out) < n_events:
                version += 1
                after = _row(rng, key, version)
                out.append(("insert", key, None, after))
                state[key] = after
    return out


def json_event(schema: str, table: str, ev: tuple, ts_us: int) -> str:
    """One newline-JSON spool line in the raw wire schema."""
    op, key, before, after = ev

    def img(row):
        if row is None:
            return None
        return json.dumps({"id": key, "amount": row[0], "name": row[1]})

    return json.dumps({"schema": schema, "table": table, "action": op,
                       "before": img(before), "after": img(after),
                       "event_unixtime": ts_us})


# -- wire encoders -------------------------------------------------------------

BASE_S = 1_700_000_000  # first event second of a replay


def write_binlog(path: str, db: str, table: str, batch, batch_no: int) -> None:
    """One binlog file for one batch. Header timestamps advance one second
    per 5,000 rows and 1,000 s per batch, so the decoder's per-second
    sub-counter keeps write order across files."""
    from synch_spark.sources import binlog_file as B
    from tests.binlog_builder import BinlogBuilder

    cols = [("id", B.T_LONG, 0), ("amount", B.T_NEWDECIMAL, (10 << 8) | 2),
            ("name", B.T_VARCHAR, 64)]
    b = BinlogBuilder(timestamp=BASE_S + 1000 * batch_no)
    b.table_map(7, db, table, cols, names_tlv=True)
    for i, (op, key, before, after) in enumerate(batch):
        b.ts = BASE_S + 1000 * batch_no + i // 5000
        if op == "insert":
            b.insert(7, (key, *after))
        elif op == "delete":
            b.delete(7, (key, *before))
        else:
            b.update(7, ((key, *before), (key, *after)))
    with open(path, "wb") as f:
        f.write(b.bytes())


def write_pgoutput(path: str, db: str, table: str, batch, batch_no: int) -> None:
    """One pgoutput frame file: a Relation, then one transaction per
    change with its own microsecond commit stamp (REPLICA IDENTITY
    DEFAULT: deletes carry the key only)."""
    from synch_spark.sources import pgoutput as po
    from tests.test_pgoutput import (enc_begin, enc_commit, enc_delete,
                                     enc_insert, enc_relation, enc_update)

    rid = 16400
    payloads = [enc_relation(rid, db, table, [(1, "id", 20, -1),
                                              (0, "amount", 1700, -1),
                                              (0, "name", 25, -1)])]
    t0 = (BASE_S + 1000 * batch_no) * 1_000_000
    for i, (op, key, before, after) in enumerate(batch):
        payloads.append(enc_begin(t0 + i, xid=batch_no * 1_000_000 + i + 1))
        if op == "insert":
            payloads.append(enc_insert(rid, [str(key), *after]))
        elif op == "delete":
            payloads.append(enc_delete(rid, [str(key), None, None]))
        else:
            payloads.append(enc_update(rid, [str(key), *after]))
        payloads.append(enc_commit())
    po.write_pgoutput_frames(path, payloads)


def avro_schema(db: str, table: str) -> dict:
    from pyspark.sql import types as T

    from synch_spark.sources import avro_codec

    struct = T.StructType([T.StructField("id", T.LongType()),
                           T.StructField("amount", T.DecimalType(10, 2)),
                           T.StructField("name", T.StringType())])
    return avro_codec.debezium_envelope_schema(struct, db, table)


def write_avro(path: str, db: str, table: str, batch, batch_no: int,
               schema: dict, schema_id: int) -> None:
    """One parquet file of Confluent-framed Debezium-Avro values with the
    wire position in ``offset`` (the order column a Kafka source would
    carry)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from synch_spark.sources import avro_codec

    def img(key, row):
        if row is None:
            return None
        return {"id": key, "amount": Decimal(row[0]), "name": row[1]}

    t0 = (BASE_S + 1000 * batch_no) * 1_000_000
    values, offsets = [], []
    for i, (op, key, before, after) in enumerate(batch):
        us = t0 + i
        env = {"before": img(key, before), "after": img(key, after),
               "source": {"db": db, "table": table, "ts_ms": us // 1000,
                          "ts_us": us},
               "op": {"insert": "c", "update": "u", "delete": "d"}[op],
               "ts_ms": None}
        values.append(avro_codec.confluent_frame(
            schema_id, avro_codec.avro_encode(env, schema)))
        offsets.append(batch_no * 1_000_000 + i)
    pq.write_table(pa.table({"value": pa.array(values, pa.binary()),
                             "offset": pa.array(offsets, pa.int64())}), path)


# -- analytic tables -------------------------------------------------------------

_WORDS = ("a the data table query spark join merge scan filter sort group "
          "window stream batch row column key value part line order "
          "customer agg hash fast slow big small vector").split()
_ZH = "数据 表 查询 流 批 行 列 键 值 合并".split()
_DE = "und der die das ist nicht ein eine mit von".split()
_FR = "le la les est une des avec pour dans sur".split()
_ES = "el la los es una con para por del las".split()


def write_tables(out_dir: str, seed: int, scale: float) -> dict:
    """TPC-H-shaped tables plus events, documents and embeddings, with
    the fixture schemas the registered queries read. ``scale`` is the
    TPC-H scale factor (lineitem ~ 6,000,000 x scale rows)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rs = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(150, int(150_000 * scale))
    n_supp = max(20, int(10_000 * scale))
    n_part = max(200, int(200_000 * scale))
    n_ord = max(1500, int(1_500_000 * scale))
    n_line = max(6000, int(6_000_000 * scale))
    n_events = max(1000, int(1_000_000 * scale))
    n_docs = max(100, int(50_000 * scale))
    n_vecs = max(100, int(50_000 * scale))

    def money(lo, hi, n):
        return np.round(rs.uniform(lo, hi, n), 2)

    def days(start: dt.date, span: int, n):
        base = np.datetime64(start.isoformat(), "us")
        return base + rs.integers(0, span, n).astype("timedelta64[D]")

    def choice(options, n):
        return pa.array(np.asarray(options, dtype=object)[rs.integers(0, len(options), n)],
                        pa.string())

    tables = {}
    tables["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    tables["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rs.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                "HOUSEHOLD", "MACHINERY"], n_cust)})
    tables["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rs.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": money(-999.99, 9999.99, n_supp)})
    adjs = ["blue", "old", "hot", "large", "cold", "red", "small", "new"]
    nouns = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "anvil", "rod"]
    tables["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{adjs[a]} {nouns[b]}" for a, b in
                   zip(rs.integers(0, 8, n_part), rs.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rs.integers(1, 26, n_part)],
        "p_type": choice(["ECONOMY", "STANDARD", "LARGE", "PROMO", "SMALL",
                          "MEDIUM"], n_part),
        "p_size": rs.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2)})
    odate = days(dt.date(1995, 1, 1), 2404, n_ord)
    tables["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rs.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": choice(["F", "O", "P"], n_ord),
        "o_totalprice": money(1000, 500000, n_ord),
        "o_orderdate": pa.array(odate, pa.timestamp("us")),
        "o_orderpriority": choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                   "4-NOT SPECIFIED", "5-LOW"], n_ord)})
    l_order = rs.integers(0, n_ord, n_line).astype(np.int64)
    tables["lineitem"] = pa.table({
        "l_orderkey": l_order,
        "l_partkey": rs.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rs.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": rs.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rs.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": money(900, 105000, n_line),
        "l_discount": np.round(rs.integers(0, 11, n_line) / 100, 2),
        "l_tax": np.round(rs.integers(0, 9, n_line) / 100, 2),
        "l_returnflag": choice(["A", "N", "R"], n_line),
        "l_linestatus": choice(["F", "O"], n_line),
        "l_shipdate": pa.array(odate[l_order] + rs.integers(
            1, 122, n_line).astype("timedelta64[D]"), pa.timestamp("us"))})
    ev_ts = np.sort(np.datetime64("2024-01-01T00:00:00", "us") + rs.integers(
        0, 30 * 86_400_000_000, n_events).astype("timedelta64[us]"))
    tables["events"] = pa.table({
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": pa.array(ev_ts, pa.timestamp("us")),
        "user_id": rs.integers(0, max(50, n_events // 66), n_events).astype(np.int64),
        "event_type": choice(["click", "signup", "error", "view", "purchase"],
                             n_events),
        "value": money(0.01, 490.0, n_events),
        "props": [json.dumps({"k": int(k)}) for k in rs.integers(0, 100, n_events)]})
    langs = rs.choice(["en", "zh", "de", "fr", "es"], n_docs,
                      p=[0.44, 0.14, 0.14, 0.14, 0.14])
    vocab = {"en": _WORDS, "zh": _ZH + _WORDS, "de": _DE + _WORDS,
             "fr": _FR + _WORDS, "es": _ES + _WORDS}
    texts = []
    for i, lang in enumerate(langs):
        if i >= 10 and rs.random() < 0.1:  # exact and near duplicates
            src = texts[int(rs.integers(0, i))]
            if rs.random() < 0.5:
                words = src.split()
                words[int(rs.integers(0, len(words)))] = str(rs.choice(vocab[lang]))
                src = " ".join(words)
            texts.append(src)
            continue
        n = int(rs.integers(8, 80))
        texts.append(" ".join(rs.choice(vocab[lang], n)))
    tables["documents"] = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": pa.array(langs.astype(object), pa.string()),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    centers = rs.normal(0, 1, (10, 64))
    labels = rs.integers(0, 10, n_vecs)
    vecs = centers[labels] + rs.normal(0, 0.6, (n_vecs, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    tables["embeddings"] = pa.table({
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": labels.astype(np.int32)})
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}
