"""Seeded input generator for the benchmark workloads.

Every input is a pure function of the workload seed: the same seed gives
identical tables.  Nothing here touches Spark; callers write the
returned Arrow tables to parquet or turn the row tuples into SQL.
"""

from __future__ import annotations

import datetime as dt

import numpy as np
import pyarrow as pa

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
STOP = ["the", "a", "and", "of", "to", "in", "is", "it", "that", "for"]
# content words: letters only, so the word-token and whitespace-token
# counts of functions.text agree with the DuckDB oracle
VOCAB = [
    f"{a}{b}{c}"
    for a in ("ba", "ko", "mi", "tu", "re", "sa", "lo", "ve")
    for b in ("rn", "st", "ld", "mp", "nk")
    for c in ("a", "o", "ix", "er", "um")
]
EPOCH_1995 = np.datetime64("1995-01-01", "us")
EPOCH_2024 = np.datetime64("2024-01-01", "us")
DAY_US = 86_400_000_000


def _ts(base: np.datetime64, offsets_us: np.ndarray) -> pa.Array:
    return pa.array(base + offsets_us.astype("timedelta64[us]"), pa.timestamp("us"))


def _text(rng: np.random.Generator, n_words: int) -> str:
    words = rng.choice(VOCAB, n_words)
    stops = rng.random(n_words) < 0.25
    words[stops] = rng.choice(STOP, int(stops.sum()))
    return " ".join(words)


def analytics_tables(seed: int, scale: float) -> dict[str, pa.Table]:
    """The star schema plus events/documents/embeddings the analytics
    queries read.  ``scale`` 1.0 is 15k orders (~60k lineitem rows)."""
    rng = np.random.default_rng([seed, 1])
    n_cust = max(50, int(1500 * scale))
    n_supp = max(10, int(100 * scale))
    n_part = max(50, int(2000 * scale))
    n_ord = max(200, int(15000 * scale))
    n_ev = max(500, int(10000 * scale))
    n_doc = max(100, int(500 * scale))
    n_emb = max(100, int(500 * scale))

    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust),
    })
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    })
    t["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{VOCAB[i % len(VOCAB)]} {VOCAB[(i * 7) % len(VOCAB)]}" for i in range(n_part)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(["ECONOMY", "STANDARD", "PROMO", "LARGE"], n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(rng.uniform(900, 2100, n_part), 2),
    })
    order_day = rng.integers(0, 2404, n_ord)  # 1995-01-01 .. 2001-08-01
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": np.round(rng.uniform(1000, 500000, n_ord), 2),
        "o_orderdate": _ts(EPOCH_1995, order_day * DAY_US),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord),
    })
    lines = rng.integers(1, 8, n_ord)
    okey = np.repeat(np.arange(n_ord, dtype=np.int64), lines)
    n_li = len(okey)
    lineno = np.concatenate([np.arange(1, k + 1) for k in lines]).astype(np.int32)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    ship_day = np.repeat(order_day, lines) + rng.integers(1, 122, n_li)
    t["lineitem"] = pa.table({
        "l_orderkey": okey,
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": lineno,
        "l_quantity": qty,
        # whole-hundred prices keep every price * (1 - disc) * (1 + tax)
        # at two decimals or fewer, so round(sum(...), 2) never lands on
        # a half-cent tie that float summation order could tip either way
        "l_extendedprice": qty * rng.integers(9, 22, n_li) * 100.0,
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["O", "F"], n_li),
        "l_shipdate": _ts(EPOCH_1995, ship_day * DAY_US),
    })
    ev_us = np.sort(rng.integers(0, 30 * DAY_US, n_ev))
    t["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": _ts(EPOCH_2024, ev_us),
        "user_id": rng.integers(0, 150, n_ev).astype(np.int64),
        "event_type": rng.choice(EVENT_TYPES, n_ev),
        "value": np.round(rng.uniform(0.01, 490.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    docs = corpus_texts(rng, n_doc, exact_share=0.05, near_share=0.05)
    t["documents"] = pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": docs,
        "lang": rng.choice(["en", "de", "fr", "es", "zh"], n_doc),
        "source": [f"src{s}" for s in rng.integers(0, 20, n_doc)],
        "n_chars": np.array([len(d) for d in docs], dtype=np.int64),
    })
    centers = rng.normal(0, 1, (10, 64))
    label = rng.integers(0, 10, n_emb)
    emb = (centers[label] + rng.normal(0, 0.3, (n_emb, 64))).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": label.astype(np.int32),
    })
    return t


def corpus_texts(
    rng: np.random.Generator,
    n: int,
    exact_share: float,
    near_share: float,
    junk_share: float = 0.0,
) -> list[str]:
    """``n`` documents: fresh random texts, plus exact copies and near
    copies (one word appended, word-3-gram Jaccard above 0.95) of
    EARLIER documents, and ``junk_share`` low-quality texts (a single
    word repeated) that a type-token-ratio gate drops.  Fresh texts
    draw from a vocabulary large enough that two of them share almost
    no 3-grams, so near and distinct documents are far apart."""
    kinds = rng.choice(
        4, n, p=[1 - exact_share - near_share - junk_share,
                 exact_share, near_share, junk_share],
    )
    kinds[0] = 0
    out: list[str] = []
    for i, k in enumerate(kinds):
        if k == 1:
            out.append(out[int(rng.integers(0, i))])
        elif k == 2:
            out.append(out[int(rng.integers(0, i))] + " " + str(rng.choice(VOCAB)))
        elif k == 3:
            out.append(" ".join([str(rng.choice(VOCAB))] * int(rng.integers(30, 60))))
        else:
            out.append(_text(rng, int(rng.integers(40, 90))))
    return out


def curate_corpus(seed: int, n_docs: int) -> pa.Table:
    """The stream_curate corpus: 8% exact copies, 8% near copies and 5%
    junk, with a strictly increasing ``doc_id`` (the stream's update
    column) and an event-time column spread over two days."""
    rng = np.random.default_rng([seed, 2])
    texts = corpus_texts(rng, n_docs, exact_share=0.08, near_share=0.08, junk_share=0.05)
    ts_us = np.sort(rng.integers(0, 2 * DAY_US, n_docs))
    return pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "ts": _ts(EPOCH_2024, ts_us),
        "source": [f"src{s}" for s in rng.integers(0, 8, n_docs)],
    })


class IngestSource:
    """Row stream for one Derby source table of the ingest workload.

    ``upd`` (the update column) rises strictly across every row ever
    generated for the table, so each new backlog sits above the
    previous watermark.  Rows are ``(id, upd, kind, amount, created_at)``."""

    def __init__(self, seed: int, index: int):
        self.rng = np.random.default_rng([seed, 3, index])
        self.index = index
        self.next_id = 0
        self.next_upd = 0

    def rows(self, n: int) -> list[tuple]:
        gaps = self.rng.integers(1, 4, n)
        upd = self.next_upd + np.cumsum(gaps)
        kinds = self.rng.choice(EVENT_TYPES, n)
        amounts = np.round(self.rng.uniform(0.01, 999.0, n), 2)
        base = dt.datetime(2024, 1, 1)
        rows = [
            (
                self.next_id + i,
                int(upd[i]),
                str(kinds[i]),
                float(amounts[i]),
                base + dt.timedelta(seconds=int(upd[i])),
            )
            for i in range(n)
        ]
        self.next_id += n
        self.next_upd = int(upd[-1])
        return rows
