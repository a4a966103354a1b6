"""Seeded input generator for the benchmark.

Writes parquet tables with the lake's schema (the TPC-H-like star schema,
`events`, `documents` and `embeddings`) from a numpy seed, so the same seed
gives byte-identical files and another seed gives other files. Value domains
follow the lake the registry queries were written against: the same region,
segment, brand, type, priority, flag and event-type vocabularies, the same key
ranges per scale factor, and the same date windows.

`corpus()` writes the `documents.parquet` that the RAG refresh reads; its size
and near-duplicate share are inputs.
"""
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()
WORDS = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()
LANGS = np.array(["en", "zh", "es", "fr", "de"])
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = np.array(["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"])
ADJ = np.array("blue cold hot large new old red small".split())
NOUN = np.array("anvil bolt gear gizmo plate ring rod widget".split())
TYPES = np.array(["LARGE", "MEDIUM", "ECONOMY", "PROMO", "SMALL", "STANDARD"])
STATUS = np.array(["P", "O", "F"])
PRIORITY = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
EVENT_TYPES = np.array(["signup", "purchase", "view", "click", "error"])
DAY_US = 86_400_000_000
EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _write(table: pa.Table, path: Path) -> None:
    # pyarrow writes no clock or host data into the file: the bytes are a
    # pure function of the table, so a seed gives byte-identical parquet
    pq.write_table(table, path, compression="snappy")


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"), type=pa.timestamp("us"))


def _texts(rng: np.random.Generator, n: int, min_words: int, max_words: int):
    lens = rng.integers(min_words, max_words + 1, n)
    words = rng.integers(0, len(WORDS), int(lens.sum()))
    out, i = [], 0
    for ln in lens:
        out.append(" ".join(WORDS[w] for w in words[i:i + ln]))
        i += ln
    return out


def _documents(rng: np.random.Generator, n: int, dup_share: float,
               min_words: int = 10, max_words: int = 100) -> pa.Table:
    """`n` documents; a `dup_share` of them are near-duplicates: the text of an
    earlier document with one token appended, as in the lake's corpus."""
    texts = _texts(rng, n, min_words, max_words)
    n_dup = int(round(n * dup_share))
    if n_dup and n > 1:
        dup_ids = rng.choice(np.arange(1, n), size=min(n_dup, n - 1), replace=False)
        for d in np.sort(dup_ids):
            texts[d] = texts[int(rng.integers(0, d))] + " dup"
    ids = np.arange(n, dtype=np.int64)
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(LANGS, n, p=LANG_P)),
        "source": pa.array([f"src{i % 20}" for i in ids], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def tables(out: Path, seed: int, sf: float = 0.1) -> None:
    """The ten lake tables at scale factor `sf` (sf0.1: 600k lineitem rows)."""
    rng = np.random.default_rng(seed)
    out.mkdir(parents=True, exist_ok=True)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line = int(1_500_000 * sf), int(6_000_000 * sf)
    n_ev, n_doc, n_emb = int(1_000_000 * sf), int(50_000 * sf), int(20_000 * sf)
    i32 = pa.int32()

    _write(pa.table({"r_regionkey": pa.array(range(5), i32),
                     "r_name": pa.array(REGIONS)}), out / "region.parquet")
    _write(pa.table({"n_nationkey": pa.array(range(25), i32),
                     "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                     "n_regionkey": pa.array([i % 5 for i in range(25)], i32)}),
           out / "nation.parquet")
    _write(pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust, dtype=np.int32)),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_cust), 2)),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, n_cust)),
    }), out / "customer.parquet")
    _write(pa.table({
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp, dtype=np.int32)),
        "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)),
    }), out / "supplier.parquet")
    pk = np.arange(n_part, dtype=np.int64)
    _write(pa.table({
        "p_partkey": pa.array(pk),
        "p_name": pa.array(np.char.add(np.char.add(rng.choice(ADJ, n_part), " "),
                                       rng.choice(NOUN, n_part))),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(rng.choice(TYPES, n_part)),
        "p_size": pa.array(rng.integers(1, 51, n_part, dtype=np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + (pk % 1000) / 10.0, 2)),
    }), out / "part.parquet")
    _write(pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord, dtype=np.int64)),
        "o_orderstatus": pa.array(rng.choice(STATUS, n_ord)),
        "o_totalprice": pa.array(np.round(rng.uniform(1000.0, 500_000.0, n_ord), 2)),
        "o_orderdate": _ts(EPOCH_1995 + rng.integers(0, 2404, n_ord) * DAY_US),
        "o_orderpriority": pa.array(rng.choice(PRIORITY, n_ord)),
    }), out / "orders.parquet")
    _write(pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line, dtype=np.int64)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line, dtype=np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line, dtype=np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64)),
        "l_extendedprice": pa.array(np.round(rng.uniform(900.0, 105_000.0, n_line), 2)),
        "l_discount": pa.array(np.round(rng.uniform(0.0, 0.1, n_line), 2)),
        "l_tax": pa.array(np.round(rng.uniform(0.0, 0.08, n_line), 2)),
        "l_returnflag": pa.array(rng.choice(np.array(["N", "R", "A"]), n_line)),
        "l_linestatus": pa.array(rng.choice(np.array(["F", "O"]), n_line)),
        "l_shipdate": _ts(EPOCH_1995 + (1 + rng.integers(0, 2499, n_line)) * DAY_US),
    }), out / "lineitem.parquet")
    ev_ts = np.sort(EPOCH_2024 + rng.integers(0, 30 * DAY_US, n_ev))
    _write(pa.table({
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": _ts(ev_ts),
        "user_id": pa.array(rng.integers(0, max(1, int(15_000 * sf)), n_ev, dtype=np.int64)),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n_ev)),
        "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
    }), out / "events.parquet")
    _write(_documents(rng, n_doc, 0.05), out / "documents.parquet")
    emb = rng.standard_normal((n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    _write(pa.table({
        "vec_id": pa.array(np.arange(n_emb, dtype=np.int64)),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb, dtype=np.int32)),
    }), out / "embeddings.parquet")


def corpus(out: Path, seed: int, n_docs: int, dup_share: float) -> None:
    """The RAG refresh corpus: `n_docs` documents, `dup_share` near-duplicates."""
    out.mkdir(parents=True, exist_ok=True)
    _write(_documents(np.random.default_rng(seed), n_docs, dup_share),
           out / "documents.parquet")
