"""Seeded input generators for the benchmark.

Every table has the schema of the TPC-H-like fixture the queries in
`__spark_entry__` were written against (`region nation customer
supplier part orders lineitem events documents embeddings`), with the
same column types and value ranges. The same seed always gives the
same bytes of data; nothing is read from outside the output directory.

Documents are 10-40 words long (the fixture's run to 100). The DuckDB
oracles of the shingle queries build each document's trigram list with
an expression whose cost grows with the square of the document's
length; at the fixture's lengths the 16 curation oracles took over two
minutes for 5,000 documents, more than a per-run check can afford.
Words come from a 400-word vocabulary (the fixture has 31), so
accidental shared trigrams are rare and the near-duplicate pairs are
the planted ones.
"""

from __future__ import annotations

import os
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Row counts of the sf0.1 fixture.
SF01_ROWS = {
    "customer": 15_000, "supplier": 1_000, "part": 20_000,
    "orders": 150_000, "lineitem": 600_000, "events": 100_000,
}

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "red", "hot", "new", "large", "small", "old", "green"]
PART_NOUN = ["bolt", "ring", "rod", "plate", "anvil", "gear", "nut", "pipe"]
EVENT_TYPES = ["view", "click", "signup", "purchase", "error"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]

_SYLL = ["ka", "lo", "mi", "ne", "ru", "sa", "ti", "vo", "ze", "pa",
         "do", "gu", "ha", "je", "bi", "fo", "ly", "ny", "qu", "wa"]
# The fixture's own domain words, then two-syllable pseudo-words.
VOCAB = ("spark line small fast group customer query row stream the part "
         "column order scan a slow agg key window table merge vector join "
         "batch sort value hash filter big data").split()
VOCAB += [a + b for a in _SYLL for b in _SYLL][: 400 - len(VOCAB)]

EMBED_DIM = 64
DAY_US = 86_400_000_000


def _us(y: int, m: int, d: int) -> int:
    return int((datetime(y, m, d) - datetime(1970, 1, 1)).total_seconds()) * 1_000_000


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out_dir: str, name: str, cols: dict) -> None:
    table = pa.table(cols)
    # One row group per file, as in the fixture.
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"),
                   row_group_size=max(1, table.num_rows))


def _rng(seed: int, stream: str) -> np.random.Generator:
    """Independent stream per table, so changing one generator never
    shifts another table's data."""
    return np.random.default_rng([seed, sum(map(ord, stream)), len(stream)])


def write_dimensions(out_dir: str, seed: int) -> None:
    rng = _rng(seed, "dims")
    _write(out_dir, "region", {
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": REGIONS})
    nk = np.arange(25)
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(nk, pa.int32()),
        "n_name": [f"NATION_{i}" for i in nk],
        "n_regionkey": pa.array(nk % 5, pa.int32())})
    n = SF01_ROWS["customer"]
    _write(out_dir, "customer", {
        "c_custkey": np.arange(n, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n)]})
    n = SF01_ROWS["supplier"]
    _write(out_dir, "supplier", {
        "s_suppkey": np.arange(n, dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n)})
    n = SF01_ROWS["part"]
    keys = np.arange(n, dtype="int64")
    names = np.char.add(np.char.add(np.array(PART_ADJ)[rng.integers(0, 8, n)], " "),
                        np.array(PART_NOUN)[rng.integers(0, 8, n)])
    _write(out_dir, "part", {
        "p_partkey": keys,
        "p_name": names,
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n).astype(str)),
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n)],
        "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
        "p_retailprice": np.round(900.0 + (keys % 1000) * 0.1, 1)})


def write_facts(out_dir: str, seed: int) -> None:
    """`orders`, `lineitem` and `events` at their sf0.1 row counts."""
    rng = _rng(seed, "facts")
    no, nl = SF01_ROWS["orders"], SF01_ROWS["lineitem"]
    d0, d1 = _us(1995, 1, 1), _us(2001, 8, 1)
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(no, dtype="int64"),
        "o_custkey": rng.integers(0, SF01_ROWS["customer"], no),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, no)],
        "o_totalprice": _money(rng, 1000.0, 500_000.0, no),
        "o_orderdate": _ts(d0 + rng.integers(0, (d1 - d0) // DAY_US + 1, no) * DAY_US),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, no)]})
    s0, s1 = _us(1995, 1, 2), _us(2001, 11, 4)
    _write(out_dir, "lineitem", {
        "l_orderkey": rng.integers(0, no, nl),
        "l_partkey": rng.integers(0, SF01_ROWS["part"], nl),
        "l_suppkey": rng.integers(0, SF01_ROWS["supplier"], nl),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": rng.integers(1, 51, nl).astype("float64"),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, nl),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, nl)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, nl)],
        "l_shipdate": _ts(s0 + rng.integers(0, (s1 - s0) // DAY_US + 1, nl) * DAY_US)})
    ne = SF01_ROWS["events"]
    # Gaps of ~26 s spread the events over January 2024, with ts unique
    # and increasing with event_id.
    gaps = np.maximum(1, rng.exponential(25_900_000, ne).astype("int64"))
    _write(out_dir, "events", {
        "event_id": np.arange(ne, dtype="int64"),
        "ts": _ts(_us(2024, 1, 1) + np.cumsum(gaps)),
        "user_id": rng.integers(0, 1_500, ne),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, ne)],
        "value": np.round(rng.exponential(50.0, ne), 2),
        "props": np.char.add(np.char.add('{"k": ', rng.integers(0, 100, ne).astype(str)), "}")})


def doc_texts(rng: np.random.Generator, n: int) -> list[str]:
    """`n` documents of 10-40 words; 5% are a copy of an earlier
    document plus the word ``dup`` (near-duplicates) and 0.2% are exact
    copies of an earlier document."""
    vocab = np.array(VOCAB)
    lens = rng.integers(10, 41, n)
    words = vocab[rng.integers(0, len(vocab), int(lens.sum()))]
    ends = np.cumsum(lens)
    texts = [" ".join(words[e - k:e]) for e, k in zip(ends, lens)]
    kind = rng.random(n)
    src = rng.integers(0, np.maximum(1, np.arange(n)))
    for i in range(1, n):
        if kind[i] < 0.05:
            texts[i] = texts[src[i]] + " dup"
        elif kind[i] < 0.052:
            texts[i] = texts[src[i]]
    return texts


def write_corpus(out_dir: str, seed: int, n_docs: int, n_vecs: int) -> None:
    """`documents` and `embeddings`, each with its rows in a
    seed-permuted order."""
    rng = _rng(seed, "corpus")
    texts = doc_texts(rng, n_docs)
    ids = np.arange(n_docs, dtype="int64")
    order = rng.permutation(n_docs)
    _write(out_dir, "documents", {
        "doc_id": ids[order],
        "text": [texts[i] for i in order],
        "lang": np.array(LANGS)[rng.choice(5, n_docs, p=LANG_P)][order],
        "source": np.char.add("src", (ids % 20).astype(str))[order],
        "n_chars": np.array([len(texts[i]) for i in order], dtype="int64")})
    vecs = rng.standard_normal((n_vecs, EMBED_DIM)).astype("float32")
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    order = rng.permutation(n_vecs)
    _write(out_dir, "embeddings", {
        "vec_id": np.arange(n_vecs, dtype="int64")[order],
        "embedding": pa.array(list(vecs[order]), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vecs)[order], pa.int32())})
