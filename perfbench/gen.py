"""Seeded input generator for the benchmark.

``base_tables`` writes the ten tables the registry reads (region, nation,
customer, supplier, part, orders, lineitem, events, documents, embeddings),
one parquet file each, with the column names and types of the test data the
queries were written against: a TPC-H-shaped star schema with independent
uniform columns, an event stream with exponential inter-arrival times, a
30-word document corpus in which 5% of the documents are near-duplicates of
another one (the source text plus a trailing " dup" token), and unit-norm
64-dimensional embeddings.

``scaled_corpus`` is the copy transform of ``tools/make_scaled_sf.py`` with
seeded choices: every copy gets its own numeric token marker (so no
near-duplicate pair crosses copies, and the markers still split away under
``[^a-z]+``), its own set of flipped embedding dimensions (an orthogonal
transform: within-copy cosines are unchanged, cross-copy ones scramble), and
key offsets by a fixed stride (so joins within a copy still hold).

``frame_samples`` draws the seeded row samples the ``frame_io`` workload
writes and reads back.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

KEY_STRIDE = 10_000_000
NULLABLE = {"orders": ("o_totalprice", "o_orderpriority"), "customer": ("c_acctbal",)}

WORDS = (
    "spark window merge table column vector stream value data small join filter "
    "big group hash customer sort order slow line part fast row the agg key query "
    "a scan batch"
).split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
EMB_DIM = 64


def _days(start: str, n_days: int, rng: np.random.Generator, n: int) -> np.ndarray:
    base = np.datetime64(start, "us")
    return base + rng.integers(0, n_days, n).astype("timedelta64[D]").astype("timedelta64[us]")


def _write(out_dir: str, name: str, cols: dict, schema: pa.Schema) -> None:
    table = pa.Table.from_pydict(cols, schema=schema)
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def _embedding_array(vectors: np.ndarray) -> pa.Array:
    n, dim = vectors.shape
    offsets = pa.array(np.arange(0, n * dim + 1, dim, dtype=np.int32))
    return pa.ListArray.from_arrays(offsets, pa.array(vectors.reshape(-1), pa.float32()))


def base_tables(out_dir: str, sf: float, seed: int) -> None:
    """Write the ten tables at scale ``sf`` (0.1 gives 600k lineitem rows)."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    ts = pa.timestamp("us")
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = int(50_000 * sf), int(20_000 * sf)

    _write(out_dir, "region", {"r_regionkey": list(range(5)), "r_name": REGIONS},
           pa.schema([("r_regionkey", i32), ("r_name", s)]))
    _write(out_dir, "nation",
           {"n_nationkey": list(range(25)), "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": [i % 5 for i in range(25)]},
           pa.schema([("n_nationkey", i32), ("n_name", s), ("n_regionkey", i32)]))
    _write(out_dir, "customer",
           {"c_custkey": np.arange(n_cust),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
            "c_mktsegment": rng.choice(SEGMENTS, n_cust)},
           pa.schema([("c_custkey", i64), ("c_name", s), ("c_nationkey", i32),
                      ("c_acctbal", f64), ("c_mktsegment", s)]))
    _write(out_dir, "supplier",
           {"s_suppkey": np.arange(n_supp),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)},
           pa.schema([("s_suppkey", i64), ("s_name", s), ("s_nationkey", i32),
                      ("s_acctbal", f64)]))
    keys = np.arange(n_part)
    _write(out_dir, "part",
           {"p_partkey": keys,
            "p_name": np.char.add(np.char.add(rng.choice(ADJ, n_part), " "),
                                  rng.choice(NOUN, n_part)),
            "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
            "p_type": rng.choice(P_TYPES, n_part),
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": 900.0 + (keys % 1000) / 10.0},
           pa.schema([("p_partkey", i64), ("p_name", s), ("p_brand", s), ("p_type", s),
                      ("p_size", i32), ("p_retailprice", f64)]))
    _write(out_dir, "orders",
           {"o_orderkey": np.arange(n_ord),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
            "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
            "o_orderdate": _days("1995-01-01", 2405, rng, n_ord),
            "o_orderpriority": rng.choice(PRIORITIES, n_ord)},
           pa.schema([("o_orderkey", i64), ("o_custkey", i64), ("o_orderstatus", s),
                      ("o_totalprice", f64), ("o_orderdate", ts), ("o_orderpriority", s)]))
    _write(out_dir, "lineitem",
           {"l_orderkey": rng.integers(0, n_ord, n_line),
            "l_partkey": rng.integers(0, n_part, n_line),
            "l_suppkey": rng.integers(0, n_supp, n_line),
            "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, n_line), 2),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n_line),
            "l_linestatus": rng.choice(["F", "O"], n_line),
            "l_shipdate": _days("1995-01-02", 2499, rng, n_line)},
           pa.schema([("l_orderkey", i64), ("l_partkey", i64), ("l_suppkey", i64),
                      ("l_linenumber", i32), ("l_quantity", f64), ("l_extendedprice", f64),
                      ("l_discount", f64), ("l_tax", f64), ("l_returnflag", s),
                      ("l_linestatus", s), ("l_shipdate", ts)]))
    gaps_us = rng.exponential(30 * 86400e6 / max(n_ev, 1), n_ev).astype(np.int64)
    _write(out_dir, "events",
           {"event_id": np.arange(n_ev),
            "ts": np.datetime64("2024-01-01", "us") + np.cumsum(gaps_us).astype("timedelta64[us]"),
            "user_id": rng.integers(0, max(int(15_000 * sf), 1), n_ev),
            "event_type": rng.choice(EVENT_TYPES, n_ev),
            "value": np.round(rng.exponential(50.0, n_ev), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]},
           pa.schema([("event_id", i64), ("ts", ts), ("user_id", i64), ("event_type", s),
                      ("value", f64), ("props", s)]))
    texts: list[str] = []
    for i in range(n_doc):
        if i > 20 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 20 and rng.random() < 0.002:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(10, 101)))))
    _write(out_dir, "documents",
           {"doc_id": np.arange(n_doc), "text": texts,
            "lang": rng.choice(LANGS, n_doc, p=LANG_P),
            "source": [f"src{i % 20}" for i in range(n_doc)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64)},
           pa.schema([("doc_id", i64), ("text", s), ("lang", s), ("source", s),
                      ("n_chars", i64)]))
    vecs = rng.standard_normal((n_emb, EMB_DIM)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(out_dir, "embeddings",
           {"vec_id": np.arange(n_emb), "embedding": _embedding_array(vecs),
            "label": rng.integers(0, 10, n_emb).astype(np.int32)},
           pa.schema([("vec_id", i64), ("embedding", pa.list_(pa.float32())),
                      ("label", i32)]))


def scaled_corpus(src_dir: str, out_dir: str, copies: int, seed: int) -> None:
    """Write ``copies`` transformed copies of ``documents`` and ``embeddings``
    (the only tables the ``llm_pipeline`` mix reads)."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    markers = rng.choice(np.arange(10, 100), copies, replace=False)
    docs = pq.read_table(os.path.join(src_dir, "documents.parquet"))
    parts = []
    for i, m in enumerate(markers):
        text = pc.replace_substring(docs["text"], " ", f" k{m}")
        parts.append(docs.set_column(0, "doc_id", pc.add(docs["doc_id"], i * KEY_STRIDE))
                     .set_column(1, "text", text))
    pq.write_table(pa.concat_tables(parts), os.path.join(out_dir, "documents.parquet"))

    emb = pq.read_table(os.path.join(src_dir, "embeddings.parquet"))
    vecs = np.stack(emb["embedding"].to_numpy(zero_copy_only=False)).astype(np.float32)
    parts = []
    for i in range(copies):
        flips = np.where(rng.random(EMB_DIM) < 0.2, -1.0, 1.0).astype(np.float32)
        parts.append(emb.set_column(0, "vec_id", pc.add(emb["vec_id"], i * KEY_STRIDE))
                     .set_column(1, "embedding", _embedding_array(vecs * flips)))
    pq.write_table(pa.concat_tables(parts), os.path.join(out_dir, "embeddings.parquet"))


def frame_samples(src_dir: str, out_dir: str, seed: int, rows: dict[str, int]) -> None:
    """Seeded row samples (``rows``: table → row count), kept in file order,
    with 2% of the cells of some columns set to null (for ``fillna``,
    ``dropna`` and the Excel writer's null cells to act on)."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    for name, n in rows.items():
        t = pq.read_table(os.path.join(src_dir, f"{name}.parquet"))
        t = t.take(pa.array(np.sort(rng.choice(t.num_rows, min(n, t.num_rows), replace=False))))
        for col in NULLABLE.get(name, ()):
            mask = pa.array(rng.random(t.num_rows) < 0.02)
            t = t.set_column(t.schema.get_field_index(col), col,
                             pc.if_else(mask, pa.scalar(None, t[col].type), t[col]))
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
