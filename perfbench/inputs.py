"""Seeded input generator for the benchmark.

``write_base`` writes the ten catalog tables the engine reads (``tables.py``)
at the sf0.1 shape of the repository's test catalog: the same schemas,
row counts, value ranges and categorical domains, and the same near-duplicate
structure in ``documents`` (5% of documents are an earlier document plus a
trailing `` dup`` token, a few are exact copies). Every column is drawn from
one ``numpy`` generator, so a seed gives byte-identical parquet files.

``write_curation`` derives the x4 curation corpus from a base directory:
copy 0 is the original, and each further copy gets its own transform chosen
by the workload seed. Documents get a vowel-to-digit rewrite whose digit for
every vowel differs from every other copy's, and embeddings get a sign mask
that differs from every other copy's in at least a quarter of the dimensions.
Copies that shared a transform would be exact duplicates of each other and
multiply the near-duplicate output instead of replicating it per copy.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)
CURATION_COPIES = 4
_ID_STRIDE = 10_000_000  # doc_id / vec_id offset of each derived copy
_VOWELS = "aeiou"
_DIM = 64
_WORDS = (
    "a the data row column table key value query scan filter join group agg "
    "sort order hash merge window stream batch vector spark fast slow big "
    "small part line customer"
).split()
_DAY_US = 86_400_000_000


def _days_since_epoch(iso: str) -> int:
    return int(np.datetime64(iso, "D").astype(np.int64))


def _ts_days(rng: np.random.Generator, first: str, last: str, n: int) -> pa.Array:
    days = rng.integers(_days_since_epoch(first), _days_since_epoch(last) + 1, n)
    return pa.array(days * _DAY_US, pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return rng.integers(round(lo * 100), round(hi * 100) + 1, n) / 100.0


def _pick(rng: np.random.Generator, domain: list[str], n: int) -> pa.Array:
    return pa.array(np.asarray(domain, dtype=object)[rng.integers(0, len(domain), n)])


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _documents(rng: np.random.Generator, n: int) -> dict:
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i >= 100 and r < 0.05:  # near-duplicate of an earlier document
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i >= 100 and r < 0.0516:  # exact duplicate
            texts.append(texts[int(rng.integers(0, i))])
        else:
            words = rng.integers(0, len(_WORDS), int(rng.integers(10, 101)))
            texts.append(" ".join(_WORDS[w] for w in words))
    langs = np.array(["en", "fr", "es", "zh", "de"], dtype=object)
    lang = langs[rng.choice(5, n, p=[0.41, 0.1475, 0.1475, 0.1475, 0.1475])]
    return {
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(lang),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    }


def _embeddings(rng: np.random.Generator, n: int) -> dict:
    label = rng.integers(0, 10, n).astype(np.int32)
    centers = rng.standard_normal((10, _DIM)) * 0.6
    x = rng.standard_normal((n, _DIM)) + centers[label]
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    return {
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(x.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(label),
    }


def write_base(out_dir: str, seed: int) -> None:
    """Write the ten catalog tables at the sf0.1 shape into ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part, n_ord, n_line, n_ev = 15_000, 1_000, 20_000, 150_000, 600_000, 100_000

    _write(out_dir, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]),
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
    })
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": _pick(rng, ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust),
    })
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
    })
    adjectives = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
    nouns = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
    names = [f"{a} {b}" for a in adjectives for b in nouns]
    partkey = np.arange(n_part, dtype=np.int64)
    _write(out_dir, "part", {
        "p_partkey": pa.array(partkey),
        "p_name": _pick(rng, names, n_part),
        "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], n_part),
        "p_type": _pick(rng, ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array((9000 + partkey % 1000) / 10.0),
    })
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord)),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n_ord)),
        "o_orderdate": _ts_days(rng, "1995-01-01", "2001-08-01", n_ord),
        "o_orderpriority": _pick(rng, ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord),
    })
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, n_line)),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
        "l_linestatus": _pick(rng, ["F", "O"], n_line),
        "l_shipdate": _ts_days(rng, "1995-01-02", "2001-11-04", n_line),
    })
    start_us = _days_since_epoch("2024-01-01") * _DAY_US
    ts = np.sort(rng.integers(start_us, start_us + 30 * _DAY_US, n_ev))
    _write(out_dir, "events", {
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 1_500, n_ev)),
        "event_type": _pick(rng, ["click", "error", "purchase", "signup", "view"], n_ev),
        "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
    })
    _write(out_dir, "documents", _documents(rng, 5_000))
    _write(out_dir, "embeddings", _embeddings(rng, 2_000))


def _vowel_maps(rng: np.random.Generator, copies: int) -> list[dict[int, int]]:
    """One translation table per derived copy; each vowel maps to a digit no
    other copy uses for that vowel."""
    digits = np.array([rng.permutation(10)[: copies - 1] for _ in _VOWELS])
    return [
        str.maketrans({v: str(int(digits[j, c])) for j, v in enumerate(_VOWELS)})
        for c in range(copies - 1)
    ]


def _sign_masks(rng: np.random.Generator, copies: int) -> list[np.ndarray]:
    """Per-copy +-1 masks; copy 0 is all ones, and every pair of masks differs
    in at least a quarter of the dimensions, so no copy is near any other."""
    masks = [np.ones(_DIM, dtype=np.float32)]
    while len(masks) < copies:
        m = np.where(rng.random(_DIM) < 0.5, -1.0, 1.0).astype(np.float32)
        if all(np.count_nonzero(m != prev) >= _DIM // 4 for prev in masks):
            masks.append(m)
    return masks


def write_curation(base_dir: str, out_dir: str, seed: int, copies: int = CURATION_COPIES) -> None:
    """Write the x``copies`` documents and embeddings derived from
    ``base_dir`` with seed-chosen per-copy transforms, and link the other
    tables unchanged."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    docs = pq.read_table(os.path.join(base_dir, "documents.parquet"))
    parts = [docs]
    for c, table in enumerate(_vowel_maps(rng, copies), start=1):
        text = [t.translate(table) for t in docs["text"].to_pylist()]
        parts.append(docs.set_column(0, "doc_id", pc.add(docs["doc_id"], c * _ID_STRIDE))
                     .set_column(1, "text", pa.array(text)))
    pq.write_table(pa.concat_tables(parts), os.path.join(out_dir, "documents.parquet"))

    emb = pq.read_table(os.path.join(base_dir, "embeddings.parquet"))
    x = np.stack(emb["embedding"].to_numpy(zero_copy_only=False))
    parts = []
    for c, mask in enumerate(_sign_masks(rng, copies)):
        parts.append(emb.set_column(0, "vec_id", pc.add(emb["vec_id"], c * _ID_STRIDE))
                     .set_column(1, "embedding", pa.array(list(x * mask), pa.list_(pa.float32()))))
    pq.write_table(pa.concat_tables(parts), os.path.join(out_dir, "embeddings.parquet"))

    for name in TABLES:
        if name in ("documents", "embeddings"):
            continue
        src, dst = os.path.join(base_dir, f"{name}.parquet"), os.path.join(out_dir, f"{name}.parquet")
        if os.path.exists(dst):
            os.remove(dst)
        try:
            os.link(src, dst)
        except OSError:
            shutil.copyfile(src, dst)
