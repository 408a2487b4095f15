"""Seeded input generator for the benchmark.

Writes the engine's input tables (the schemas ``plans.registry.TABLES``
reads: a TPC-H-shaped star schema, the ``events`` stream, ``documents``
and ``embeddings``) as one parquet file per table. The same seed gives
byte-identical files; nothing here reads data from outside the output
directory.

``amplify`` builds the x4 curation tier: ``copies`` textually
independent copies of the base corpus (a per-copy letter rotation,
so copies share almost no shingles with each other) and of the
embeddings (a per-copy cyclic rotation of the coordinates, which keeps
every within-copy cosine). It refuses to write a tier in which the
copies add exact duplicates the base corpus did not have.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en", "es", "zh", "de", "fr")
LANG_P = (0.41, 0.15, 0.15, 0.14, 0.15)
EVENT_TYPES = ("signup", "click", "error", "view", "purchase")
SEGMENTS = ("MACHINERY", "AUTOMOBILE", "FURNITURE", "HOUSEHOLD", "BUILDING")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PART_ADJ = ("small", "red", "new", "hot", "cold", "large", "old", "blue")
PART_NOUN = ("ring", "widget", "bolt", "rod", "plate", "gear", "anvil", "gizmo")
PART_TYPES = ("LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
EMB_DIM = 64
AMP_ID_STRIDE = 1_000_000
# the two rotation alphabets of tools/scale_probe.amplify_documents:
# two independent rotations give 81 distinct rewrites per document
ROT_A1, ROT_A2 = "etaoinshrd", "lucmfywgpb"


@dataclass(frozen=True)
class Scale:
    """Row counts per table; ``sf`` follows the TPC-H convention of the
    tables in TESTDATA.md (sf 0.01: 60k lineitem, 10k events)."""

    sf: float
    documents: int
    embeddings: int

    @property
    def lineitem(self) -> int:
        return int(6_000_000 * self.sf)

    @property
    def orders(self) -> int:
        return int(1_500_000 * self.sf)

    @property
    def customer(self) -> int:
        return int(150_000 * self.sf)

    @property
    def part(self) -> int:
        return int(200_000 * self.sf)

    @property
    def supplier(self) -> int:
        return max(10, int(10_000 * self.sf))

    @property
    def events(self) -> int:
        return int(1_000_000 * self.sf)

    @property
    def users(self) -> int:
        return max(10, int(15_000 * self.sf))


def _write(table: pa.Table, path: str) -> None:
    # one row group, fixed compression: the file bytes depend on the
    # rows only, so a repeated seed reproduces them exactly
    pq.write_table(table, path, compression="snappy", row_group_size=1 << 30)


def _days(rng, n, start: str, end: str) -> np.ndarray:
    lo = np.datetime64(start, "D")
    span = int((np.datetime64(end, "D") - lo).astype(int))
    return (lo + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _money(rng, n, lo, hi) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _relational(rng, s: Scale) -> dict[str, pa.Table]:
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": list(REGIONS),
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    nc = s.customer
    t["customer"] = pa.table({
        "c_custkey": np.arange(nc, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": rng.integers(0, 25, nc).astype(np.int32),
        "c_acctbal": _money(rng, nc, -999.99, 9999.99),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, nc)],
    })
    ns = s.supplier
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(ns, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": rng.integers(0, 25, ns).astype(np.int32),
        "s_acctbal": _money(rng, ns, -999.99, 9999.99),
    })
    npart = s.part
    names = [
        f"{PART_ADJ[a]} {PART_NOUN[b]}"
        for a, b in zip(rng.integers(0, 8, npart), rng.integers(0, 8, npart))
    ]
    t["part"] = pa.table({
        "p_partkey": np.arange(npart, dtype=np.int64),
        "p_name": names,
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, npart)],
        "p_size": rng.integers(1, 51, npart).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(npart) % 1000) * 0.1, 2),
    })
    no = s.orders
    t["orders"] = pa.table({
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, nc, no).astype(np.int64),
        "o_orderstatus": np.array(["O", "P", "F"])[rng.integers(0, 3, no)],
        "o_totalprice": _money(rng, no, 1000.0, 500000.0),
        "o_orderdate": _days(rng, no, "1995-01-01", "2001-08-01"),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, no)],
    })
    nl = s.lineitem
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, no, nl).astype(np.int64),
        "l_partkey": rng.integers(0, npart, nl).astype(np.int64),
        "l_suppkey": rng.integers(0, ns, nl).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, nl).astype(np.int32),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(rng, nl, 900.0, 105000.0),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, nl)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, nl)],
        "l_shipdate": _days(rng, nl, "1995-01-02", "2001-11-04"),
    })
    return t


def _events(rng, s: Scale) -> pa.Table:
    n = s.events
    start = np.datetime64("2024-01-01T00:00:00", "us")
    month_us = 30 * 86_400 * 1_000_000
    ts = start + np.sort(rng.integers(0, month_us, n)).astype("timedelta64[us]")
    return pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": ts,
        "user_id": rng.integers(0, s.users, n).astype(np.int64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n)],
        "value": np.round(rng.gamma(2.0, 12.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })


def _documents(rng, n: int) -> pa.Table:
    """Bag-of-words documents over a 31-token vocabulary. Every seed
    gets the same multiset of lengths (8..99 words) and the same number
    of planted duplicates, at other positions with other words: 5% are
    near-duplicates (an earlier document with one word replaced and a
    trailing ``dup``) and 0.2% are exact copies."""
    lengths = rng.permutation(8 + np.arange(n) % 92)
    kinds = np.zeros(n, dtype=np.int8)
    planted = rng.permutation(np.arange(11, n)) if n > 11 else np.array([], dtype=int)
    n_near, n_exact = int(0.05 * n), int(0.002 * n)
    kinds[planted[:n_near]] = 1
    kinds[planted[n_near:n_near + n_exact]] = 2
    texts: list[str] = []
    for i in range(n):
        if kinds[i] == 1:
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = VOCAB[int(rng.integers(0, len(VOCAB)))]
            texts.append(" ".join(words + ["dup"]))
        elif kinds[i] == 2:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            texts.append(" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), int(lengths[i]))))
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(len(LANGS), n, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
    })


def _embeddings(rng, n: int) -> pa.Table:
    """Unit vectors around 10 label centroids (64-d float32)."""
    centers = rng.standard_normal((10, EMB_DIM))
    label = rng.permutation(np.arange(n) % 10)
    v = centers[label] + 1.2 * rng.standard_normal((n, EMB_DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": label.astype(np.int32),
    })


def _rotate_text(text: str, i: int) -> str:
    if i == 0:
        return text
    r1, r2 = i % 9 + 1, i // 9 + 1
    t1 = str.maketrans(ROT_A1, ROT_A1[r1:] + ROT_A1[:r1])
    t2 = str.maketrans(ROT_A2, ROT_A2[r2:] + ROT_A2[:r2])
    return text.translate(t1).translate(t2)


def amplify(docs: pa.Table, emb: pa.Table, copies: int) -> tuple[pa.Table, pa.Table]:
    """``copies`` independent copies of documents and embeddings, ids
    shifted by ``AMP_ID_STRIDE`` per copy."""
    d = docs.to_pydict()
    e = emb.to_pydict()
    out_d: dict[str, list] = {k: [] for k in d}
    out_e: dict[str, list] = {k: [] for k in e}
    for i in range(copies):
        out_d["doc_id"] += [x + i * AMP_ID_STRIDE for x in d["doc_id"]]
        out_d["text"] += [_rotate_text(x, i) for x in d["text"]]
        for k in ("lang", "source", "n_chars"):
            out_d[k] += d[k]
        out_e["vec_id"] += [x + i * AMP_ID_STRIDE for x in e["vec_id"]]
        out_e["embedding"] += [list(np.roll(np.asarray(v, np.float32), 7 * i)) for v in e["embedding"]]
        out_e["label"] += e["label"]
    amp_docs = pa.table(out_d, schema=docs.schema)
    amp_emb = pa.table(out_e, schema=emb.schema)
    base_distinct = len(set(d["text"]))
    amp_distinct = len(set(out_d["text"]))
    if amp_distinct != copies * base_distinct:
        raise ValueError(
            f"amplification added exact duplicates: {amp_distinct} distinct "
            f"texts, expected {copies} x {base_distinct}"
        )
    return amp_docs, amp_emb


TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings")


def generate(out_dir: str, seed: int, scale: Scale, copies: int = 1) -> dict:
    """Write every table for ``seed`` under ``out_dir`` and a
    ``manifest.json`` with the row and byte count of every file.
    Returns the manifest."""
    os.makedirs(out_dir, exist_ok=True)
    seqs = np.random.SeedSequence(seed).spawn(4)
    built = _relational(np.random.default_rng(seqs[0]), scale)
    built["events"] = _events(np.random.default_rng(seqs[1]), scale)
    docs = _documents(np.random.default_rng(seqs[2]), scale.documents)
    emb = _embeddings(np.random.default_rng(seqs[3]), scale.embeddings)
    if copies > 1:
        docs, emb = amplify(docs, emb, copies)
    built["documents"], built["embeddings"] = docs, emb
    manifest = {"seed": seed, "sf": scale.sf, "copies": copies, "tables": {}}
    for name in TABLES:
        path = os.path.join(out_dir, f"{name}.parquet")
        _write(built[name], path)
        manifest["tables"][name] = {
            "rows": built[name].num_rows,
            "bytes": os.path.getsize(path),
        }
    with open(os.path.join(out_dir, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    return manifest
