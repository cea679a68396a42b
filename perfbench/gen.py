"""Deterministic input corpus for the benchmark.

Writes the ten fixture tables the engine's queries read (TPC-H-style star
schema plus `documents`, `embeddings` and `events`) at scale factor 0.1,
with the shapes the engine's fixtures have: one parquet file and one row
group per table, naive microsecond timestamps, a 30-word document
vocabulary with planted near-duplicates, unit-norm 64-d embeddings with a
weak per-label signal, and a sorted month of events.

`write_dedup_4x` builds the dedup workload's corpus from that base:
four replicas per table, following the engine's ten-times corpus policy
(documents: id shift plus a per-replica letter rotation; embeddings: id
shift, label offset and cyclic dimension rotation; every other table
copied once). It lives here rather than in the engine so that a change to
the engine cannot change the benchmark's input.

`write_corpus` writes a workload's corpus and, beside it, the same corpus
at a tenth of the size for the untimed warmup.

The data seed is fixed: every run of the benchmark reads identical bytes,
so the committed output digests stay valid. The run's own `--seed` only
permutes the order of operations.
"""

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

DATA_SEED = 42
SF = 0.1
REPLICA_SPACING = 10_000_000
# The dedup workload replicates a smaller document corpus than sf0.1's
# 5000 documents, so that a pass that rebuilds its shared stages fits a run.
DEDUP_BASE_DOCS = 500
# The untimed warmup runs every op once on a corpus this much smaller.
WARM_SHRINK = 10
VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
LOWER = "abcdefghijklmnopqrstuvwxyz"


def _write(table, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, row_group_size=max(1, table.num_rows))


def _days(rng, start, end, n):
    span = (end - start).days
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span + 1, n).astype("timedelta64[D]").astype("timedelta64[us]")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(sf=SF):
    """Returns {name: pyarrow.Table} for the base corpus."""
    rng = np.random.default_rng(DATA_SEED)
    n_li, n_ord, n_cust = int(6_000_000 * sf), int(1_500_000 * sf), int(150_000 * sf)
    n_part, n_supp = int(200_000 * sf), int(10_000 * sf)
    n_doc, n_emb, n_ev = int(50_000 * sf), int(20_000 * sf), int(1_000_000 * sf)
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(range(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    segments = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    out["customer"] = pa.table({
        "c_custkey": pa.array(range(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": segments[rng.integers(0, 5, n_cust)]})
    adj = np.array("large hot blue old cold red small new".split())
    noun = np.array("ring bolt plate gear widget rod anvil gizmo".split())
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    out["part"] = pa.table({
        "p_partkey": pa.array(range(n_part), pa.int64()),
        "p_name": np.char.add(np.char.add(adj[rng.integers(0, 8, n_part)], " "),
                              noun[rng.integers(0, 8, n_part)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": types[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 1)})
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    out["orders"] = pa.table({
        "o_orderkey": pa.array(range(n_ord), pa.int64()),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _days(rng, dt.date(1995, 1, 1), dt.date(2001, 8, 1), n_ord),
        "o_orderpriority": prio[rng.integers(0, 5, n_ord)]})
    out["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_li),
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _days(rng, dt.date(1995, 1, 2), dt.date(2001, 11, 4), n_li)})

    out["documents"] = documents(rng, n_doc)

    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(size=(10, 64))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    vecs = 0.07 * centers[labels] + rng.normal(scale=0.125, size=(n_emb, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(range(n_emb), pa.int64()),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})

    start = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 30 * 86400 * 1_000_000, n_ev))
    out["events"] = pa.table({
        "event_id": pa.array(range(n_ev), pa.int64()),
        "ts": start + offs.astype("timedelta64[us]"),
        "user_id": rng.integers(0, 1500, n_ev),
        "event_type": np.array(["click", "error", "purchase", "signup", "view"])[
            rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    return out


def documents(rng, n_doc):
    """Random word runs, then 5% near-duplicates (another document's text
    plus one extra word) and a few exact copies."""
    vocab = np.array(VOCAB)
    texts = [" ".join(vocab[rng.integers(0, len(VOCAB), int(k))])
             for k in rng.integers(10, 100, n_doc)]
    for i in rng.choice(n_doc, n_doc // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, n_doc))] + " dup"
    for i in rng.choice(n_doc, max(1, n_doc // 625), replace=False):
        texts[i] = texts[int(rng.integers(0, n_doc))]
    langs = np.array(["de", "en", "es", "fr", "zh"])[
        rng.choice(5, n_doc, p=[0.147, 0.412, 0.147, 0.147, 0.147])]
    return pa.table({
        "doc_id": pa.array(range(n_doc), pa.int64()),
        "text": texts,
        "lang": langs,
        "source": np.char.add("src", rng.integers(0, 20, n_doc).astype(str)),
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})


def write_base(root, t):
    for name, table in t.items():
        _write(table, os.path.join(root, f"{name}.parquet"))


def _rotate_letters(texts, k):
    rot = LOWER[k:] + LOWER[:k]
    tr = str.maketrans(LOWER + LOWER.upper(), rot + rot.upper())
    return [s.translate(tr) for s in texts]


def write_dedup_4x(root, t, base_docs=DEDUP_BASE_DOCS, factor=4):
    """Writes `factor` replicas of a `base_docs`-document corpus and of the
    embeddings (one part file per replica), and one copy of every other
    table."""
    docs = documents(np.random.default_rng(DATA_SEED + 1), base_docs)
    emb = t["embeddings"]
    for k in range(factor):
        shift = k * REPLICA_SPACING
        text = docs["text"].to_pylist()
        _write(docs.set_column(0, "doc_id", pc.add(docs["doc_id"], shift))
               .set_column(1, "text", pa.array(text if k == 0 else _rotate_letters(text, k))),
               os.path.join(root, "documents.parquet", f"part-{k:05d}.parquet"))
        vecs = np.array(emb["embedding"].to_pylist(), dtype=np.float32)
        _write(pa.table({
            "vec_id": pc.add(emb["vec_id"], shift),
            "embedding": pa.array(list(np.roll(vecs, -k, axis=1)), pa.list_(pa.float32())),
            "label": pc.add(emb["label"], pa.scalar(k, pa.int32()))}),
            os.path.join(root, "embeddings.parquet", f"part-{k:05d}.parquet"))
    for name, table in t.items():
        if name not in ("documents", "embeddings"):
            _write(table, os.path.join(root, f"{name}.parquet"))


def write_corpus(root, kind):
    """Writes `<root>/<kind>` (kind `sf0.1` or `dedup_4x`) and its warmup
    twin `<root>/<kind>_warm`."""
    for suffix, shrink in (("", 1), ("_warm", WARM_SHRINK)):
        t = tables(SF / shrink)
        path = os.path.join(root, kind + suffix)
        if kind == "dedup_4x":
            write_dedup_4x(path, t, base_docs=DEDUP_BASE_DOCS // shrink)
        else:
            write_base(path, t)
