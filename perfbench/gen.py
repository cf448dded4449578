"""Seeded input generator for the graft benchmark.

Every table is a pure function of the seed. Violations are planted at
row positions `i % period == residue`, so each expected violation count
has a closed form (`planted_count`) and is written to `expected.json`
next to the data, where the harness compares every governed call's
metrics against it.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ~4 lines per order -> ~300k lineitem rows: half the sf0.1 table, so one
# cycle of the eight governed calls fits a run (~10 s on local[4])
N_ORDERS = 75_000
N_SUPPLIERS = 1_000
N_PARTS = 20_000
VECTOR_DIM = 64
# The curation tables have the shape of the sf0.01 test tables: at sf0.1
# one cold-cache pass over the 13 queries takes ~85 s on local[4]
# (q_labelprop alone ~52 s), more than a run can hold.
CURATION = dict(orders=15_000, customers=1_500, suppliers=100, parts=2_000,
                docs=500, vectors=500)
STREAM_FILES = 8
STREAM_FILE_ROWS = 5_000
STREAM_DIRTY_EVERY = 4      # every 4th stream file carries planted violations
WORDS = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]

# Planted violations of the demo lineitem contract: metric key ->
# (column, period, residue, planted value). Rules on one column share a
# period with distinct residues, so no row carries two plants on one
# column and every count stays in closed form.
PLANTS = {
    "gt_l_quantity": ("l_quantity", 97, 3, 2.0),
    "le_l_quantity": ("l_quantity", 97, 50, 48.0),
    "lt_l_extendedprice": ("l_extendedprice", 89, 7, 99_000.0),
    "ge_l_discount": ("l_discount", 83, 11, 0.01),
    "le_l_tax": ("l_tax", 79, 13, 0.08),
    "enum_l_returnflag": ("l_returnflag", 73, 17, "R"),
    "regex_l_linestatus": ("l_linestatus", 71, 19, "X"),
    "not_null_l_partkey": ("l_partkey", 67, 23, None),
}


def planted_count(n, period, residue):
    """#{i in [0, n) : i % period == residue} in closed form."""
    return 0 if residue >= n else (n - residue + period - 1) // period


def _positions(n, period, residue):
    return np.arange(residue, n, period)


def _lineitem(rng, n_orders, first_order=0, n_suppliers=N_SUPPLIERS, n_parts=N_PARTS):
    lines = rng.integers(1, 8, n_orders)
    n = int(lines.sum())
    orderkey = np.repeat(np.arange(first_order, first_order + n_orders, dtype=np.int64), lines)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    linenumber = (np.arange(n) - starts + 1).astype(np.int32)
    qty = rng.integers(6, 46, n).astype(np.float64)
    price = np.round(rng.uniform(900.0, 2000.0, n), 2)
    ship = (np.datetime64("1995-01-02") + rng.integers(0, 2400, n).astype("timedelta64[D]")
            ).astype("datetime64[us]")
    return {
        "l_orderkey": orderkey,
        "l_partkey": rng.integers(1, n_parts + 1, n).astype(np.int64),
        "l_suppkey": rng.integers(1, n_suppliers + 1, n).astype(np.int64),
        "l_linenumber": linenumber,
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * price, 2),
        "l_discount": rng.integers(2, 11, n) / 100.0,
        "l_tax": rng.integers(0, 8, n) / 100.0,
        "l_returnflag": np.where(rng.random(n) < 0.5, "A", "N").astype(object),
        "l_linestatus": np.where(rng.random(n) < 0.5, "O", "F").astype(object),
        "l_shipdate": ship,
    }


LINEITEM_SCHEMA = pa.schema([
    ("l_orderkey", pa.int64()), ("l_partkey", pa.int64()), ("l_suppkey", pa.int64()),
    ("l_linenumber", pa.int32()), ("l_quantity", pa.float64()),
    ("l_extendedprice", pa.float64()), ("l_discount", pa.float64()),
    ("l_tax", pa.float64()), ("l_returnflag", pa.string()),
    ("l_linestatus", pa.string()), ("l_shipdate", pa.timestamp("us")),
])


def _plant(cols):
    """Plant every violation in place; returns the table and its expected metrics."""
    n = len(cols["l_orderkey"])
    masks = {}
    for key, (column, period, residue, value) in PLANTS.items():
        pos = _positions(n, period, residue)
        if value is None:
            masks[column] = pos
        else:
            cols[column][pos] = value
    nulls = {c: np.zeros(n, dtype=bool) for c in cols}
    for column, pos in masks.items():
        nulls[column][pos] = True
    arrays = [pa.array(cols[f.name], type=f.type, mask=nulls[f.name])
              for f in LINEITEM_SCHEMA]
    counts = {"row_count": n}
    for key, (_, period, residue, _) in PLANTS.items():
        counts["violations." + key] = planted_count(n, period, residue)
    return pa.Table.from_arrays(arrays, schema=LINEITEM_SCHEMA), counts


def _clean_count(n):
    """Rows carrying no planted violation."""
    dirty = np.zeros(n, dtype=bool)
    for _, (_, period, residue, _) in PLANTS.items():
        dirty[_positions(n, period, residue)] = True
    return int(n - dirty.sum())


def _table(cols, schema):
    return pa.Table.from_arrays([pa.array(cols[f.name], type=f.type) for f in schema],
                                schema=schema)


def _orders(rng, n, n_customers):
    dates = (np.datetime64("1995-01-01") + rng.integers(0, 2400, n).astype("timedelta64[D]")
             ).astype("datetime64[us]")
    return _table({
        "o_orderkey": np.arange(n, dtype=np.int64),
        "o_custkey": rng.integers(0, n_customers, n).astype(np.int64),
        "o_orderstatus": rng.choice(np.array(["F", "O", "P"], dtype=object), n),
        "o_totalprice": np.round(rng.uniform(1000.0, 400_000.0, n), 2),
        "o_orderdate": dates,
        "o_orderpriority": rng.choice(np.array(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], dtype=object), n),
    }, pa.schema([("o_orderkey", pa.int64()), ("o_custkey", pa.int64()),
                  ("o_orderstatus", pa.string()), ("o_totalprice", pa.float64()),
                  ("o_orderdate", pa.timestamp("us")), ("o_orderpriority", pa.string())]))


def _documents(rng, n_docs):
    words = np.array(WORDS, dtype=object)
    texts = []
    for i in range(n_docs):
        if i > 50 and rng.random() < 0.02:   # exact duplicates for the dedup stages
            texts.append(texts[int(rng.integers(0, i))])
        else:
            texts.append(" ".join(rng.choice(words, int(rng.integers(10, 101)))))
    return _table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": np.array(texts, dtype=object),
        "lang": rng.choice(np.array(LANGS, dtype=object), n_docs, p=LANG_P),
        "source": np.array([f"src{k}" for k in rng.integers(0, 20, n_docs)], dtype=object),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }, pa.schema([("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
                  ("source", pa.string()), ("n_chars", pa.int64())]))


def _embeddings(rng, n):
    vecs = rng.normal(0.0, 0.125, (n, VECTOR_DIM)).astype(np.float32)
    emb = pa.ListArray.from_arrays(
        pa.array(np.arange(0, n * VECTOR_DIM + 1, VECTOR_DIM, dtype=np.int32)),
        pa.array(vecs.reshape(-1), type=pa.float32()))
    return pa.Table.from_arrays(
        [pa.array(np.arange(n, dtype=np.int64)), emb,
         pa.array(rng.integers(0, 10, n).astype(np.int32))],
        names=["vec_id", "embedding", "label"])


def _batch_tables(rng, n_orders, out):
    """A dirty lineitem table with planted violations and its clean twin."""
    os.makedirs(out, exist_ok=True)
    cols = _lineitem(rng, n_orders)
    n = len(cols["l_orderkey"])
    pq.write_table(_table(cols, LINEITEM_SCHEMA), f"{out}/lineitem_clean.parquet")
    dirty, counts = _plant({k: v.copy() for k, v in cols.items()})
    pq.write_table(dirty, f"{out}/lineitem.parquet")
    return dict(rows=n, dirty=counts, clean_rows_in_dirty=_clean_count(n),
                distinct_orderkeys=n_orders)


def _stream_files(rng, n_files, out):
    """Small lineitem files, every STREAM_DIRTY_EVERY-th one dirty."""
    os.makedirs(out, exist_ok=True)
    files = []
    base = 1_700_000_000
    for k in range(n_files):
        cols = _lineitem(rng, STREAM_FILE_ROWS // 4, first_order=k * STREAM_FILE_ROWS)
        if k % STREAM_DIRTY_EVERY == STREAM_DIRTY_EVERY - 1:
            table, counts = _plant(cols)
        else:
            table = _table(cols, LINEITEM_SCHEMA)
            counts = {"row_count": table.num_rows}
        path = f"{out}/part-{k:05d}.parquet"
        pq.write_table(table, path)
        # strictly increasing mtimes: the file source admits files in
        # this order, one per micro-batch, so batch k reads file k
        os.utime(path, (base + k, base + k))
        files.append(counts)
    return files


def generate(workload, seed, out):
    """Write the workload's inputs under `out`; returns the expected counts."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    expected = {"seed": seed, "workload": workload}
    if workload == "governed_batch":
        expected.update(_batch_tables(rng, N_ORDERS, out),
                        files=_stream_files(rng, STREAM_FILES, f"{out}/stream"))
    elif workload == "curation_queries":
        c = CURATION
        cols = _lineitem(rng, c["orders"], n_suppliers=c["suppliers"], n_parts=c["parts"])
        pq.write_table(_table(cols, LINEITEM_SCHEMA), f"{out}/lineitem.parquet")
        pq.write_table(_orders(rng, c["orders"], c["customers"]), f"{out}/orders.parquet")
        pq.write_table(_documents(rng, c["docs"]), f"{out}/documents.parquet")
        pq.write_table(_embeddings(rng, c["vectors"]), f"{out}/embeddings.parquet")
        expected.update(rows={"lineitem": len(cols["l_orderkey"]), "orders": c["orders"],
                              "documents": c["docs"], "embeddings": c["vectors"]})
    else:
        raise ValueError(f"unknown workload {workload}")
    with open(f"{out}/expected.json", "w") as f:
        json.dump(expected, f)
    return expected
