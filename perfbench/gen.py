"""Seeded input tables for the benchmark.

The row SETS are fixed: they are drawn from one constant generator seed in
the schemas, sizes and value distributions of the engine's sf0.1 test
tables (TESTDATA.md), as measured on those tables:
  - orders: 150k rows; o_orderkey 0..n-1; o_custkey uniform over 15k keys;
    o_orderdate uniform by day over 1995-01-01..2001-08-01; o_totalprice
    uniform over 1000..500000 at 2 decimals; status (O/F/P) and priority
    (5 values) uniform.
  - documents: 5k rows; 10..100 tokens uniform, drawn uniformly from a
    30-word vocabulary; 5% near duplicates (another document's text plus
    the token "dup") and 8 exact copies; lang en 40%, de/es/fr/zh 15% each;
    source src<doc_id mod 20>; n_chars the text length.
  - embeddings: 2k unit-norm 64-dim Gaussian vectors, label uniform 0..9.
  - nation: the 25 rows NATION_<k>, region k mod 5.
The run seed only permutes each table's row order as it is written, so
every seed has the same oracle answers while the physical layout the
engine scans (row order, parquet statistics) changes.
"""
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROWS_SEED = 20240601
N_ORDERS = 150_000
N_CUSTOMERS = 15_000
N_DOCS = 5_000
N_VECS = 2_000
DIM = 64
VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row "
         "the agg key query a scan batch").split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]


def _nation():
    k = np.arange(25, dtype=np.int32)
    return pa.table({"n_nationkey": k,
                     "n_name": [f"NATION_{i}" for i in k],
                     "n_regionkey": (k % 5).astype(np.int32)})


def _orders(rng):
    n = N_ORDERS
    start = np.datetime64("1995-01-01", "D")
    days = (np.datetime64("2001-08-01", "D") - start).astype(int)
    dates = (start + rng.integers(0, days + 1, n)).astype("datetime64[us]")
    return pa.table({
        "o_orderkey": np.arange(n, dtype=np.int64),
        "o_custkey": rng.integers(0, N_CUSTOMERS, n).astype(np.int64),
        "o_orderstatus": np.array(["O", "F", "P"])[rng.integers(0, 3, n)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n), 2),
        "o_orderdate": pa.array(dates, pa.timestamp("us")),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n)],
    })


def _documents(rng):
    n = N_DOCS
    vocab = np.array(VOCAB)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), rng.integers(10, 101))])
             for _ in range(n)]
    # 5% near duplicates (another document's text plus one token) and a few
    # exact copies, so the dedup stages have work to find
    for i in rng.choice(n, n // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, n))] + " dup"
    for i in rng.choice(n, 8, replace=False):
        texts[i] = texts[int(rng.integers(0, n))]
    ids = np.arange(n, dtype=np.int64)
    return pa.table({
        "doc_id": ids,
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(len(LANGS), n, p=LANG_P)],
        "source": [f"src{i % 20}" for i in ids],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def _embeddings(rng):
    v = rng.standard_normal((N_VECS, DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": np.arange(N_VECS, dtype=np.int64),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, N_VECS).astype(np.int32),
    })


NAMES = ("nation", "orders", "documents", "embeddings")


def tables():
    """The fixed row sets, by table name."""
    rng = np.random.default_rng(ROWS_SEED)
    return {"nation": _nation(), "orders": _orders(rng),
            "documents": _documents(rng), "embeddings": _embeddings(rng)}


def write(out_dir, seed):
    """Write every table as `<out_dir>/<name>.parquet`, rows permuted by
    `seed` (in generation order when `seed` is None)."""
    perm = None if seed is None else np.random.default_rng(seed)
    for name, t in tables().items():
        if perm is not None:
            t = t.take(pa.array(perm.permutation(t.num_rows)))
        pq.write_table(t, f"{out_dir}/{name}.parquet", compression="snappy")
