"""Seeded input generators for the benchmark.

Every table is a pure function of its seed and size parameters, so the same
seed always yields byte-identical parquet. The program under test only ever
sees the files written here.

- `topn_table`: the paper's declared input, `(region, product, sales)`, with a
  Zipf-skewed product catalogue, split into many files so a file stream with
  `maxFilesPerTrigger=1` gets one micro-batch per file.
- `event_time_table`: a small `(region, product, sales, ts)` table for the
  batch event-time job. Its seed is fixed: the job it feeds fails the same way
  on every run.
- `corpus`: a TPC-H-like star schema plus `events`, `documents` and
  `embeddings`, with the column names, types and value domains the query
  modules expect.

Run `python3 perfbench/gen.py <out_dir> <seed>` to write every input of one
seed by hand.
"""
import os
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# topn input.
TOPN_ROWS = 500_000
TOPN_FILES = 4
TOPN_REGIONS = 20
TOPN_PRODUCTS = 20_000
TOPN_ZIPF = 1.1

# Event-time input (fixed seed: see module docstring).
EVENT_TIME_SEED = 0
EVENT_TIME_ROWS = 20_000
EVENT_TIME_FILES = 4

# query_mix corpus, in rows per table.
CORPUS_ROWS = {
    "customer": 1_000, "supplier": 100, "part": 2_000, "orders": 10_000,
    "events": 2_000, "documents": 200, "embeddings": 200,
}
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
DOC_VOCAB = ("a the agg batch big column customer data dup fast filter group hash "
             "join key line merge order part query row scan slow small sort spark "
             "stream table value vector window").split()


def _rng(seed, stream):
    return np.random.Generator(np.random.PCG64([seed, stream]))


def _cents(values):
    """DECIMAL(12,2) array of the given non-negative amounts in cents."""
    unscaled = np.zeros((len(values), 2), dtype=np.int64)   # little-endian 128-bit words
    unscaled[:, 0] = values
    return pa.Array.from_buffers(pa.decimal128(12, 2), len(values),
                                 [None, pa.py_buffer(unscaled.tobytes())])


def _write_files(table, out_dir, files):
    """Split `table` into `files` contiguous slices, one parquet file each."""
    os.makedirs(out_dir, exist_ok=True)
    bounds = np.linspace(0, table.num_rows, files + 1).astype(int)
    for i in range(files):
        pq.write_table(table.slice(bounds[i], bounds[i + 1] - bounds[i]),
                       os.path.join(out_dir, f"part-{i:05d}.parquet"),
                       compression="snappy")


def topn_table(seed, rows=TOPN_ROWS, regions=TOPN_REGIONS,
               products=TOPN_PRODUCTS, zipf=TOPN_ZIPF):
    rng = _rng(seed, 1)
    weights = 1.0 / np.arange(1, products + 1) ** zipf
    # Popularity rank -> product id through a seeded permutation, so the
    # best sellers are not also the first names in sort order.
    ids = rng.permutation(products)[rng.choice(products, size=rows, p=weights / weights.sum())]
    product_names = np.array([f"p{i:06d}" for i in range(products)], dtype=object)
    region_names = np.array([f"region_{i:02d}" for i in range(regions)], dtype=object)
    return pa.table({
        "region": pa.array(region_names[rng.integers(0, regions, rows)], pa.string()),
        "product": pa.array(product_names[ids], pa.string()),
        "sales": _cents(rng.integers(100, 50_001, rows)),
    })


def event_time_table():
    rng = _rng(EVENT_TIME_SEED, 2)
    base = topn_table(EVENT_TIME_SEED, rows=EVENT_TIME_ROWS, regions=5, products=200)
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offsets = np.sort(rng.integers(0, 90 * 86_400_000_000, EVENT_TIME_ROWS))
    return base.append_column("ts", pa.array(start + offsets.astype("timedelta64[us]"),
                                             pa.timestamp("us", tz="UTC")))


def _days(rng, first, last, n):
    lo, hi = np.datetime64(first, "D"), np.datetime64(last, "D")
    days = lo + rng.integers(0, (hi - lo).astype(int) + 1, n).astype("timedelta64[D]")
    return pa.array(days.astype("datetime64[ms]"), pa.timestamp("ms"))


def _money(rng, lo, hi, n):
    return np.round(rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0, 2)


def _documents(rng, n):
    texts = []
    for _ in range(n):
        roll = rng.random()
        if texts and roll < 0.02:          # exact duplicate of an earlier doc
            texts.append(texts[rng.integers(0, len(texts))])
        elif texts and roll < 0.08:        # near duplicate: a few tokens changed
            toks = texts[rng.integers(0, len(texts))].split(" ")
            for j in rng.integers(0, len(toks), max(1, len(toks) // 10)):
                toks[j] = "dup"
            texts.append(" ".join(toks))
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(rng.choice(DOC_VOCAB, k)))
    langs = np.array(["en", "en", "en", "de", "fr", "es", "zh"], dtype=object)
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs[rng.integers(0, len(langs), n)], pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng, n, dim=64, labels=10):
    centers = rng.normal(size=(labels, dim))
    label = rng.integers(0, labels, n)
    v = centers[label] * 0.5 + rng.normal(size=(n, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32()),
    })


def corpus(seed):
    """The query-mix corpus as {table name: pyarrow table}."""
    r = CORPUS_ROWS
    rng = _rng(seed, 3)
    n_cust, n_supp, n_part, n_ord = r["customer"], r["supplier"], r["part"], r["orders"]
    pick = lambda values, n: pa.array(np.array(values, dtype=object)[rng.integers(0, len(values), n)],
                                      pa.string())
    t = {}
    t["region"] = pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                            "r_name": pa.array(REGIONS, pa.string())})
    t["nation"] = pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                            "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
                            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)], pa.string()),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust), pa.float64()),
        "c_mktsegment": pick(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust),
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)], pa.string()),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp), pa.float64()),
    })
    adjectives = ["small", "large", "red", "blue", "hot", "cold", "new", "old"]
    nouns = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "rod", "anvil"]
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": pa.array([f"{adjectives[a]} {nouns[b]}" for a, b in
                            zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))], pa.string()),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)], pa.string()),
        "p_type": pick(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": pa.array(np.round(900 + (np.arange(n_part) % 1000) * 0.1, 1), pa.float64()),
    })
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": pick(["F", "O", "P"], n_ord),
        "o_totalprice": pa.array(_money(rng, 1000, 500000, n_ord), pa.float64()),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_ord),
        "o_orderpriority": pick(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord),
    })
    lines = rng.integers(1, 8, n_ord)
    n_li = int(lines.sum())
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(np.repeat(np.arange(n_ord), lines), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(np.concatenate([np.arange(1, k + 1) for k in lines]), pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64), pa.float64()),
        "l_extendedprice": pa.array(_money(rng, 900, 105000, n_li), pa.float64()),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0, pa.float64()),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0, pa.float64()),
        "l_returnflag": pick(["A", "N", "R"], n_li),
        "l_linestatus": pick(["F", "O"], n_li),
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_li),
    })
    n_ev = r["events"]
    ev_start = np.datetime64("2024-01-01T00:00:00", "ns")
    ev_ts = ev_start + np.sort(rng.integers(0, 30 * 86_400 * 10**9, n_ev)).astype("timedelta64[ns]")
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(ev_ts, pa.timestamp("ns")),
        "user_id": pa.array(rng.integers(0, 1500, n_ev), pa.int64()),
        "event_type": pick(["click", "error", "purchase", "signup", "view"], n_ev),
        "value": pa.array(_money(rng, 0, 560, n_ev), pa.float64()),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)], pa.string()),
    })
    t["documents"] = _documents(rng, r["documents"])
    t["embeddings"] = _embeddings(rng, r["embeddings"])
    return t


def _stamped(out_dir, stamp, write):
    """Run `write(out_dir)` unless `out_dir` already holds this exact stamp."""
    stamp_file = os.path.join(out_dir, "_STAMP")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return out_dir
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    write(out_dir)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return out_dir


def write_topn(out_dir, seed):
    stamp = f"topn seed={seed} rows={TOPN_ROWS} files={TOPN_FILES} regions={TOPN_REGIONS} " \
            f"products={TOPN_PRODUCTS} zipf={TOPN_ZIPF}"
    return _stamped(out_dir, stamp, lambda d: _write_files(topn_table(seed), d, TOPN_FILES))


def write_event_time(out_dir):
    stamp = f"event_time seed={EVENT_TIME_SEED} rows={EVENT_TIME_ROWS} files={EVENT_TIME_FILES}"
    return _stamped(out_dir, stamp, lambda d: _write_files(event_time_table(), d, EVENT_TIME_FILES))


def write_corpus(out_dir, seed):
    def write(d):
        for name, table in corpus(seed).items():
            pq.write_table(table, os.path.join(d, f"{name}.parquet"), compression="snappy")
    return _stamped(out_dir, f"corpus seed={seed} rows={sorted(CORPUS_ROWS.items())}", write)


if __name__ == "__main__":
    out, seed = sys.argv[1], int(sys.argv[2])
    write_topn(os.path.join(out, "topn"), seed)
    write_event_time(os.path.join(out, "topn_event_time"))
    write_corpus(os.path.join(out, "corpus"), seed)
    print(out)
