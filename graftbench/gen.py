"""Seeded input generator for the graft benchmark.

Every workload's inputs come from one numpy Generator seeded by
``--seed``: the same seed writes byte-identical parquet files. The
tables follow the TPC-H-style star schema plus the documents
and graph edges the engine's text, graph and streaming operators read.
On top of the base tables the generator plants what the operators under
test must handle:

* a seeded key remap and row order;
* nulls, exact duplicate rows and outliers in the numeric columns;
* a per-seed letter permutation of the content vocabulary (stopwords
  stay as they are), so documents differ per seed while the density of
  near-duplicates stays the same;
* exact and near-duplicate documents;
* a seeded distribution shift for the drift target.

``scale`` multiplies every row count: 1.0 for the timed inputs, 0.1 for
the warm-up inputs of the same seed.
"""
import os
import string

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# base sizes at scale 1.0 (rows)
LINEITEM_ROWS = 20_000
ORDERS_ROWS = 10_000
DOCS = 1_000
CUSTOMERS = 1_000
SUPPLIERS = 150
STREAM_DOCS = 800
STREAM_FILES = 2

STOPWORDS = ["the", "a", "of", "and", "to", "in", "is", "it", "that", "for",
             "on", "with", "as", "at", "by", "be", "this", "are", "was"]
CONTENT = ["key", "agg", "row", "scan", "slow", "fast", "table", "value",
           "part", "hash", "merge", "batch", "spark", "line", "sort", "window",
           "join", "shuffle", "stage", "task", "plan", "index", "column",
           "filter", "query", "cache", "disk", "node", "graph", "edge",
           "rank", "score", "token", "model", "feature", "drift", "stream",
           "event", "order", "price", "market", "supply", "region", "nation",
           "ship", "return", "status", "priority", "segment", "brand"]
T0_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z in microseconds
TS = pa.timestamp("us", tz="UTC")


def _write(table, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, row_group_size=1 << 20)


def _rows(n, scale):
    return max(int(n * scale), 50)


def _remap(rng, n):
    """Seeded bijection of 0..n-1: keys keep their range, not their order."""
    return rng.permutation(n).astype(np.int64)


def _plant_nulls(rng, a, frac):
    mask = rng.random(len(a)) < frac
    return pa.array(a, mask=mask)


def lineitem(rng, scale, shift=0.0):
    n = _rows(LINEITEM_ROWS, scale)
    orders = max(n // 4, 10)
    okey = _remap(rng, orders)[rng.integers(0, orders, n)]
    qty = rng.integers(1, 51, n).astype(np.float64)
    price = np.round(qty * rng.uniform(900.0, 2100.0, n) * (1.0 + shift), 2)
    disc = np.round(rng.integers(0, 11, n) / 100.0, 2)
    tax = np.round(rng.integers(0, 9, n) / 100.0, 2)
    # outliers: a few extreme prices and quantities
    out = rng.random(n) < 0.004
    price[out] = np.round(price[out] * rng.uniform(20.0, 60.0, out.sum()), 2)
    qty[rng.random(n) < 0.002] = 500.0
    if shift:
        qty = np.round(qty * (1.0 + shift) + rng.normal(0.0, 2.0, n), 0)
    flag = rng.choice(np.array(["A", "N", "R"]), n, p=[0.25, 0.5, 0.25])
    status = np.where(rng.random(n) < 0.5 + shift, "F", "O")
    mode = rng.choice(np.array(["AIR", "MAIL", "RAIL", "SHIP", "TRUCK"]), n)
    ship = T0_US - rng.integers(0, 2_000, n) * 86_400_000_000
    t = pa.table({
        "l_orderkey": okey,
        "l_partkey": rng.integers(0, max(n // 30, 10), n).astype(np.int64),
        "l_suppkey": rng.integers(0, SUPPLIERS, n).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
        "l_quantity": _plant_nulls(rng, qty, 0.02),
        "l_extendedprice": _plant_nulls(rng, price, 0.02),
        "l_discount": _plant_nulls(rng, disc, 0.01),
        "l_tax": tax,
        "l_returnflag": pa.array(flag, mask=rng.random(n) < 0.01),
        "l_linestatus": status,
        "l_shipmode": mode,
        "l_shipdate": pa.array(ship, type=TS),
    })
    # planted exact duplicate rows, then a seeded row order
    dup = rng.choice(n, max(n // 100, 1), replace=False)
    t = pa.concat_tables([t, t.take(dup)])
    return t.take(rng.permutation(t.num_rows))


def orders(rng, scale):
    n = _rows(ORDERS_ROWS, scale)
    key = _remap(rng, n)
    price = np.round(rng.gamma(2.0, 60_000.0, n), 2)
    price[rng.random(n) < 0.003] *= 25.0
    t = pa.table({
        "o_orderkey": key,
        "o_custkey": rng.integers(0, max(n // 10, 10), n).astype(np.int64),
        "o_orderstatus": rng.choice(np.array(["F", "O", "P"]), n, p=[0.45, 0.45, 0.10]),
        "o_totalprice": _plant_nulls(rng, price, 0.03),
        "o_orderdate": pa.array(T0_US - rng.integers(0, 2_500, n) * 86_400_000_000,
                                type=TS),
        "o_orderpriority": rng.choice(np.array(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]), n),
    })
    dup = rng.choice(n, max(n // 100, 1), replace=False)
    t = pa.concat_tables([t, t.take(dup)])
    return t.take(rng.permutation(t.num_rows))


def vocabulary(rng):
    """Content words under a seeded letter permutation; stopwords kept."""
    letters = string.ascii_lowercase
    perm = dict(zip(letters, rng.permutation(list(letters))))
    words = {"".join(perm[c] for c in w) for w in CONTENT}
    words -= set(STOPWORDS)
    return np.array(sorted(words) + STOPWORDS)


def documents(rng, scale, base=DOCS):
    n = _rows(base, scale)
    vocab = vocabulary(rng)
    texts = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.06:  # exact copy, case/whitespace varied
            src = texts[rng.integers(0, i)]
            texts.append(("  " + src.upper() + " ") if rng.random() < 0.5 else src)
        elif i > 10 and r < 0.16:  # near copy: a few words replaced
            words = texts[rng.integers(0, i)].split()
            for j in rng.integers(0, len(words), rng.integers(1, 4)):
                words[j] = vocab[rng.integers(0, len(vocab))]
            texts.append(" ".join(words))
        else:
            k = int(rng.integers(20, 80))
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), k)]))
    lang = rng.choice(np.array(["en", "de", "fr"]), n, p=[0.7, 0.15, 0.15])
    return pa.table({
        "doc_id": _remap(rng, n),
        "text": texts,
        "lang": lang,
        "source": np.char.add("src", rng.integers(0, 8, n).astype(str)),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def edges(rng, scale):
    """Customer -> supplier edges with Zipf-like supplier popularity."""
    nc = _rows(CUSTOMERS, scale)
    ns = max(_rows(SUPPLIERS, scale), 20)
    deg = rng.integers(1, 8, nc)
    src = np.repeat(_remap(rng, nc), deg)
    pop = 1.0 / np.arange(1, ns + 1) ** 0.8
    dst = 1_000_000 + rng.choice(ns, len(src), p=pop / pop.sum()).astype(np.int64)
    # every supplier links back to one of its customers, so no node is
    # dangling (PageRank mass then sums to 1); a few more back edges add
    # reciprocal links
    sup, first = np.unique(dst, return_index=True)
    back = rng.random(len(src)) < 0.05
    t = pa.table({"src": np.concatenate([src, sup, dst[back]]),
                  "dst": np.concatenate([dst, src[first], src[back]])})
    return t.take(rng.permutation(t.num_rows))


def _split_by_time(t, ts_col, files, out_dir):
    """Write ``files`` parquet files in event-time order (micro-batches)."""
    order = np.argsort(np.asarray(t.column(ts_col).cast(pa.int64())), kind="stable")
    t = t.take(order)
    bounds = np.linspace(0, t.num_rows, files + 1).astype(int)
    for i in range(files):
        _write(t.slice(bounds[i], bounds[i + 1] - bounds[i]),
               os.path.join(out_dir, f"part-{i:03d}.parquet"))


def stream(rng, scale, out_dir):
    """Documents with event times, written as file micro-batches for the
    streaming query; returns their size."""
    docs = documents(rng, scale, base=STREAM_DOCS)
    docs = docs.append_column("ts", pa.array(
        np.sort(T0_US + rng.integers(0, 36 * 3_600_000_000, docs.num_rows)),
        type=TS))
    _split_by_time(docs, "ts", STREAM_FILES, os.path.join(out_dir, "docs_stream"))
    return {"docs_stream": {"rows": docs.num_rows, "columns": docs.num_columns}}


def generate(workload, seed, scale, out_dir):
    """Write the inputs of ``workload`` under ``out_dir``; return row counts."""
    rng = np.random.default_rng([seed, int(scale * 1000)])
    tables, sizes = {}, {}
    if workload == "features":
        tables["lineitem"] = lineitem(rng, scale)
        tables["lineitem_shift"] = lineitem(rng, scale * 0.5, shift=0.08)
    elif workload == "curation":
        tables["documents"] = documents(rng, scale)
        tables["edges"] = edges(rng, scale)
        sizes.update(stream(rng, scale, out_dir))
    elif workload == "pipeline":
        o = orders(rng, scale)
        tables["orders"] = o
        tables["drift_src"] = orders(rng, scale * 0.5).select(["o_totalprice"])
    else:
        raise ValueError(f"unknown workload {workload!r}")
    for name, t in tables.items():
        _write(t, os.path.join(out_dir, f"{name}.parquet"))
        sizes[name] = {"rows": t.num_rows, "columns": t.num_columns}
    return sizes
