"""Seeded input tables for the benchmark.

Writes the four parquet tables the measured entry points read
(`lineitem`, `orders`, `part`, `documents`) with the same schemas and value
ranges as the repository's TPC-H-ish test data. The seed fixes every value,
so the same seed gives byte-identical tables; a different seed gives tables
of the same size drawn from the same distributions.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Scale factors per workload. The TPC-H-ish row counts per unit of scale:
# lineitem 6M, orders 1.5M, part 200k, supplier 10k. Kernel emission grows
# with points x polygons; at 0.015 a warm pass takes about a second on four
# cores, so a run times several.
SCALE = {"kernel": 0.015, "spatial": 0.01, "text": 0.01, "write": 0.01}
DOCS = {"kernel": 0, "spatial": 0, "text": 1500, "write": 0}

VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row "
         "the agg key query a scan batch").split()
LANGS = np.array(["en", "zh", "de", "fr", "es"])
LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]


def _write(table, path):
    pq.write_table(table, path, row_group_size=1 << 20)


def lineitem_orders_part(rng, sf, out):
    n_li, n_o = int(6_000_000 * sf), int(1_500_000 * sf)
    n_p, n_s = int(200_000 * sf), max(1, int(10_000 * sf))
    ok = rng.integers(0, n_o, n_li)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    price = np.round(rng.uniform(900, 105_000, n_li), 2)
    day = np.datetime64("1992-01-01") + rng.integers(0, 3650, n_li).astype("timedelta64[D]")
    _write(pa.table({
        "l_orderkey": ok,
        "l_partkey": rng.integers(0, n_p, n_li),
        "l_suppkey": rng.integers(0, n_s, n_li),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": price,
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n_li)],
        "l_shipdate": day.astype("datetime64[us]"),
    }), os.path.join(out, "lineitem.parquet"))
    odate = np.datetime64("1992-01-01") + rng.integers(0, 3650, n_o).astype("timedelta64[D]")
    _write(pa.table({
        "o_orderkey": np.arange(n_o, dtype=np.int64),
        "o_custkey": rng.integers(0, max(1, int(150_000 * sf)), n_o),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_o)],
        "o_totalprice": np.round(rng.uniform(800, 500_000, n_o), 2),
        "o_orderdate": odate.astype("datetime64[us]"),
        "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                     "4-NOT SPECIFIED", "5-LOW"])[rng.integers(0, 5, n_o)],
    }), os.path.join(out, "orders.parquet"))
    pk = np.arange(n_p, dtype=np.int64)
    adj = np.array(["large", "hot", "blue", "small", "red"])
    noun = np.array(["ring", "bolt", "nut", "gear", "pipe"])
    _write(pa.table({
        "p_partkey": pk,
        "p_name": np.char.add(np.char.add(adj[rng.integers(0, 5, n_p)], " "),
                              noun[rng.integers(0, 5, n_p)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_p).astype(str)),
        "p_type": np.array(["LARGE", "ECONOMY", "SMALL", "MEDIUM"])[rng.integers(0, 4, n_p)],
        "p_size": rng.integers(1, 51, n_p).astype(np.int32),
        "p_retailprice": 900.0 + (pk % 1000) / 10.0,
    }), os.path.join(out, "part.parquet"))
    return {"lineitem": n_li, "orders": n_o, "part": n_p}


def documents(rng, n, out):
    """Word-salad corpus over a 30-word vocabulary, 10-100 words a doc;
    one doc in twenty is a near-duplicate of an earlier doc (its text plus
    a trailing `dup`), which gives the dedup and decontamination ops
    real matches to find."""
    texts = []
    for i in range(n):
        if i > 20 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), k)))
    ids = np.arange(n, dtype=np.int64)
    _write(pa.table({
        "doc_id": ids,
        "text": texts,
        "lang": LANGS[rng.choice(len(LANGS), n, p=LANG_P)],
        "source": np.char.add("src", (ids % 20).astype(str)),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }), os.path.join(out, "documents.parquet"))
    return {"documents": n}


def stream_docs(out, files=4):
    """Docs for the streaming ingest, one per order, holding that order's
    lineitem rows as `point` spans ("x4,y4,quantity", the GeoTables
    encoding), split over a few parquet files under `stream_docs/`."""
    li = pq.read_table(os.path.join(out, "lineitem.parquet"),
                       columns=["l_orderkey", "l_partkey", "l_suppkey", "l_quantity"])
    ok, pk, sk = (li[c].to_numpy() for c in ("l_orderkey", "l_partkey", "l_suppkey"))
    qty = li["l_quantity"].to_numpy().astype(np.int64)
    order = np.argsort(ok, kind="stable")
    text = np.char.add(np.char.add(np.char.add(((pk * 7 + ok * 11) % 400).astype(str), ","),
                                   np.char.add(((sk * 13 + ok * 17) % 400).astype(str), ",")),
                       qty.astype(str))[order]
    keys, starts = np.unique(ok[order], return_index=True)
    bounds = list(starts) + [len(order)]
    span_t = pa.struct([("kind", pa.string()), ("text", pa.string()),
                        ("media_ref", pa.string()), ("offset", pa.int32())])
    d = os.path.join(out, "stream_docs")
    os.makedirs(d, exist_ok=True)
    for f, part in enumerate(np.array_split(np.arange(len(keys)), files)):
        spans = [[{"kind": "point", "text": t, "media_ref": "", "offset": j + 1}
                  for j, t in enumerate(text[bounds[i]:bounds[i + 1]])] for i in part]
        _write(pa.table({"doc_id": [f"doc-{k:09d}" for k in keys[part]],
                         "spans": pa.array(spans, type=pa.list_(span_t))}),
               os.path.join(d, f"part-{f}.parquet"))


def generate(workload, seed, out):
    """Write the workload's tables under `out`; returns table row counts."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng([seed, 0x67726166])
    counts = lineitem_orders_part(rng, SCALE[workload], out)
    if DOCS[workload]:
        counts.update(documents(rng, DOCS[workload], out))
    if workload == "write":
        stream_docs(out)
    return counts
