"""Seeded input generation for the graft benchmark.

Every table is drawn from numpy's PCG64 generator seeded with the
run's ``--seed``, so one seed always gives byte-identical parquet.
Shapes and value domains follow the TPC-H-style tables the registry
queries are written against (``SparkEntry.queries`` reads
``<dir>/<table>.parquet``), plus the ``documents`` table. The
``events`` and ``embeddings`` tables are not generated: no benchmarked
query reads them.

Where the figures come from. The schemas, row counts per scale factor
and value domains match the driver's seeded test tables at sf0.001,
sf0.01 and sf0.1, measured with DuckDB: for example ship dates
1995-01-02 to 2001-11-04 and order dates 1995-01-01 to 2001-08-01,
quantities 1-50, discounts 0-0.10. The documents match them too: the
same 30-word vocabulary, 10-100 words a document, the five languages
at about the shares in ``LANG_P``, 20 sources, and 5% near-duplicates
made by appending " dup" to an earlier document. The stream batch
mixes in ``PROFILES`` and the batch size are assumptions: no test
table or fixture of graft holds a document stream to measure them
from.
"""
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
# words outside the training vocabulary: a document made of these has
# no in-vocabulary token, so the quality classifier refuses it
JUNK = ("zzq qxv vvk kkj jjx xqz qqk zzv vkq kqj").split()
LANGS = np.array(["en", "es", "fr", "zh", "de"])
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
SEGMENTS = np.array(["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING",
                     "FURNITURE"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                       "5-LOW"])
PART_ADJ = np.array(["large", "hot", "blue", "small", "red", "cold"])
PART_NOUN = np.array(["ring", "bolt", "gear", "pipe", "nut", "valve"])
PART_TYPES = np.array(["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM",
                       "PROMO"])


def _write(table, path):
    pq.write_table(table, path)


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start, end, n):
    span = (end - start).days
    base = np.datetime64(start, "us")
    off = rng.integers(0, span + 1, n).astype("timedelta64[D]")
    return base + off.astype("timedelta64[us]")


def _texts(rng, n, lo=10, hi=100, vocab=VOCAB):
    words = np.array(vocab)
    lens = rng.integers(lo, hi + 1, n)
    flat = words[rng.integers(0, len(words), int(lens.sum()))]
    out, p = [], 0
    for k in lens:
        out.append(" ".join(flat[p:p + k]))
        p += k
    return out


def documents(rng, n, id0=0, near_dup=0.05, contaminated=0.0,
              bench_ids=25):
    """``n`` documents with ids ``id0..id0+n-1``. A ``near_dup`` share
    copies an earlier document of the table and appends one token; a
    ``contaminated`` share copies one of the first ``bench_ids``
    documents verbatim (the benchmark set q_training_export
    decontaminates against)."""
    texts = _texts(rng, n)
    kind = rng.random(n)
    for i in range(n):
        if i > bench_ids and kind[i] < contaminated:
            texts[i] = texts[int(rng.integers(0, bench_ids))]
        elif i > bench_ids and kind[i] < contaminated + near_dup:
            texts[i] = texts[int(rng.integers(bench_ids, i))] + " dup"
    ids = np.arange(id0, id0 + n, dtype=np.int64)
    return pa.table({
        "doc_id": ids,
        "text": texts,
        "lang": LANGS[rng.choice(len(LANGS), n, p=LANG_P)],
        "source": np.char.add("src", (ids % 20).astype(str)),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def tables(out_dir, seed, sf, n_docs, near_dup=0.05, contaminated=0.0):
    """The registry's table set at scale factor ``sf`` (TPC-H row
    counts times ``sf``), with ``n_docs`` documents."""
    rng = np.random.Generator(np.random.PCG64(seed))
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp = int(150000 * sf), int(10000 * sf)
    n_part, n_ord = int(200000 * sf), int(1500000 * sf)
    n_line = 4 * n_ord
    _write(pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    }), f"{out_dir}/region.parquet")
    _write(pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    }), f"{out_dir}/nation.parquet")
    k = np.arange(n_cust, dtype=np.int64)
    _write(pa.table({
        "c_custkey": k,
        "c_name": [f"Customer#{i:09d}" for i in k],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": SEGMENTS[rng.integers(0, 5, n_cust)],
    }), f"{out_dir}/customer.parquet")
    k = np.arange(n_supp, dtype=np.int64)
    _write(pa.table({
        "s_suppkey": k,
        "s_name": [f"Supplier#{i:09d}" for i in k],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    }), f"{out_dir}/supplier.parquet")
    k = np.arange(n_part, dtype=np.int64)
    _write(pa.table({
        "p_partkey": k,
        "p_name": np.char.add(np.char.add(
            PART_ADJ[rng.integers(0, 6, n_part)], " "),
            PART_NOUN[rng.integers(0, 6, n_part)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part)
                               .astype(str)),
        "p_type": PART_TYPES[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (k % 1000) * 0.1, 1),
    }), f"{out_dir}/part.parquet")
    _write(pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": np.array(["O", "F", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000, 500000, n_ord),
        "o_orderdate": _days(rng, dt.date(1995, 1, 1), dt.date(2001, 8, 1),
                             n_ord),
        "o_orderpriority": PRIORITIES[rng.integers(0, 5, n_ord)],
    }), f"{out_dir}/orders.parquet")
    _write(pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105000, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _days(rng, dt.date(1995, 1, 2), dt.date(2001, 11, 4),
                            n_line),
    }), f"{out_dir}/lineitem.parquet")
    _write(documents(rng, n_docs, near_dup=near_dup,
                     contaminated=contaminated),
           f"{out_dir}/documents.parquet")


# stream batch profiles: (near-duplicate share, low-quality share).
# The 5% near-duplicate share is that of the test documents; the 5%
# low-quality share and the 40% shares of the two skewed profiles are
# assumptions, chosen so that one profile loads each gate.
PROFILES = {"fresh": (0.05, 0.05), "near_dup": (0.4, 0.05),
            "low_quality": (0.05, 0.4)}


def stream_inputs(out_dir, seed, n_base, profiles, batch_docs):
    """A base corpus (``documents.parquet``, the models' training set
    and the near-duplicate index seed) and one landing file of
    ``batch_docs`` documents per entry of ``profiles``. A batch holds
    fresh documents, near-copies of earlier batches' documents, and
    documents too short for the quality gate, in the shares its
    profile names (``PROFILES``). Document ids never repeat."""
    rng = np.random.Generator(np.random.PCG64(seed))
    os.makedirs(f"{out_dir}/staging", exist_ok=True)
    _write(documents(rng, n_base), f"{out_dir}/documents.parquet")
    earlier = []
    next_id = n_base
    paths = []
    for b, profile in enumerate(profiles):
        near_dup, low_quality = PROFILES[profile]
        t = documents(rng, batch_docs, id0=next_id, near_dup=0.0)
        texts = t.column("text").to_pylist()
        kind = rng.random(batch_docs)
        for i in range(batch_docs):
            if kind[i] < low_quality:
                texts[i] = _texts(rng, 1, 3, 20)[0]
            elif kind[i] < low_quality + near_dup and earlier:
                texts[i] = earlier[int(rng.integers(0, len(earlier)))] + " dup"
        earlier.extend(texts)
        t = t.set_column(1, "text", pa.array(texts)).set_column(
            4, "n_chars", pa.array([len(x) for x in texts], pa.int64()))
        path = f"{out_dir}/staging/batch_{b:04d}.parquet"
        _write(t, path)
        paths.append(path)
        next_id += batch_docs
    return paths
