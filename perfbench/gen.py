"""Seeded, vectorized input generators for the benchmark workloads.

Every table is written in the fixture layout the library reads
(`<dir>/<table>.parquet`, one file, one row group) with the fixture's
column names and Arrow types, so `graft.Tables` loads it unchanged.
The same seed always gives byte-identical inputs.

Usage (prints the corpus statistics as JSON):
    python3 perfbench/gen.py <out_dir> <corpus> <seed> [scale]
where <corpus> is one of `zipf`, `dedup`, `mix`.
"""
import json
import sys
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Corpus parameters, stated once. `scale` multiplies document/row counts
# (the self-test runs at a tiny scale, the benchmark at 1.0).
ZIPF = dict(docs=16_000, vocab=20_000, zipf_s=1.07, mean_words=70,
            planted_frac=0.0, subst_frac=0.0)
DEDUP = dict(docs=1_000, vocab=20_000, zipf_s=0.8, mean_words=60,
             planted_frac=0.20, subst_frac=0.02, dim=64)
MIX = dict(customers=3_000, orders=30_000, events=20_000,
           documents=1_000, embeddings=1_000, dim=64)

# The fixture's small document vocabulary (the BM25 query terms are drawn
# from it, so retrieval queries have matches).
MIX_VOCAB = ["a", "agg", "batch", "big", "column", "customer", "data", "dup",
             "fast", "filter", "group", "hash", "join", "key", "line",
             "merge", "order", "part", "query", "row", "scan", "slow",
             "small", "sort", "spark", "stream", "table", "the", "value",
             "vector", "window"]
LANGS = np.array(["en", "de", "fr", "es", "zh"], dtype=object)
US_PER_DAY = 86_400_000_000


def _write(table, path):
    pq.write_table(table, path, row_group_size=max(1, table.num_rows))


def _vocabulary(rng, size):
    """`size` distinct lowercase ASCII words. The length of the word at
    Zipf rank r is 4 + r % 7 for every seed, so text volume does not vary
    with the seed; only the letters do."""
    lens = 4 + np.arange(size) % 7
    letters = np.zeros((size, 10), dtype=np.uint8)
    todo = np.arange(size)
    while todo.size:
        draw = rng.integers(97, 123, (todo.size, 10), dtype=np.uint8)
        draw[np.arange(10)[None, :] >= lens[todo][:, None]] = 0
        letters[todo] = draw
        words = letters.view("S10").ravel()
        _, first = np.unique(words, return_index=True)
        dup = np.ones(size, dtype=bool)
        dup[first] = False
        todo = np.flatnonzero(dup)
    return letters.view("S10").ravel()


def _texts(vocab, tokens, doc_len):
    """Documents as one Arrow string array without per-word Python work:
    words are space-separated, each document starts with a capital letter
    and ends with '.', so readers must case-fold and split on non-letters."""
    wlen = np.char.str_len(vocab.astype("U10")).astype(np.int64)
    blob = np.frombuffer(b"".join(w + b" " for w in vocab), dtype=np.uint8)
    wstart = np.concatenate([[0], np.cumsum(wlen + 1)[:-1]])
    tok_bytes = wlen[tokens] + 1
    total = int(tok_bytes.sum())
    tok_off = np.concatenate([[0], np.cumsum(tok_bytes)[:-1]])
    within = np.arange(total, dtype=np.int64) - np.repeat(tok_off, tok_bytes)
    flat = blob[np.repeat(wstart[tokens], tok_bytes) + within].copy()
    tok_doc_end = np.cumsum(doc_len) - 1
    flat[tok_off[tok_doc_end] + wlen[tokens[tok_doc_end]]] = ord(".")
    doc_tok0 = np.concatenate([[0], np.cumsum(doc_len)[:-1]])
    flat[tok_off[doc_tok0]] -= 32
    doc_off = np.concatenate([[0], tok_off[tok_doc_end] + tok_bytes[tok_doc_end]])
    arr = pa.StringArray.from_buffers(
        len(doc_len), pa.py_buffer(doc_off.astype(np.int32)),
        pa.py_buffer(flat))
    return arr, np.diff(doc_off)


def _documents(rng, doc_id, text, n_chars):
    n = len(doc_id)
    return pa.table({
        "doc_id": pa.array(doc_id, pa.int64()),
        "text": text,
        "lang": pa.array(LANGS[rng.integers(0, len(LANGS), n)], pa.string()),
        "source": pa.array(np.char.add("src", rng.integers(0, 20, n)
                                       .astype("U2")), pa.string()),
        "n_chars": pa.array(n_chars, pa.int64()),
    })


def zipf_corpus(out_dir, seed, params, scale=1.0):
    """Zipf-vocabulary corpus, optionally with planted near-duplicates:
    a `planted_frac` share of documents copy an earlier original document
    with a `subst_frac` share of their tokens redrawn. Writes
    documents.parquet; returns stats plus the exact word counts and the
    planted (source, duplicate) pairs."""
    rng = np.random.default_rng(seed)
    n = max(8, int(params["docs"] * scale))
    vocab = _vocabulary(rng, params["vocab"])
    cdf = np.cumsum(1.0 / np.arange(1, len(vocab) + 1) ** params["zipf_s"])
    cdf /= cdf[-1]

    def draw(k):
        return np.minimum(np.searchsorted(cdf, rng.random(k)), len(vocab) - 1)

    # exactly round(planted_frac * n) duplicates, never document 0
    planted = np.zeros(n, dtype=bool)
    planted[1 + rng.choice(n - 1, int(round(params["planted_frac"] * n)),
                           replace=False)] = True
    orig = np.flatnonzero(~planted)
    dup = np.flatnonzero(planted)
    # each duplicate copies a uniformly chosen EARLIER original
    src = orig[(rng.random(dup.size) *
                np.searchsorted(orig, dup)).astype(np.int64)]
    doc_len = np.maximum(rng.poisson(params["mean_words"], n), 8)
    doc_len[dup] = doc_len[src]
    start = np.concatenate([[0], np.cumsum(doc_len)[:-1]])
    tokens = np.empty(int(doc_len.sum()), dtype=np.int64)
    orig_pos = np.repeat(start[orig], doc_len[orig]) + _ranges(doc_len[orig])
    tokens[orig_pos] = draw(orig_pos.size)
    within = _ranges(doc_len[dup])
    dup_pos = np.repeat(start[dup], doc_len[dup]) + within
    tokens[dup_pos] = tokens[np.repeat(start[src], doc_len[dup]) + within]
    subst = dup_pos[rng.random(dup_pos.size) < params["subst_frac"]]
    tokens[subst] = draw(subst.size)

    text, n_chars = _texts(vocab, tokens, doc_len)
    _write(_documents(rng, np.arange(n), text, n_chars),
           f"{out_dir}/documents.parquet")
    if "dim" in params:  # one embedding per document (semantic-dedup input)
        _embeddings(rng, n, params["dim"], f"{out_dir}/embeddings.parquet")
    counts = np.bincount(tokens, minlength=len(vocab))
    words = vocab.astype("U10")
    order = np.lexsort((words, -counts))
    top = [[str(words[i]), int(counts[i])] for i in order[:20]]
    stats = dict(documents=int(n), text_bytes=int(n_chars.sum()),
                 words=int(tokens.size), distinct_words=int((counts > 0).sum()),
                 planted_pairs=int(dup.size), row_groups=1)
    return dict(stats=stats, top20=top,
                planted=np.stack([src, dup], axis=1).tolist())


def _ranges(lengths):
    """Concatenated aranges: [0..l0), [0..l1), ... ."""
    total = int(lengths.sum())
    off = np.repeat(np.cumsum(lengths) - lengths, lengths)
    return np.arange(total, dtype=np.int64) - off


def _embeddings(rng, n, dim, path):
    """`n` float32 vectors around 10 seeded cluster centres, fixture schema."""
    label = rng.integers(0, 10, n)
    centers = rng.normal(0.0, 1.0, (10, dim))
    emb = (centers[label] + rng.normal(0.0, 1.0, (n, dim))).astype(np.float32)
    _write(pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.ListArray.from_arrays(
            pa.array(np.arange(0, n * dim + 1, dim), pa.int32()),
            pa.array(emb.ravel(), pa.float32())),
        "label": pa.array(label, pa.int32()),
    }), path)


def _cents(rng, lo, hi, n):
    return rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0


def _ts(base_day, us):
    return pa.array(np.datetime64(base_day, "us") + us.astype("timedelta64[us]"),
                    pa.timestamp("us"))


def mix_corpus(out_dir, seed, params, scale=1.0):
    """TPC-H-ish orders/lineitem/customer, the event stream, a small-vocab
    document table and 64-dim embeddings, shaped like the repository's test fixtures
    (same columns, types and value ranges)."""
    rng = np.random.default_rng(seed)
    nc = max(20, int(params["customers"] * scale))
    no = max(40, int(params["orders"] * scale))
    ne = max(40, int(params["events"] * scale))
    nd = max(20, int(params["documents"] * scale))
    nv = max(20, int(params["embeddings"] * scale))
    # dimension tables (the SQL surface registers every fixture table)
    _write(pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE",
                            "MIDDLE EAST"], pa.string()),
    }), f"{out_dir}/region.parquet")
    _write(pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    }), f"{out_dir}/nation.parquet")
    _write(pa.table({
        "s_suppkey": pa.array(np.arange(1000), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(1000)],
                           pa.string()),
        "s_nationkey": pa.array(rng.integers(0, 25, 1000), pa.int32()),
        "s_acctbal": pa.array(_cents(rng, -999.99, 9999.99, 1000)),
    }), f"{out_dir}/supplier.parquet")
    np_ = 20_000
    _write(pa.table({
        "p_partkey": pa.array(np.arange(np_), pa.int64()),
        "p_name": pa.array(np.array(["large ring", "hot bolt", "blue ring",
                                     "small gear"], dtype=object)
                           [rng.integers(0, 4, np_)], pa.string()),
        "p_brand": pa.array(np.char.add("Brand#", rng.integers(
            1, 26, np_).astype("U2")), pa.string()),
        "p_type": pa.array(np.array(["LARGE", "ECONOMY", "SMALL", "MEDIUM"],
                                    dtype=object)[rng.integers(0, 4, np_)],
                           pa.string()),
        "p_size": pa.array(rng.integers(1, 51, np_), pa.int32()),
        "p_retailprice": pa.array(900.0 + np.arange(np_) % 1000 / 10.0),
    }), f"{out_dir}/part.parquet")

    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                     "MACHINERY"], dtype=object)
    custkey = np.arange(nc)
    _write(pa.table({
        "c_custkey": pa.array(custkey, pa.int64()),
        "c_name": pa.array(np.char.add("Customer#", np.char.zfill(
            custkey.astype("U9"), 9)), pa.string()),
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": pa.array(_cents(rng, -999.99, 9999.99, nc)),
        "c_mktsegment": pa.array(segs[rng.integers(0, 5, nc)], pa.string()),
    }), f"{out_dir}/customer.parquet")

    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                     "5-LOW"], dtype=object)
    odays = rng.integers(0, 2404, no)  # 1995-01-01 .. 2001-08-01
    _write(pa.table({
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": pa.array(np.array(["O", "F", "P"], dtype=object)
                                  [rng.integers(0, 3, no)], pa.string()),
        "o_totalprice": pa.array(_cents(rng, 1000.0, 500000.0, no)),
        "o_orderdate": _ts("1995-01-01", odays * US_PER_DAY),
        "o_orderpriority": pa.array(prio[rng.integers(0, 5, no)], pa.string()),
    }), f"{out_dir}/orders.parquet")

    # 1-7 lines per order, (l_orderkey, l_linenumber) unique
    nlines = rng.integers(1, 8, no)
    nl = int(nlines.sum())
    _write(pa.table({
        "l_orderkey": pa.array(np.repeat(np.arange(no), nlines), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, 20_000, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, 1_000, nl), pa.int64()),
        "l_linenumber": pa.array(_ranges(nlines) + 1, pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, nl).astype(np.float64)),
        "l_extendedprice": pa.array(_cents(rng, 900.0, 105000.0, nl)),
        "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0),
        "l_returnflag": pa.array(np.array(["N", "A", "R"], dtype=object)
                                 [rng.integers(0, 3, nl)], pa.string()),
        "l_linestatus": pa.array(np.array(["O", "F"], dtype=object)
                                 [rng.integers(0, 2, nl)], pa.string()),
        "l_shipdate": _ts("1995-01-02", rng.integers(0, 2498, nl) * US_PER_DAY),
    }), f"{out_dir}/lineitem.parquet")

    etypes = np.array(["click", "view", "purchase", "signup", "error"],
                      dtype=object)
    _write(pa.table({
        "event_id": pa.array(np.arange(ne), pa.int64()),
        "ts": _ts("2024-01-01", np.sort(rng.integers(0, 30 * US_PER_DAY, ne))),
        "user_id": pa.array(rng.integers(0, 1500, ne), pa.int64()),
        "event_type": pa.array(etypes[rng.integers(0, 5, ne)], pa.string()),
        "value": pa.array(_cents(rng, 0.0, 200.0, ne)),
        "props": pa.array(np.char.add(np.char.add('{"k": ', rng.integers(
            0, 100, ne).astype("U3")), "}"), pa.string()),
    }), f"{out_dir}/events.parquet")

    vocab = np.array([w.encode() for w in MIX_VOCAB], dtype="S10")
    doc_len = rng.integers(10, 61, nd)
    tokens = rng.integers(0, len(vocab), int(doc_len.sum()))
    text, n_chars = _texts(vocab, tokens, doc_len)
    _write(_documents(rng, np.arange(nd), text, n_chars),
           f"{out_dir}/documents.parquet")

    _embeddings(rng, nv, params["dim"], f"{out_dir}/embeddings.parquet")
    stats = dict(customers=nc, orders=no, lineitems=nl, events=ne,
                 documents=nd, embeddings=nv, text_bytes=int(n_chars.sum()),
                 row_groups=1)
    return dict(stats=stats)


def generate(out_dir, corpus, seed, scale=1.0):
    t0 = time.perf_counter()
    if corpus == "zipf":
        out = zipf_corpus(out_dir, seed, ZIPF, scale)
    elif corpus == "dedup":
        out = zipf_corpus(out_dir, seed, DEDUP, scale)
    elif corpus == "mix":
        out = mix_corpus(out_dir, seed, MIX, scale)
    else:
        raise ValueError(f"unknown corpus {corpus!r}")
    out["gen_s"] = time.perf_counter() - t0
    return out


if __name__ == "__main__":
    import os
    os.makedirs(sys.argv[1], exist_ok=True)
    res = generate(sys.argv[1], sys.argv[2], int(sys.argv[3]),
                   float(sys.argv[4]) if len(sys.argv) > 4 else 1.0)
    print(json.dumps(dict(stats=res["stats"], gen_s=res["gen_s"])))
