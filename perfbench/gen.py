"""Seeded input generators for the graft benchmark.

Every table is a pure function of (seed, size): the same seed writes the
same parquet bytes' worth of values. graft never sees the seed, only the
files. Each generator also returns a small "planted" record (what was put
into the data on purpose: duplicate rows, near-duplicate families, vector
clusters) that the correctness checks compare graft's outputs against.

    python3 perfbench/gen.py <workload> <seed> <out_dir>

writes the workload's tables plus planted.json into <out_dir>.
"""
import datetime as dt
import json
import os
import sys
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Sizes. Chosen so that one warm round of each workload takes a few
# seconds on a 4-core host: enough work that the layer the workload is
# about dominates, little enough that a run holds several rounds.
TALL_ROWS = 20_000
TALL_DUPS = 200            # exact duplicate rows appended to the tall table
WIDE_ROWS = 2_000
WIDE_NUMERIC = 9
WIDE_CATEGORICAL = 3
CORPUS_DOCS = 1_000
CORPUS_EXACT_DUPS = 30     # re-cased / re-spaced copies of existing docs
CORPUS_NEAR_FAMILIES = 25  # families of 2-4 docs with a few words swapped
VOCAB = 4_000
ZIPF_S = 1.15
EMBED_DIM = 64
EMBED_CLUSTERS = 24
CATALOG_SF = 0.002         # TPC-H-ish tables, lineitem = 6e6 * sf rows

# The stopword lists graft's language-ID heuristic scores against; the
# generator writes text in these languages so q28 has a ground truth.
STOPWORDS = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "that", "it", "for"],
    "de": ["der", "die", "und", "das", "ist", "nicht", "mit", "ein", "zu",
           "den"],
    "fr": ["le", "la", "et", "les", "des", "est", "une", "dans", "que",
           "pour"],
    "es": ["el", "la", "de", "que", "y", "los", "una", "es", "por", "con"],
}
LANGS = sorted(STOPWORDS)
EPOCH = dt.datetime(1970, 1, 1)


def _write(table, path):
    pq.write_table(table, path, row_group_size=1 << 20)


def _ts(rng, n, start, span_days, step_s=1):
    """Timestamps at step_s granularity (86_400: whole days, as the TPC-H
    date columns of the fixture)."""
    base = int((start - EPOCH).total_seconds() * 1e6)
    us = base + rng.integers(0, span_days * 86_400 // step_s, n) * \
        step_s * 1_000_000
    return pa.array(us, type=pa.timestamp("us"))


def _masked(values, mask):
    return pa.array(values, mask=mask)


# ---------------------------------------------------------------- profile

def tall_table(rng):
    """11 columns, every supported profile type: numerics (int, double,
    skewed, zero-heavy, nullable), a low-distinct numeric that demotes to
    Categorical, low/high-cardinality strings, booleans, a date and a
    timestamp. Exact duplicate rows are appended: TALL_DUPS distinct
    source rows copied once each."""
    n = TALL_ROWS
    x = rng.normal(0, 1, n)
    cols = {
        "id": pa.array(np.arange(n, dtype=np.int64)),
        "score": pa.array(x),
        "income": pa.array(np.round(rng.lognormal(10, 1.2, n), 2)),
        "zeros": pa.array(np.where(rng.random(n) < 0.6, 0.0,
                                   rng.exponential(5, n) + 0.5 * x)),
        "rating": _masked(rng.normal(3, 1, n), rng.random(n) < 0.15),
        "level": pa.array(rng.integers(0, 4, n).astype(np.int64)),
        "segment": pa.array(rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
             "MACHINERY"], n, p=[0.4, 0.25, 0.15, 0.12, 0.08])),
        "city": _masked(np.array([f"city_{v:05d}" for v in
                                  rng.zipf(1.3, n) % 20_000]),
                        rng.random(n) < 0.05),
        "active": _masked(rng.random(n) < 0.7, rng.random(n) < 0.02),
        "signup": pa.array((np.datetime64("2015-01-01") +
                            rng.integers(0, 3_000, n)).astype("datetime64[D]")),
        "last_seen": _ts(rng, n, dt.datetime(2024, 1, 1), 365),
    }
    t = pa.table(cols)
    src = np.sort(rng.choice(n, TALL_DUPS, replace=False))
    t = pa.concat_tables([t, t.take(pa.array(src))])
    return t, {"tall_rows": t.num_rows, "tall_dups": TALL_DUPS,
               "tall_cols": t.num_columns}


def wide_table(rng):
    """WIDE_ROWS x (WIDE_NUMERIC + WIDE_CATEGORICAL) columns: numerics in
    correlated blocks of five (so Pearson has structure) and a few
    categoricals; correlation pairs grow as columns squared."""
    n = WIDE_ROWS
    cols = {}
    base = None
    for i in range(WIDE_NUMERIC):
        if i % 5 == 0:
            base = rng.normal(0, 1, n)
        v = base * rng.uniform(0.5, 2) + rng.normal(0, 0.5, n)
        cols[f"n{i:02d}"] = _masked(np.round(v, 4), rng.random(n) < 0.03)
    for i in range(WIDE_CATEGORICAL):
        k = [3, 7, 12, 25, 60, 200][i % 6]
        cols[f"c{i:02d}"] = pa.array(np.array(
            [f"v{v}" for v in rng.integers(0, k, n)]))
    t = pa.table(cols)
    return t, {"wide_rows": n, "wide_cols": t.num_columns}


# ----------------------------------------------------------------- corpus

def _vocab(rng):
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words = set()
    while len(words) < VOCAB:
        k = int(rng.integers(3, 10))
        words.add("".join(rng.choice(letters, k)))
    stop = {w for ws in STOPWORDS.values() for w in ws}
    return np.array(sorted(words - stop))


def corpus(rng):
    """documents(doc_id, text, lang, source, n_chars) and
    embeddings(vec_id, embedding, label) in the fixture's schema.

    Text: each document picks a language and draws ~30% of its words from
    that language's stopwords and the rest from a Zipf(ZIPF_S) vocabulary.
    Planted: exact duplicates (copies re-cased and re-spaced, so only the
    normalized text matches) and near-duplicate families (a base document
    plus 1-3 variants with ~4% of words replaced).
    Vectors: EMBED_CLUSTERS small clusters around random centres, cluster
    sizes 10-50, noise scaled per cluster, so PQ/IVF recall sits between
    0 and 1 rather than collapsing to either end."""
    vocab = _vocab(rng)
    ranks = np.arange(1, len(vocab) + 1, dtype=np.float64)
    p = ranks ** -ZIPF_S
    p /= p.sum()
    base_docs = CORPUS_DOCS - CORPUS_EXACT_DUPS
    texts, langs = [], []
    families = []
    i = 0
    while len(texts) < base_docs:
        lang = LANGS[int(rng.integers(0, len(LANGS)))]
        m = int(rng.integers(25, 140))
        ws = rng.choice(vocab, m, p=p).astype(object)
        stop_pos = rng.random(m) < 0.3
        ws[stop_pos] = rng.choice(STOPWORDS[lang], int(stop_pos.sum()))
        words = list(ws)
        texts.append(" ".join(words))
        langs.append(lang)
        if i < CORPUS_NEAR_FAMILIES and m >= 60:
            fam = [len(texts) - 1]
            for _ in range(int(rng.integers(1, 4))):
                if len(texts) >= base_docs:
                    break
                v = list(words)
                for pos in rng.choice(m, max(1, m // 25), replace=False):
                    v[pos] = str(rng.choice(vocab, p=p))
                texts.append(" ".join(v))
                langs.append(lang)
                fam.append(len(texts) - 1)
            if len(fam) > 1:
                families.append(fam)
                i += 1
    exact_src = sorted(int(s) for s in
                       rng.choice(base_docs, CORPUS_EXACT_DUPS, replace=False))
    for s in exact_src:
        t = texts[s].split(" ")
        texts.append("  ".join(w.upper() if j % 3 == 0 else w
                               for j, w in enumerate(t)) + " ")
        langs.append(langs[s])
    # shuffle ids so planted copies do not sit next to their sources
    perm = rng.permutation(len(texts))
    inv = np.empty_like(perm)
    inv[perm] = np.arange(len(perm))
    texts = [texts[j] for j in perm]
    langs = [langs[j] for j in perm]
    n = len(texts)
    docs = pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(langs),
        "source": pa.array([f"src{v}" for v in rng.integers(0, 20, n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })

    # vectors
    sizes = rng.integers(10, 51, EMBED_CLUSTERS)
    centres = rng.normal(0, 1, (EMBED_CLUSTERS, EMBED_DIM))
    vecs, labels = [], []
    for c in range(EMBED_CLUSTERS):
        spread = rng.uniform(0.15, 0.6)
        vecs.append(centres[c] + rng.normal(0, spread, (sizes[c], EMBED_DIM)))
        labels += [c % 10] * int(sizes[c])
    v = np.concatenate(vecs)
    order = rng.permutation(len(v))
    v = (v[order] / np.linalg.norm(v[order], axis=1, keepdims=True)) * 0.8
    v = v.astype(np.float32)
    labels = np.array(labels, dtype=np.int32)[order]
    emb = pa.table({
        "vec_id": pa.array(np.arange(len(v), dtype=np.int64)),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": pa.array(labels),
    })
    planted = {
        "docs": n,
        "exact_dup_pairs": [[int(inv[s]), int(inv[base_docs + k])]
                            for k, s in enumerate(exact_src)],
        "near_dup_families": [[int(inv[j]) for j in fam] for fam in families],
        "vectors": int(len(v)),
        "vector_clusters": EMBED_CLUSTERS,
        "vector_cluster_sizes": [int(s) for s in sizes],
    }
    return docs, emb, planted


# ---------------------------------------------------------------- catalog

def tpch_tables(rng):
    """The fixture's TPC-H-ish star schema plus events, same column names,
    types and value domains, scaled by CATALOG_SF."""
    sf = CATALOG_SF
    n_cust, n_part, n_supp = int(150_000 * sf), int(200_000 * sf), \
        max(10, int(10_000 * sf))
    n_orders, n_line, n_events = int(1_500_000 * sf), int(6_000_000 * sf), \
        int(1_000_000 * sf)
    region = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE",
                            "MIDDLE EAST"])})
    nation = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32))})
    customer = pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99,
                                                   n_cust), 2)),
        "c_mktsegment": pa.array(rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
             "MACHINERY"], n_cust))})
    colors = ["blue", "red", "green", "small", "large", "black", "white",
              "steel", "brass", "copper", "shiny", "matte", "tiny"]
    things = ["anvil", "widget", "bolt", "ring", "gear"]
    part = pa.table({
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": pa.array([f"{colors[a]} {things[b]}" for a, b in zip(
            rng.integers(0, len(colors), n_part),
            rng.integers(0, len(things), n_part))]),
        "p_brand": pa.array([f"Brand#{v}" for v in
                             rng.integers(1, 26, n_part)]),
        "p_type": pa.array(rng.choice(["ECONOMY", "LARGE", "MEDIUM",
                                       "PROMO", "SMALL", "STANDARD"], n_part)),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(np.round(
            900 + (np.arange(n_part) % 1000) * 0.1, 2))})
    supplier = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99,
                                                   n_supp), 2))})
    odate = _ts(rng, n_orders, dt.datetime(1995, 1, 1), 2400, 86_400)
    orders = pa.table({
        "o_orderkey": pa.array(np.arange(n_orders, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_orders)
                              .astype(np.int64)),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_orders,
                                             p=[0.49, 0.49, 0.02])),
        "o_totalprice": pa.array(np.round(rng.uniform(1000, 500_000,
                                                      n_orders), 2)),
        "o_orderdate": odate,
        "o_orderpriority": pa.array(rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
            n_orders))})
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    lineitem = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_orders, n_line)
                               .astype(np.int64)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line)
                              .astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line)
                              .astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line).astype(np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(
            qty * rng.uniform(900, 2100, n_line), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_line)),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n_line)),
        "l_shipdate": _ts(rng, n_line, dt.datetime(1995, 1, 2), 2500,
                          86_400)})
    ev_ts = np.sort(rng.integers(
        int((dt.datetime(2024, 1, 1) - EPOCH).total_seconds() * 1e6),
        int((dt.datetime(2024, 1, 31) - EPOCH).total_seconds() * 1e6),
        n_events))
    events = pa.table({
        "event_id": pa.array(np.arange(n_events, dtype=np.int64)),
        "ts": pa.array(ev_ts, type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 150, n_events).astype(np.int64)),
        "event_type": pa.array(rng.choice(
            ["click", "error", "purchase", "scroll", "view"], n_events)),
        "value": pa.array(np.round(rng.exponential(50, n_events) + 0.01, 2)),
        "props": pa.array([f'{{"k": {v}}}' for v in
                           rng.integers(0, 100, n_events)])})
    return {"region": region, "nation": nation, "customer": customer,
            "part": part, "supplier": supplier, "orders": orders,
            "lineitem": lineitem, "events": events}


# ------------------------------------------------------------------ entry

def generate(workload, seed, out_dir):
    t0 = time.perf_counter()
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, {"profile": 1, "queries": 2}[workload]])
    planted = {"workload": workload, "seed": seed}
    if workload == "profile":
        tall, pt = tall_table(rng)
        wide, pw = wide_table(rng)
        _write(tall, f"{out_dir}/tall.parquet")
        _write(wide, f"{out_dir}/wide.parquet")
        planted.update(pt, **pw)
    else:
        docs, emb, pc = corpus(rng)
        _write(docs, f"{out_dir}/documents.parquet")
        _write(emb, f"{out_dir}/embeddings.parquet")
        planted.update(pc)
        for name, t in tpch_tables(rng).items():
            _write(t, f"{out_dir}/{name}.parquet")
    planted["generation_s"] = round(time.perf_counter() - t0, 3)
    with open(f"{out_dir}/planted.json", "w") as f:
        json.dump(planted, f)
    return planted


if __name__ == "__main__":
    w, s, out = sys.argv[1], int(sys.argv[2]), sys.argv[3]
    print(json.dumps({k: v for k, v in generate(w, s, out).items()
                      if not isinstance(v, list)}))
