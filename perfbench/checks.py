"""Per-run correctness checks, computed apart from graft.

check(workload, out, data, planted, slots) -> (bad, detail)
  bad:    {operation: reason} for every operation whose output is wrong
  detail: figures for the run's detail line (never metrics)

profile: every profile JSON the run wrote is compared with DuckDB over the
  same parquet (n, count, distinct, unique, min/max/mean/std, quantiles
  inside the GK rank envelope, Pearson, booleans, date ranges, duplicate
  rows) and with the planted duplicate count. Sketch-mode profiles get the
  bounds SketchAccuracySpec states: n and count exact, distinct within
  3 rsd, quantiles inside the rank envelope.
queries: dedup and text rows are recomputed in Python from the generated
  corpus (normalized-text duplicates, word-3-gram Jaccard of every reported
  pair, LSH recall against the S-curve, stopword language ID, quality
  signals); the vector rows
  against a numpy replay of the PQ training and ADC ranking with brute-force
  exact neighbours; the catalog sample runs each row's
  SparkEntry.oracleSql in DuckDB with scripts/check_oracle.py's rules.
"""
import contextlib
import glob
import io
import json
import math
import os
import re
import sys
from decimal import Decimal, ROUND_HALF_UP

import duckdb
import numpy as np

import gen

QUANTILE_EPS = 0.01        # ProfileConfig.quantileRelativeError
DISTINCT_RSD = 0.02        # ProfileConfig.distinctRsd
LSH_HASHES, LSH_BANDS, LSH_THRESHOLD = 16, 4, 0.7
LSH_RECALL_SLACK = 0.05    # on top of three binomial standard errors


def _close(a, b, rel=1e-9, abs_=1e-9):
    if a is None or b is None:
        return a is None and b is None
    return abs(a - b) <= max(abs_, rel * max(abs(a), abs(b)))


def _round6(x):
    """Spark's round(x, 6) on a double: HALF_UP on the decimal string."""
    return float(Decimal(repr(float(x))).quantize(Decimal("1e-6"),
                                                  ROUND_HALF_UP))


# ---------------------------------------------------------------- profile

def _profile_reference(con, path):
    """DuckDB's figures for every column of one parquet table."""
    cols = con.execute(f"DESCRIBE SELECT * FROM '{path}'").fetchall()
    n = con.execute(f"SELECT count(*) FROM '{path}'").fetchone()[0]
    dups = n - con.execute(
        f"SELECT count(*) FROM (SELECT DISTINCT * FROM '{path}')").fetchone()[0]
    ref = {}
    for name, typ, *_ in cols:
        q = f'"{name}"'
        cnt, nd = con.execute(
            f"SELECT count({q}), count(DISTINCT {q}) FROM '{path}'").fetchone()
        nu = con.execute(
            f"SELECT count(*) FROM (SELECT {q} FROM '{path}' WHERE {q} IS NOT "
            f"NULL GROUP BY {q} HAVING count(*) = 1)").fetchone()[0]
        r = {"type": typ, "count": cnt, "n_distinct": nd, "n_unique": nu}
        if typ in ("BIGINT", "INTEGER", "DOUBLE", "FLOAT"):
            r.update(zip(["min", "max", "mean", "std"], con.execute(
                f"SELECT min({q})::DOUBLE, max({q})::DOUBLE, avg({q}::DOUBLE),"
                f" stddev_samp({q}::DOUBLE) FROM '{path}'").fetchone()))
            r["sorted"] = np.sort(np.array(
                [v[0] for v in con.execute(
                    f"SELECT {q}::DOUBLE FROM '{path}' WHERE {q} IS NOT NULL"
                ).fetchall()], dtype=np.float64))
        elif typ == "VARCHAR":
            r["freq"] = con.execute(
                f"SELECT count(*) c FROM '{path}' WHERE {q} IS NOT NULL "
                f"GROUP BY {q} ORDER BY c DESC LIMIT 1").fetchone()[0]
        elif typ == "BOOLEAN":
            r["n_true"] = con.execute(
                f"SELECT count(*) FROM '{path}' WHERE {q}").fetchone()[0]
        elif typ.startswith("TIMESTAMP") or typ == "DATE":
            r["min_epoch"], r["max_epoch"] = con.execute(
                f"SELECT epoch(min({q}))::BIGINT, epoch(max({q}))::BIGINT "
                f"FROM '{path}'").fetchone()
        ref[name] = r
    numeric = [c for c, r in ref.items() if "sorted" in r]
    pearson = {}
    for i, a in enumerate(numeric):
        for b in numeric[i + 1:]:
            pearson[(a, b)] = con.execute(
                f'SELECT corr("{a}"::DOUBLE, "{b}"::DOUBLE) '
                f"FROM '{path}'").fetchone()[0]
    return {"n": n, "dups": dups, "cols": ref, "pearson": pearson}


def _in_rank_envelope(sorted_vals, q, v):
    """v is a valid q-quantile answer within QUANTILE_EPS of rank."""
    m = len(sorted_vals)
    lo = np.searchsorted(sorted_vals, v, side="left")
    hi = np.searchsorted(sorted_vals, v, side="right")
    return hi >= (q - QUANTILE_EPS) * m - 1 and lo <= (q + QUANTILE_EPS) * m + 1


def _check_profile_json(p, ref, sketch):
    errs = []
    if p["table"]["n"] != ref["n"]:
        errs.append(f"table n {p['table']['n']} != {ref['n']}")
    if p["duplicates"]["n_duplicates"] != ref["dups"]:
        errs.append(f"n_duplicates {p['duplicates']['n_duplicates']} != "
                    f"{ref['dups']}")
    for name, r in ref["cols"].items():
        v = p["variables"].get(name)
        if v is None:
            errs.append(f"{name}: missing")
            continue
        if v["n"] != ref["n"] or v["count"] != r["count"]:
            errs.append(f"{name}: n/count {v['n']}/{v['count']}")
        if sketch:
            tol = 3 * DISTINCT_RSD * r["n_distinct"] + 1
            if abs(v["n_distinct"] - r["n_distinct"]) > tol:
                errs.append(f"{name}: n_distinct {v['n_distinct']} vs "
                            f"{r['n_distinct']} outside 3 rsd")
        else:
            if v["n_distinct"] != r["n_distinct"] or \
                    v.get("n_unique") != r["n_unique"]:
                errs.append(f"{name}: distinct/unique {v['n_distinct']}/"
                            f"{v.get('n_unique')} vs {r['n_distinct']}/"
                            f"{r['n_unique']}")
        if v["type"] == "Numeric":
            for k in ("min", "max"):
                if v[k] != r[k]:
                    errs.append(f"{name}: {k} {v[k]} != {r[k]}")
            for k in ("mean", "std"):
                if not _close(v[k], r[k]):
                    errs.append(f"{name}: {k} {v[k]} vs {r[k]}")
            for key, val in v["quantiles"].items():
                q = float(key.rstrip("%")) / 100
                if val is None or not _in_rank_envelope(r["sorted"], q, val):
                    errs.append(f"{name}: quantile {key}={val} outside the "
                                "rank envelope")
        elif v["type"] == "Categorical" and not sketch and "freq" in r:
            if v["freq"] != r["freq"]:
                errs.append(f"{name}: mode freq {v['freq']} != {r['freq']}")
        elif v["type"] == "Boolean":
            if v["n_true"] != r["n_true"]:
                errs.append(f"{name}: n_true {v['n_true']} != {r['n_true']}")
        elif v["type"] == "DateTime":
            if (v["min_epoch_sec"], v["max_epoch_sec"]) != \
                    (r["min_epoch"], r["max_epoch"]):
                errs.append(f"{name}: epoch range differs")
    pear = p["correlations"].get("pearson")
    if pear:
        cols, vals = pear["columns"], pear["values"]
        for i, a in enumerate(cols):
            for j, b in enumerate(cols):
                want = ref["pearson"].get((a, b))
                if j > i and want is not None and \
                        not _close(vals[i][j], want, rel=1e-6, abs_=1e-9):
                    errs.append(f"pearson({a},{b}) {vals[i][j]} vs {want}")
    return errs


def check_profile(out, data, planted):
    con = duckdb.connect()
    refs = {t: _profile_reference(con, f"{data}/{t}.parquet")
            for t in ("tall", "wide")}
    bad, counted = {}, {}
    if refs["tall"]["dups"] != planted["tall_dups"]:
        bad["profile_exact"] = "planted duplicate count not in the data"
    for path in sorted(glob.glob(f"{out}/json/*.json")):
        op = os.path.basename(path)[:-len(".json")]
        counted[op] = counted.get(op, 0) + 1
        with open(path) as f:
            p = json.load(f)
        ref = refs["wide" if op == "profile_wide" else "tall"]
        errs = _check_profile_json(p, ref, sketch=op == "profile_sketch")
        if errs:
            bad[op] = "; ".join(errs[:5])
    return bad, {"profiles_checked": counted}


# ---------------------------------------------------------------- queries

def _words(text):
    return [w for w in re.split(r"\s+", text.lower()) if w]


def _shingles(text, n=3):
    ws = _words(text)
    return {" ".join(ws[i:i + n]) for i in range(len(ws) - n + 1)}


def _jaccard(a, b):
    return len(a & b) / len(a | b) if a or b else 0.0


def _rows(con, out, name):
    path = f"{out}/{name}"
    if not glob.glob(f"{path}/*.parquet"):
        return None
    return con.execute(f"SELECT * FROM '{path}/*.parquet'").fetchall()


def _check_dedup(con, out, docs, planted, bad, detail):
    texts = dict(zip(docs["doc_id"], docs["text"]))
    norm = [" ".join(t.lower().split()) for t in docs["text"]]
    r = _rows(con, out, "q21_dedup_exact")
    want = (len(norm) - len(set(norm)), len(set(norm)))
    if r is None or tuple(r[0]) != want:
        bad["q21_dedup_exact"] = f"{r} != {want}"
    elif want[0] < len(planted["exact_dup_pairs"]):
        bad["q21_dedup_exact"] = "planted exact duplicates missing"

    r = _rows(con, out, "q24_minhash_lsh")
    if r is None:
        bad["q24_minhash_lsh"] = "no output"
        return
    sh = {i: _shingles(t) for i, t in texts.items()}
    pairs = {(i, j) for i, j, _ in r}
    for i, j, jac in r:
        true = _jaccard(sh[i], sh[j])
        if true < LSH_THRESHOLD or abs(true - jac) > 1e-6:
            bad["q24_minhash_lsh"] = f"pair ({i},{j}) reports {jac}, " \
                                     f"recomputed {true}"
            break
    planted_pairs = [tuple(sorted(p)) for p in planted["exact_dup_pairs"]]
    for fam in planted["near_dup_families"]:
        planted_pairs += [(min(a, b), max(a, b)) for k, a in enumerate(fam)
                          for b in fam[k + 1:]]
    eligible = [(p, _jaccard(sh[p[0]], sh[p[1]])) for p in set(planted_pairs)]
    eligible = [(p, s) for p, s in eligible if s >= LSH_THRESHOLD]
    probs = [1 - (1 - s ** (LSH_HASHES // LSH_BANDS)) ** LSH_BANDS
             for _, s in eligible]
    found = sum(1 for p, _ in eligible if p in pairs)
    if eligible:
        expect = sum(probs) / len(probs)
        sd = math.sqrt(sum(q * (1 - q) for q in probs)) / len(probs)
        recall = found / len(eligible)
        detail["lsh_planted_recall"] = round(recall, 4)
        detail["lsh_expected_recall"] = round(expect, 4)
        if recall < expect - 3 * sd - LSH_RECALL_SLACK:
            bad["q24_minhash_lsh"] = f"planted recall {recall:.3f} below " \
                                     f"S-curve {expect:.3f}"
    for i, j in planted["exact_dup_pairs"]:
        if (min(i, j), max(i, j)) not in pairs:
            bad["q24_minhash_lsh"] = f"exact duplicate pair ({i},{j}) missed"
    detail["lsh_verified_pairs"] = len(pairs)


def _check_text(con, out, docs, bad, detail):
    r = _rows(con, out, "q28_langid")
    correct_lang = 0
    if r is None:
        bad["q28_langid"] = "no output"
    else:
        got = {row[0]: row[1:] for row in r}
        for i, text, lang in zip(docs["doc_id"], docs["text"], docs["lang"]):
            ws = _words(text)
            sc = {l: _round6(sum(w in gen.STOPWORDS[l] for w in ws) /
                             max(len(ws), 1)) for l in gen.LANGS}
            best = max(gen.LANGS, key=lambda l: (sc[l], l))
            pred = best if sc[best] > 0 else "und"
            want = (sc["de"], sc["en"], sc["es"], sc["fr"], pred)
            if got.get(i) != want:
                bad["q28_langid"] = f"doc {i}: {got.get(i)} != {want}"
                break
            correct_lang += pred == lang
        detail["langid_accuracy"] = round(correct_lang / len(docs["text"]), 4)

    r = _rows(con, out, "q29_text_quality")
    if r is None:
        bad["q29_text_quality"] = "no output"
        return
    got = {row[0]: row[1:] for row in r}
    for i, t in zip(docs["doc_id"], docs["text"]):
        ws = _words(t)
        n = max(len(t), 1)
        mwl = _round6(sum(map(len, ws)) / max(len(ws), 1))
        punct = _round6(len(re.findall(r"[^A-Za-z0-9\s]", t)) / n)
        digit = _round6(len(re.findall(r"[0-9]", t)) / n)
        upper = _round6(len(re.findall(r"[A-Z]", t)) / n)
        score = _round6(max(0.0, min(len(t) / 200.0, 1.0) * 0.4 +
                            (1.0 if 3.0 <= mwl <= 10.0 else 0.5) * 0.3 +
                            (1.0 - min(punct * 2.0, 1.0)) * 0.2 +
                            (1.0 - min(digit * 2.0, 1.0)) * 0.1))
        want = (len(t), len(ws), mwl, punct, digit, upper)
        g = got.get(i)
        if g is None or tuple(g[:6]) != want or abs(g[6] - score) > 1e-6:
            bad["q29_text_quality"] = f"doc {i}: {g} != {want + (score,)}"
            break


def _pq_replay(emb, qids, m=4, k=8, topk=10):
    """q254's pipeline in numpy: one quantized Lloyd round from the 8
    lowest-id vectors, encode, integer-micro ADC, exact L2; returns
    {query: overlap of the ADC and exact top-k}."""
    ids = np.array(sorted(emb))
    v = np.stack([emb[i] for i in ids])
    d = v.shape[1] // m
    sub = [v[:, s * d:(s + 1) * d] for s in range(m)]

    def assign(x, c):
        dist = np.round((x * x).sum(1)[:, None] - 2 * x @ c.T +
                        (c * c).sum(1)[None, :], 6)
        return dist.argmin(1)
    cents = []
    for s in range(m):
        c0 = sub[s][:k].copy()
        a = assign(sub[s], c0)
        c1 = c0.copy()
        for c in range(k):
            mem = sub[s][a == c]
            if len(mem):
                c1[c] = np.round(np.floor(mem * 1e6 + 0.5).sum(0) / 1e6 /
                                 len(mem), 9)
        cents.append(c1)
    codes = np.stack([assign(sub[s], cents[s]) for s in range(m)], 1)
    out = {}
    for q in qids:
        qi = int(np.searchsorted(ids, q))
        adc = np.zeros(len(ids), dtype=np.int64)
        for s in range(m):
            qs = sub[s][qi]
            tab = np.floor(((qs * qs).sum() - 2 * cents[s] @ qs +
                            (cents[s] * cents[s]).sum(1)) * 1e6 + 0.5)
            adc += tab.astype(np.int64)[codes[:, s]]
        exact = np.floor(((v * v).sum(1) - 2 * v @ v[qi] +
                          (v[qi] * v[qi]).sum()) * 1e6 + 0.5).astype(np.int64)
        mask = ids != q
        top = lambda dist: set(ids[mask][np.lexsort(
            (ids[mask], dist[mask]))][:topk].tolist())
        out[int(q)] = len(top(adc) & top(exact))
    return out


def _check_vectors(con, out, data, bad, detail):
    rows = con.execute(f"SELECT vec_id, embedding FROM "
                       f"'{data}/embeddings.parquet'").fetchall()
    emb = {i: np.array(e, dtype=np.float32).astype(np.float64)
           for i, e in rows}
    r = _rows(con, out, "q254_pq_adc_recall")
    if r is None:
        bad["q254_pq_adc_recall"] = "no output"
        return
    replay = _pq_replay(emb, range(10))
    got = {int(q): (n, rec) for q, n, rec in r}
    detail["pq_recall_at_10"] = round(
        sum(rec for _, rec in got.values()) / max(len(got), 1), 4)
    detail["pq_recount_max_diff"] = max(
        abs(got[q][0] - n) if q in got else 10 for q, n in replay.items())
    for q, n in replay.items():
        g = got.get(q)
        if g is None or abs(g[0] - n) > 1 or abs(g[1] - g[0] / 10) > 1e-9:
            bad["q254_pq_adc_recall"] = f"query {q}: {g} vs recount {n}"
            break


def _check_oracle(out, data, names, bad):
    """scripts/check_oracle.py's compare, one MATCH line per row. The other
    rows' oracles are left to deepcheck.py: some are recursive SQL."""
    sys.path.insert(0, os.path.join(os.getcwd(), "scripts"))
    import check_oracle
    with open(f"{out}/oracle_sql.json") as f:
        oracle = json.load(f)
    with open(f"{out}/oracle_sql.json", "w") as f:
        json.dump({n: oracle[n] for n in names if n in oracle}, f)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        check_oracle.main(out, data)
    matched = set(re.findall(r"^MATCH (\S+)", buf.getvalue(), re.M))
    for n in names:
        if n not in matched:
            line = [ln for ln in buf.getvalue().splitlines() if n in ln]
            bad[n] = line[0] if line else "not compared"


def check_queries(out, data, planted, slots):
    con = duckdb.connect()
    docs = {c: [r[k] for r in con.execute(
        f"SELECT doc_id, text, lang, n_chars FROM "
        f"'{data}/documents.parquet' ORDER BY doc_id").fetchall()]
        for k, c in enumerate(["doc_id", "text", "lang", "n_chars"])}
    bad, detail = {}, {}
    _check_dedup(con, out, docs, planted, bad, detail)
    _check_text(con, out, docs, bad, detail)
    _check_vectors(con, out, data, bad, detail)
    _check_oracle(out, data, slots["a"], bad)
    return bad, detail


def check(workload, out, data, planted, slots):
    if workload == "profile":
        return check_profile(out, data, planted)
    return check_queries(out, data, planted, slots)
