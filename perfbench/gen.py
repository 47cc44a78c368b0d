"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed and size arguments: the same
seed writes byte-identical inputs. Each returns the measured share of every
input property it sets, so a claim that a change helps only on, say,
duplicate-heavy input can cite the share the workload actually had.

- `tables`: the ten sf0.1-shaped tables the query surface reads
  (TPC-H-like star, `events`, `documents`, `embeddings`), drawn from the
  same column distributions as the reference sf0.1 corpus with a different
  seed (the corpus-B idea: same structure, every accident moved).
- `curation_corpus`: `documents` + aligned `embeddings` (vec_id == doc_id)
  with planted exact duplicates, word-level near duplicates (Jaccard >= 0.8
  on word 3-shingles), embedding-level semantic duplicates and train/test
  contamination (12-word spans, so 8-grams, copied out of test-split
  documents).
- `posts`: reddit-style post files for the streaming ingest spine, with a
  synthesized ticker universe, Zipf-skewed ticker mentions, re-posts and
  event-time disorder inside the 7-day dedup horizon.
"""
import datetime as dt
import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# The reference sf0.1 document vocabulary (30 words + the rare "dup").
VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
LANGS = np.array(["en", "fr", "zh", "de", "es"])
LANG_P = [0.41, 0.15, 0.15, 0.14, 0.15]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
P_TYPES = ["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"]
P_ADJ = ["red", "new", "hot", "small", "cold", "large", "old", "blue"]
P_NOUN = ["bolt", "anvil", "ring", "rod", "plate", "gear", "widget", "screw"]
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

EPOCH_US = dt.datetime(1970, 1, 1)


def _ts(values_us):
    return pa.array(values_us.astype("int64"), type=pa.timestamp("us"))


def _us(d):
    return int((d - EPOCH_US).total_seconds() * 1_000_000)


def _days(rng, lo, hi, n):
    """Whole-day timestamps uniform in [lo, hi]."""
    day = 86_400_000_000
    lo_d, hi_d = _us(lo) // day, _us(hi) // day
    return rng.integers(lo_d, hi_d + 1, n) * day


def _write(out, name, cols):
    os.makedirs(out, exist_ok=True)
    pq.write_table(pa.table(cols), f"{out}/{name}.parquet")


def _doc_texts(rng, n, lo=10, hi=100, words=None, p=None):
    words = np.array(VOCAB) if words is None else words
    lens = rng.integers(lo, hi + 1, n)
    idx = rng.choice(len(words), int(lens.sum()), p=p)
    out, at = [], 0
    for k in lens:
        out.append(" ".join(words[idx[at:at + k]]))
        at += k
    return out


def _unit_vectors(rng, n, dim=64):
    v = rng.standard_normal((n, dim)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return v


def _emb_table(vec_ids, vecs, labels):
    flat = pa.array(vecs.reshape(-1), type=pa.float32())
    offsets = pa.array(np.arange(0, vecs.size + 1, vecs.shape[1], dtype=np.int32))
    return {"vec_id": pa.array(vec_ids, type=pa.int64()),
            "embedding": pa.ListArray.from_arrays(offsets, flat),
            "label": pa.array(labels, type=pa.int32())}


def _doc_table(texts, rng):
    n = len(texts)
    return {"doc_id": pa.array(np.arange(n), type=pa.int64()),
            "text": pa.array(texts, type=pa.string()),
            "lang": pa.array(rng.choice(LANGS, n, p=LANG_P)),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array([len(t) for t in texts], type=pa.int64())}


def _lineitem(rng, n_li, n_ord, n_part, n_supp):
    return {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), type=pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), type=pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), type=pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), type=pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64)),
        "l_extendedprice": pa.array(np.round(rng.uniform(900.0, 105000.0, n_li), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_li)),
        "l_linestatus": pa.array(rng.choice(["O", "F"], n_li)),
        "l_shipdate": _ts(_days(rng, dt.datetime(1995, 1, 2), dt.datetime(2001, 11, 4), n_li))}


def probe_lineitem(out, seed):
    """sf0.1's lineitem alone, for the machine-speed probe."""
    _write(out, "lineitem", _lineitem(np.random.default_rng([seed, 5]), 600_000, 150_000,
                                      20_000, 1_000))


def tables(out, seed):
    """sf0.1-shaped tables, at sf0.1's row counts."""
    rng = np.random.default_rng([seed, 1])
    n_li, n_ord, n_cust, n_supp = 600_000, 150_000, 15_000, 1_000
    n_part, n_ev, n_doc, n_emb = 20_000, 100_000, 5_000, 2_000

    _write(out, "region", {"r_regionkey": pa.array(np.arange(5), type=pa.int32()),
                           "r_name": pa.array(REGIONS)})
    _write(out, "nation", {"n_nationkey": pa.array(np.arange(25), type=pa.int32()),
                           "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                           "n_regionkey": pa.array(np.arange(25) % 5, type=pa.int32())})
    _write(out, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), type=pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), type=pa.int32()),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_cust), 2)),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, n_cust))})
    _write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), type=pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), type=pa.int32()),
        "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_supp), 2))})
    _write(out, "part", {
        "p_partkey": pa.array(np.arange(n_part), type=pa.int64()),
        "p_name": pa.array([f"{P_ADJ[a]} {P_NOUN[b]}" for a, b in
                            zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))]),
        "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(rng.choice(P_TYPES, n_part)),
        "p_size": pa.array(rng.integers(1, 51, n_part), type=pa.int32()),
        "p_retailprice": pa.array(np.round(rng.uniform(900.0, 999.9, n_part), 1))})
    _write(out, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord), type=pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), type=pa.int64()),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_ord)),
        "o_totalprice": pa.array(np.round(rng.uniform(1000.0, 500000.0, n_ord), 2)),
        "o_orderdate": _ts(_days(rng, dt.datetime(1995, 1, 1), dt.datetime(2001, 8, 1), n_ord)),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, n_ord))})
    _write(out, "lineitem", _lineitem(rng, n_li, n_ord, n_part, n_supp))
    t0 = _us(dt.datetime(2024, 1, 1))
    ev_ts = np.sort(rng.integers(t0, t0 + 30 * 86_400_000_000, n_ev))
    _write(out, "events", {
        "event_id": pa.array(np.arange(n_ev), type=pa.int64()),
        "ts": _ts(ev_ts),
        "user_id": pa.array(rng.integers(0, 1500, n_ev), type=pa.int64()),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n_ev)),
        "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)])})
    texts = _doc_texts(rng, n_doc)
    # the reference corpus carries a rare "dup" token and a handful of
    # repeated texts; keep both properties
    for i in rng.choice(n_doc, max(1, n_doc // 20), replace=False):
        texts[i] = texts[i] + " dup"
    n_rep = max(1, n_doc // 600)
    for i in range(n_rep):
        texts[n_doc - 1 - i] = texts[i * 7]
    _write(out, "documents", _doc_table(texts, rng))
    _write(out, "embeddings", _emb_table(np.arange(n_emb), _unit_vectors(rng, n_emb),
                                         rng.integers(0, 10, n_emb)))
    return {"rows.lineitem": n_li, "rows.documents": n_doc, "rows.embeddings": n_emb,
            "share.repeated_text": 2 * n_rep / n_doc}


def _vocab(rng, n):
    syl = np.array(["ka", "lo", "mi", "ne", "ru", "ta", "vo", "si", "pe", "da", "fu",
                    "go", "hi", "ja", "be", "zo"])
    out = set()
    while len(out) < n:
        out.add("".join(rng.choice(syl, int(rng.integers(2, 5)))))
    return np.array(sorted(out))


def _shingles(text, k=3):
    w = text.split()
    return {" ".join(w[i:i + k]) for i in range(max(1, len(w) - k + 1))}


def _split_bucket(text):
    """pmod(md5-prefix-int32, 100), the split rule the curation queries use."""
    return int(hashlib.md5(text.encode()).hexdigest()[:8], 16) % 100


def curation_corpus(out, seed, n_docs, exact=0.10, near=0.10, semantic=0.05,
                    contaminated=0.03):
    """`documents` + aligned `embeddings` with planted duplicate families."""
    rng = np.random.default_rng([seed, 2])
    # a Zipf-weighted vocabulary of real-text size: with sf0.1's 31 words
    # every document would share 3-shingles with thousands of others
    words = _vocab(rng, 5000)
    p = 1.0 / np.arange(1, len(words) + 1)
    p /= p.sum()
    texts = _doc_texts(rng, n_docs, lo=20, hi=100, words=words, p=p)
    vecs = _unit_vectors(rng, n_docs)
    kind = rng.choice(4 + 1, n_docs, p=[exact, near, semantic, contaminated,
                                        1 - exact - near - semantic - contaminated])
    kind[:n_docs // 10] = 4  # the earliest ids are originals, so every copy has a source
    n_near_ok = n_sem_ok = n_cont_ok = 0
    test_ids, originals = [], []
    for i in range(n_docs):
        if kind[i] == 4:
            originals.append(i)
            if _split_bucket(texts[i]) >= 90:
                test_ids.append(i)
            continue
        # copies are made of originals only, so duplicate families stay
        # small stars rather than long chains of copies of copies
        src = originals[int(rng.integers(0, len(originals)))]
        if kind[i] == 0:
            texts[i] = texts[src]
        elif kind[i] == 1:
            # one substituted word keeps Jaccard >= 0.8 only on long texts
            for _ in range(20):
                if len(texts[src].split()) >= 50:
                    break
                src = originals[int(rng.integers(0, len(originals)))]
            w = texts[src].split()
            j = int(rng.integers(0, len(w)))
            w[j] = words[int(rng.integers(0, len(words)))] + "x"
            texts[i] = " ".join(w)
            a, b = _shingles(texts[i]), _shingles(texts[src])
            n_near_ok += len(a & b) / len(a | b) >= 0.8
        elif kind[i] == 2:
            v = vecs[src] + rng.standard_normal(vecs.shape[1]).astype(np.float32) * 0.05
            vecs[i] = v / np.linalg.norm(v)
            n_sem_ok += float(vecs[i] @ vecs[src]) >= 0.3
        elif kind[i] == 3 and test_ids:
            t = texts[test_ids[int(rng.integers(0, len(test_ids)))]].split()
            at = int(rng.integers(0, max(1, len(t) - 12)))
            texts[i] = texts[i] + " " + " ".join(t[at:at + 12])
            n_cont_ok += _split_bucket(texts[i]) < 80
    _write(out, "documents", _doc_table(texts, rng))
    _write(out, "embeddings", _emb_table(np.arange(n_docs), vecs,
                                         rng.integers(0, 10, n_docs)))
    distinct = len(set(texts))
    return {"rows.documents": n_docs,
            "share.exact_dup": 1 - distinct / n_docs,
            "share.near_dup": n_near_ok / n_docs,
            "share.semantic_dup": n_sem_ok / n_docs,
            "share.contaminated": n_cont_ok / n_docs}


def _universe(rng, n=550):
    letters = np.array(list("ABCDEFGHIJKLMNOPQRSTUVWXYZ"))
    syms = set()
    while len(syms) < n:
        k = int(rng.integers(2, 5))
        s = "".join(rng.choice(letters, k))
        if s not in ("DD", "ARE"):
            syms.add(s)
    return sorted(syms)


FILLER = ("the stock looks strong into earnings and i think we hold long calls "
          "for next week while volume keeps rising after the report today").split()


def posts(out, seed, n_files, per_file, t0_s, span_s, disorder_s, repost=0.15,
          start_id=0, universe=None):
    """Post files `out/NNNNN.json` (JSON lines) for the ingest spine.

    File f's posts carry event times near t0 + f*span/n_files, pushed back by
    up to `disorder_s` seconds (disorder stays inside the 7-day horizon, so
    the watermark drops nothing). A `repost` share repeats the title and body
    of an earlier post of the same call.
    """
    rng = np.random.default_rng([seed, 3, start_id])
    if universe is None:
        universe = _universe(np.random.default_rng([seed, 4]))
    zipf_w = 1.0 / np.arange(1, len(universe) + 1) ** 1.1
    zipf_w /= zipf_w.sum()
    hot = set(universe[:10])
    os.makedirs(out, exist_ok=True)
    made, pid = [], start_id
    n_hot = n_with = n_repost = n_late = 0
    max_ts = -1
    for f in range(n_files):
        lines = []
        base = t0_s + int(f * span_s / max(1, n_files))
        for _ in range(per_file):
            ts = base - int(rng.integers(0, disorder_s + 1)) if rng.random() < 0.3 else base
            if made and rng.random() < repost:
                title, body = made[int(rng.integers(0, len(made)))]
                n_repost += 1
            else:
                k = int(rng.integers(0, 4))
                ticks = list(rng.choice(universe, k, p=zipf_w)) if k else []
                if rng.random() < 0.05:
                    ticks.append(["DD", "ARE"][int(rng.integers(0, 2))])
                n_with += bool(ticks)
                n_hot += any(t in hot for t in ticks)
                fill = list(rng.choice(FILLER, int(rng.integers(6, 20))))
                for t in ticks:
                    fill.insert(int(rng.integers(0, len(fill) + 1)),
                                f"${t.lower()}" if rng.random() < 0.5 else t)
                title = f"thoughts on {fill[0]} {pid}"
                body = " ".join(fill)
                made.append((title, body))
            removed = "moderator" if rng.random() < 0.04 else None
            if rng.random() < 0.03:
                body = "[removed]"
            n_late += ts < max_ts
            max_ts = max(max_ts, ts)
            lines.append(json.dumps({"id": pid, "source": "reddit", "title": title,
                                     "selftext": body, "created_utc": int(ts),
                                     "url": f"u/{pid}", "removed_by_category": removed}))
            pid += 1
        with open(f"{out}/{f:05d}.json", "w") as fh:
            fh.write("\n".join(lines) + "\n")
    n = n_files * per_file
    return universe, {"rows.posts": n, "files.posts": n_files,
                      "share.repost": n_repost / n, "share.with_ticker": n_with / n,
                      "share.hot_ticker": n_hot / n, "share.late": n_late / n}
