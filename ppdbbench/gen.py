#!/usr/bin/env python3
"""Seeded input generator for the benchmark: one process, cached by seed and size.

Usage: python3 ppdbbench/gen.py {ppdb,corpus,relational} --seed N --out DIR

Writes DIR/<set>-<size hash>-s<seed>/ and prints that path. A finished set
carries a DONE marker, so a second call with the same seed and sizes
returns at once. Sizes and planted-truth parameters come from meta.json.

- ppdb: a PPDB 2.0 release pack in four .gz files. The files hold the
  score tiers that the S, M, L and XL packages add, so the packages are
  nested (S is a subset of M, M of L, L of XL) and each doubles the one
  before it. The XL-only file is half the pack and is the scan straggler.
  Phrases come from a Zipf-weighted vocabulary. lookups.json is the fixed
  lookup sequence: Zipf-skewed present phrases, absent phrases and 2-hop
  chains.
- corpus: documents.parquet (doc_id, text) with planted near-duplicate
  clusters, exact duplicates and junk documents, embeddings.parquet
  (id, vec) with planted neighbours, and truth.json with the exact planted
  pairs (shingle Jaccard and cosine computed here, not estimated).
- relational: lineitem, orders, events and documents in the shape of
  tools/gen_sf1.py, scaled down.
"""
import argparse
import gzip
import hashlib
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
META = json.load(open(os.path.join(HERE, "meta.json")))
SIZES = META["sizes"]
PARAMS = META["params"]

LHS = ["[JJ]", "[NN]", "[NP]", "[VP]", "[RB]", "[VB]", "[X]", "[NNS]"]
LABELS = ["Equivalence", "ForwardEntailment", "ReverseEntailment",
          "OtherRelated", "Exclusion", "Independent"]
# score bands of the four tier files: S, then what M, L and XL each add
TIERS = [("s", 1, 4.5, 6.0), ("m", 1, 3.5, 4.5), ("l", 2, 2.5, 3.5), ("xl", 4, 0.0, 2.5)]
SYLL = ["ka", "to", "ri", "mu", "se", "na", "lo", "pe", "vi", "da", "gu", "ze",
        "bo", "ch", "in", "st", "or", "el", "an", "qu"]


def words(rng, n, min_syll=2, max_syll=4):
    """n distinct lowercase pseudo-words."""
    out, seen = [], set()
    while len(out) < n:
        k = rng.integers(min_syll, max_syll + 1)
        w = "".join(SYLL[i] for i in rng.integers(0, len(SYLL), k))
        if w not in seen:
            seen.add(w)
            out.append(w)
    return out


def zipf_p(n, s):
    p = 1.0 / np.arange(1, n + 1) ** s
    return p / p.sum()


def write_gz(path, lines):
    with open(path, "wb") as raw:
        # mtime=0 keeps the bytes a pure function of the seed
        with gzip.GzipFile(fileobj=raw, mode="wb", mtime=0, compresslevel=1) as f:
            for i in range(0, len(lines), 50_000):
                f.write("".join(lines[i:i + 50_000]).encode())


def gen_ppdb(rng, out):
    sz = SIZES["ppdb"]
    vocab = words(rng, sz["vocab"])
    vp = zipf_p(len(vocab), 1.05)
    n_ph = sz["phrases"]
    lens = rng.choice([1, 2, 3], n_ph, p=[0.5, 0.3, 0.2])
    ids = rng.choice(len(vocab), (n_ph, 3), p=vp)
    phrases = sorted({" ".join(vocab[j] for j in row[:k]) for row, k in zip(ids, lens)})
    phrases = [phrases[i] for i in rng.permutation(len(phrases))]
    n_ph = len(phrases)
    total = sz["rules_s"] * sum(t[1] for t in TIERS)
    # rules per phrase ~ A / rank, capped: popular phrases carry hundreds of
    # paraphrases, the long tail one or two (binary search on A hits total)
    rank = np.arange(1, n_ph + 1)
    lo, hi = 0.0, float(total)
    for _ in range(60):
        a = (lo + hi) / 2
        c = np.clip(np.ceil(a / rank), 1, sz["max_rules_per_phrase"]).astype(np.int64)
        lo, hi = (a, hi) if c.sum() < total else (lo, a)
    c = np.clip(np.ceil(hi / rank), 1, sz["max_rules_per_phrase"]).astype(np.int64)
    ph_of_rule = np.repeat(np.arange(n_ph), c)[:total]
    if len(ph_of_rule) < total:
        ph_of_rule = np.concatenate(
            [ph_of_rule, rng.integers(0, n_ph, total - len(ph_of_rule))])
    ph_of_rule = ph_of_rule[rng.permutation(total)]
    para = rng.integers(0, n_ph, total)
    lhs = rng.integers(0, len(LHS), total)
    lab = rng.integers(0, len(LABELS), total)
    pef = rng.integers(5, 800, total)
    pfe = rng.integers(5, 800, total)
    sim = rng.integers(0, 1000, total)
    cnt = rng.integers(0, 1500, total)
    align = ["0-0", "0-0 1-1", "0-0 1-1 2-2", "0-1 1-0"]
    al = rng.integers(0, len(align), total)
    # plain lists and pre-formatted number pools: per-line numpy indexing
    # and float formatting would dominate generation time
    cents = [f"{v / 100:.2f}" for v in range(1500)]
    ph = [phrases[i] for i in ph_of_rule.tolist()]
    pa_ = [phrases[i] for i in para.tolist()]
    lhs, lab, al = lhs.tolist(), lab.tolist(), al.tolist()
    pef, pfe, sim, cnt = pef.tolist(), pfe.tolist(), sim.tolist(), cnt.tolist()
    off = 0
    files = []
    for name, mult, s_lo, s_hi in TIERS:
        n = sz["rules_s"] * mult
        score = rng.integers(int(s_lo * 100), int(s_hi * 100), n).tolist()
        lines = [
            f"{LHS[lhs[i]]} ||| {ph[i]} ||| {pa_[i]} ||| "
            f"AGigaSim=0.{sim[i]:03d} Abstract=0 Adjacent=0 CharCountDiff=1 "
            f"Identity=0 LogCount={cents[cnt[i]]} PPDB2.0Score={cents[score[i - off]]} "
            f"p(e|f)={cents[pef[i]]} p(f|e)={cents[pfe[i]]} RarityPenalty=0.0183 "
            f"SourceWords=1 TargetWords=1 ||| {align[al[i]]} ||| {LABELS[lab[i]]}\n"
            for i in range(off, off + n)]
        path = os.path.join(out, f"ppdb-2.0-tier-{name}.txt.gz")
        write_gz(path, lines)
        files.append({"tier": name, "rules": n, "bytes": os.path.getsize(path)})
        off += n
    # lookup sequence: Zipf over phrase popularity, some absent, some chains
    lk = SIZES["lookup"]
    calls = []
    pp = zipf_p(n_ph, 0.9)
    picks = rng.choice(n_ph, lk["calls"], p=pp)
    kinds = rng.random(lk["calls"])
    for j, i in enumerate(picks):
        if kinds[j] < lk["absent_frac"]:
            calls.append({"kind": "absent", "phrase": f"{phrases[i]} zz{j}"})
        elif kinds[j] < lk["absent_frac"] + lk["chain_frac"]:
            calls.append({"kind": "chain", "phrase": phrases[i]})
        else:
            calls.append({"kind": "hit", "phrase": phrases[i]})
    json.dump(calls, open(os.path.join(out, "lookups.json"), "w"))
    return {"rules": int(total), "phrases": n_ph, "files": files,
            "score_cut": PARAMS["score_cut"]}


def shingles(tokens, k=3):
    return {" ".join(tokens[i:i + k]) for i in range(len(tokens) - k + 1)}


def jaccard(a, b):
    return len(a & b) / len(a | b) if (a or b) else 0.0


def gen_corpus(rng, out):
    sz = SIZES["corpus"]
    vocab = np.array(words(rng, sz["vocab"], 1, 3))
    vp = zipf_p(len(vocab), 1.0)
    n = sz["docs"]
    toks = [list(vocab[rng.choice(len(vocab), rng.integers(30, 90), p=vp)]) for _ in range(n)]
    kind = np.array(["unique"] * n, dtype=object)
    group = np.full(n, -1)
    # planted near-duplicate clusters: members are 1-2 token edits of a seed
    n_cl_docs = int(n * sz["cluster_frac"])
    slots = rng.permutation(n)
    pos = 0
    g = 0
    while pos < n_cl_docs:
        size = int(rng.integers(2, 5))
        members = slots[pos:pos + size]
        pos += size
        seed_tokens = toks[members[0]]
        for m in members:
            t = list(seed_tokens)
            if m != members[0]:
                for _ in range(int(rng.integers(1, 3))):
                    t[int(rng.integers(0, len(t)))] = str(vocab[rng.integers(0, len(vocab))])
            toks[m] = t
            kind[m] = "cluster"
            group[m] = g
        g += 1
    rest = slots[pos:]
    n_junk = int(n * sz["junk_frac"])
    n_dup = int(n * sz["exact_dup_frac"])
    for i, m in enumerate(rest[:n_junk]):
        if i % 2 == 0:
            toks[m] = toks[m][:3]            # too short for the quality gate
            kind[m] = "junk_short"
        else:
            toks[m] = [w + "!?!,;" for w in toks[m]]  # punctuation-heavy
            kind[m] = "junk_punct"
    dup_src = rest[n_junk:n_junk + n_dup]
    dup_dst = rest[n_junk + n_dup:n_junk + 2 * n_dup]
    for s, d in zip(dup_src, dup_dst):
        toks[d] = list(toks[s])
        kind[s] = kind[d] = "exact_dup"
        group[s] = group[d] = g
        g += 1
    texts = []
    for i, t in enumerate(toks):
        s = " ".join(t)
        if i % 7 == 0:
            s = "  " + s.upper() + " "       # normalization has work to do
        elif i % 11 == 0:
            s = s.replace(" ", "  \t", 3)
        texts.append(s)
    pq.write_table(pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
    }), os.path.join(out, "documents.parquet"))
    # exact truth over every planted group; unrelated random documents share
    # too few 3-shingles to come near the threshold
    thr = PARAMS["minhash"]["threshold"]
    norm = [" ".join(t.lower().split()).split(" ") for t in texts]
    sh = [shingles(t) for t in norm]
    by_group = {}
    for i in range(n):
        if group[i] >= 0:
            by_group.setdefault(int(group[i]), []).append(i)
    pairs = []
    for mem in by_group.values():
        mem.sort()
        for a in range(len(mem)):
            for b in range(a + 1, len(mem)):
                j = jaccard(sh[mem[a]], sh[mem[b]])
                if j >= thr:
                    pairs.append([mem[a], mem[b]])
    # embeddings: unit-ish random vectors plus planted neighbour groups
    nv, dim = sz["vectors"], sz["dim"]
    vec = rng.normal(0, 1, (nv, dim))
    n_pl = int(nv * sz["planted_vec_frac"])
    order = rng.permutation(nv)
    p = 0
    while p < n_pl:
        size = int(rng.integers(2, 4))
        base = vec[order[p]]
        for m in order[p + 1:p + size]:
            vec[m] = base + rng.normal(0, 0.15, dim)
        p += size
    pq.write_table(pa.table({
        "id": pa.array(np.arange(nv), pa.int64()),
        "vec": pa.array(list(vec), pa.list_(pa.float64())),
    }), os.path.join(out, "embeddings.parquet"))
    unit = vec / np.linalg.norm(vec, axis=1, keepdims=True)
    athr = PARAMS["ann"]["threshold"]
    vpairs = []
    for lo in range(0, nv, 1000):
        c = unit[lo:lo + 1000] @ unit.T
        ii, jj = np.nonzero(c >= athr)
        for a, b in zip(ii + lo, jj):
            if a < b:
                vpairs.append([int(a), int(b)])
    json.dump({"near_dup_pairs": pairs, "kind": list(kind), "group": group.tolist(),
               "vec_pairs": vpairs},
              open(os.path.join(out, "truth.json"), "w"))
    return {"docs": n, "vectors": nv, "dim": dim, "near_dup_pairs": len(pairs),
            "vec_pairs": len(vpairs)}


def gen_relational(rng, out):
    sz = SIZES["relational"]
    n_ord, n_line, n_ev, n_users, n_docs = (
        sz["orders"], sz["lineitem"], sz["events"], sz["users"], sz["documents"])
    n_part = max(n_line // 30, 100)

    def write(name, table):
        pq.write_table(table, os.path.join(out, f"{name}.parquet"))

    base_day = np.datetime64("1995-01-01")
    o_date_days = rng.integers(0, 2405, n_ord)
    write("orders", pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, max(n_ord // 10, 1), n_ord), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000, 500000, n_ord), 2),
        "o_orderdate": pa.array((base_day + o_date_days.astype("timedelta64[D]"))
                                .astype("datetime64[us]"), pa.timestamp("us")),
        "o_orderpriority": np.array(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
        )[rng.integers(0, 5, n_ord)],
    }))
    l_ok = rng.integers(0, n_ord, n_line)
    delta = np.where(rng.random(n_line) < 0.8, rng.integers(0, 91, n_line),
                     rng.integers(-2400, 2500, n_line))
    ship_days = np.clip(o_date_days[l_ok] + delta, 0, 2500)
    write("lineitem", pa.table({
        "l_orderkey": pa.array(l_ok, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, max(n_part // 20, 1), n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 105000, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": pa.array((base_day + ship_days.astype("timedelta64[D]"))
                               .astype("datetime64[us]"), pa.timestamp("us")),
    }))
    # ~30 days of events whatever the count, as in gen_sf1
    gaps_ns = rng.exponential(30 * 86400e9 / n_ev, n_ev).astype(np.int64)
    ts_ns = np.datetime64("2024-01-01").astype("datetime64[ns]").astype(np.int64) \
        + np.cumsum(gaps_ns)
    # a Zipf user mix: a few heavy users make the as-of and window keys skewed
    users = rng.choice(n_users, n_ev, p=zipf_p(n_users, 0.8))
    write("events", pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(ts_ns // 1000, pa.timestamp("us")),
        "user_id": pa.array(users, pa.int64()),
        "event_type": np.array(["error", "view", "signup", "click", "purchase"])
        [rng.integers(0, 5, n_ev)],
        # bell-shaped values with 0.5% planted outliers for anomaly_mad
        "value": np.round(np.where(rng.random(n_ev) < 0.005, rng.uniform(1000, 5000, n_ev),
                                   np.clip(rng.normal(280, 60, n_ev), 0, None)), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    }))
    vocab = np.array(
        "a agg batch big column customer data dup fast filter group hash join key "
        "line merge order part query row scan slow small sort spark stream table "
        "the value vector window".split())
    langs = np.array(["en", "zh", "de", "fr", "es"])
    texts = [" ".join(vocab[rng.integers(0, len(vocab), rng.integers(8, 100))])
             for _ in range(n_docs)]
    write("documents", pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": langs[rng.choice(5, n_docs, p=[0.41, 0.15, 0.14, 0.15, 0.15])],
        "source": [f"src{s}" for s in rng.integers(0, 20, n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }))
    return {"lineitem": n_line, "orders": n_ord, "events": n_ev, "documents": n_docs}


GENERATORS = {"ppdb": gen_ppdb, "corpus": gen_corpus, "relational": gen_relational}


def dir_bytes(d):
    return sum(os.path.getsize(os.path.join(d, f)) for f in os.listdir(d))


def ensure(kind, seed, root):
    """Generate (or reuse) the `kind` input set for `seed`; return its dir."""
    key = json.dumps([kind, SIZES, PARAMS], sort_keys=True).encode()
    tag = hashlib.sha1(key).hexdigest()[:10]
    out = os.path.join(root, f"{kind}-{tag}-s{seed}")
    done = os.path.join(out, "DONE")
    if os.path.exists(done):
        return out
    os.makedirs(out, exist_ok=True)
    # one stream per (kind, seed): sets regenerate independently
    rng = np.random.default_rng([seed, list(GENERATORS).index(kind)])
    info = GENERATORS[kind](rng, out)
    info["bytes"] = dir_bytes(out)
    json.dump(info, open(os.path.join(out, "info.json"), "w"))
    open(done, "w").close()
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("kind", choices=sorted(GENERATORS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    print(ensure(a.kind, a.seed, a.out))


if __name__ == "__main__":
    sys.exit(main())
