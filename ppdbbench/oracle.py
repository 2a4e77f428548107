"""Output checks for the benchmark, run after the timed region.

Exact steps are compared against DuckDB on the same generated files: the
PPDB steps against the engine's own DuckDB twin of its parser
(`Ppdb.oracleCte`), the relational keys against `SparkEntry.oracleSql`,
the text kernels against their SQL twins. Approximate operators are
compared against the generator's planted truth, with the recall floors of
meta.json.

Each check returns (name, ok, detail); a failed check counts as a failed
operation.
"""
import json
import math
import os

import duckdb
import numpy as np
import pyarrow.parquet as pq


def _parquet(path):
    return f"read_parquet('{path}/*.parquet')"


def _diff(con, a, b):
    """Rows of query a missing from b plus rows of b missing from a."""
    n1 = con.execute(f"SELECT count(*) FROM ({a} EXCEPT ALL {b})").fetchone()[0]
    n2 = con.execute(f"SELECT count(*) FROM ({b} EXCEPT ALL {a})").fetchone()[0]
    return n1 + n2


def _oracle_table(con, cte):
    con.execute(f"CREATE OR REPLACE TEMP TABLE o AS {cte} SELECT * FROM ppdb")


def check_ingest(con, rec, work, floors, info):
    c = rec["check"]
    _oracle_table(con, c["oracle_cte"])
    out = []
    cols = "lhs, phrase, paraphrase, features_raw, alignment, entailment, ppdb2score"
    d = _diff(con, f"SELECT {cols} FROM o",
              f"SELECT {cols} FROM {_parquet(work + '/check/ingested')}")
    out.append(("sources.ingest", d == 0, f"{d} rows differ from the DuckDB parse"))
    cols = "lhs, phrase, paraphrase, ppdb2score, entailment"
    d = _diff(con, f"SELECT {cols} FROM o WHERE ppdb2score >= {info['score_cut']}",
              f"SELECT {cols} FROM {_parquet(work + '/check/cut')}")
    out.append(("sources.v2_cut", d == 0, f"{d} rows differ from the DuckDB score cut"))
    want = con.execute(
        "SELECT entailment, count(*), sum(round(ppdb2score * 100)::BIGINT), "
        "count(DISTINCT phrase) FROM o GROUP BY 1 ORDER BY 1").fetchall()
    got = [tuple(r) for r in c["readback"]]
    want = [tuple(r) for r in want]
    out.append(("sources.readback", got == want,
                f"{len(got)} groups" if got == want else f"read-back {got} != DuckDB {want}"))
    return out, {}


def check_lookup(con, rec, work, floors, info):
    c = rec["check"]
    _oracle_table(con, c["oracle_cte"])
    want = {}
    for p, para, score, ent in con.execute(
            "SELECT phrase, paraphrase, ppdb2score, entailment FROM o "
            "WHERE phrase IN (SELECT unnest(?))",
            [[x["phrase"] for x in c["lookups"]]]).fetchall():
        want.setdefault(p, []).append((para, score, ent))
    bad = []
    for x in c["lookups"]:
        rows = [tuple(r) for r in x["rows"]]
        ordered = all((a[1], b[0]) >= (b[1], a[0]) for a, b in zip(rows, rows[1:]))
        if sorted(rows) != sorted(want.get(x["phrase"], [])) or not ordered:
            bad.append(x["phrase"])
    if bad:
        return [(f"sources.lookup[{p}]", False, "result differs from DuckDB") for p in bad], {}
    return [("sources.lookup", True, f"{len(c['lookups'])} phrases match DuckDB")], {}


def _norm_tokens(text):
    return " ".join(text.lower().split()).split(" ")


def _shingles(tokens, k=3):
    return {" ".join(tokens[i:i + k]) for i in range(len(tokens) - k + 1)}


def _pairs(path, a="a_id", b="b_id"):
    t = pq.read_table(path, columns=[a, b])
    return list(zip(t.column(a).to_pylist(), t.column(b).to_pylist()))


def check_corpus(con, rec, work, floors, info):
    data = info["data"]
    truth = json.load(open(os.path.join(data, "truth.json")))
    params = info["params"]
    out = []
    docs = pq.read_table(os.path.join(data, "documents.parquet"))
    texts = docs.column("text").to_pylist()
    kind = truth["kind"]
    group = truth["group"]
    tp = {tuple(p) for p in truth["near_dup_pairs"]}

    # clean: exact on junk, exact duplicates and unique docs; recall floor on
    # the near-duplicates it must drop
    kept = set(pq.read_table(work + "/check/clean", columns=["doc_id"])
               .column("doc_id").to_pylist())
    smaller = {b for a, b in tp}
    dup_min = {}
    for i, k in enumerate(kind):
        if k == "exact_dup":
            dup_min[group[i]] = min(dup_min.get(group[i], i), i)
    wrong = [i for i, k in enumerate(kind) if
             (k.startswith("junk") and i in kept) or
             (k == "unique" and i not in kept) or
             (k == "exact_dup" and (i in kept) != (dup_min[group[i]] == i)) or
             (k == "cluster" and i not in smaller and i not in kept)]
    must_drop = [i for i, k in enumerate(kind) if k == "cluster" and i in smaller]
    dropped = sum(1 for i in must_drop if i not in kept) / max(len(must_drop), 1)
    out.append(("pipeline.clean", not wrong and dropped >= floors["clean_near_dup_drop"],
                f"{len(wrong)} wrong keep/drop decisions; near-dup drop recall {dropped:.3f}"))

    # text kernels: exact against their DuckDB twins
    norm = rec["check"]["norm_text_sql"]
    ref = (f"SELECT doc_id, {norm} AS norm, len(string_split({norm}, ' ')) AS n_tok, "
           f"len(string_split({norm}, ' ')) AS n_split, "
           f"len(regexp_replace(text, '[\\p{{L}}\\p{{N}}\\t\\n\\x0B\\f\\r ]', '', 'g')) AS n_punct "
           f"FROM read_parquet('{data}/documents.parquet')")
    got = f"SELECT doc_id, norm, n_tok, n_split, n_punct FROM {_parquet(work + '/check/features')}"
    d = _diff(con, ref, got)
    out.append(("plans.text_features", d == 0, f"{d} rows differ from the DuckDB twins"))

    # minhash: every pair verified exactly; planted pairs found above the floor
    pairs = _pairs(work + "/check/pairs")
    sh = {}

    def s(i):
        if i not in sh:
            sh[i] = _shingles(_norm_tokens(texts[i]))
        return sh[i]
    thr = params["minhash_threshold"]
    false_pos = [p for p in pairs if p[0] >= p[1] or
                 len(s(p[0]) & s(p[1])) / len(s(p[0]) | s(p[1])) < thr]
    recall = len(tp & set(pairs)) / max(len(tp), 1)
    out.append(("operators.minhash", not false_pos and recall >= floors["minhash_pairs"],
                f"{len(pairs)} pairs, {len(false_pos)} below threshold, recall {recall:.3f}"))

    # connected components: exact against union-find over the same pairs
    parent = list(range(len(texts)))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    lab = _pairs(work + "/check/labels", "id", "comp")
    comp_min = {}
    for i in range(len(texts)):
        r = find(i)
        comp_min[r] = min(comp_min.get(r, i), i)
    wrong_cc = sum(1 for i, c in lab if comp_min[find(i)] != c) + abs(len(lab) - len(texts))
    out.append(("operators.cc", wrong_cc == 0, f"{wrong_cc} labels differ from union-find"))

    # ANN dedup: every pair verified exactly; planted neighbours above the floor
    emb = pq.read_table(os.path.join(data, "embeddings.parquet"))
    vec = np.array(emb.column("vec").to_pylist())
    unit = vec / np.linalg.norm(vec, axis=1, keepdims=True)
    ap = _pairs(work + "/check/ann_pairs")
    athr = params["ann_threshold"]
    low = [p for p in ap if p[0] >= p[1] or float(unit[p[0]] @ unit[p[1]]) < athr - 1e-9]
    vt = {tuple(p) for p in truth["vec_pairs"]}
    arecall = len(vt & set(ap)) / max(len(vt), 1)
    out.append(("operators.ann_dedup", not low and arecall >= floors["ann_dedup_pairs"],
                f"{len(ap)} pairs, {len(low)} below threshold, recall {arecall:.3f}"))
    return out, {"operators.ann_dedup_recall": arecall}


def _cell_eq(a, b):
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        return (math.isnan(a) and math.isnan(b)) or float(a) == float(b)
    return a == b


def _rows(con, sql):
    cur = con.execute(sql)
    names = [d[0] for d in cur.description]
    order = sorted(range(len(names)), key=lambda i: names[i])
    rows = [tuple(r[i] for i in order) for r in cur.fetchall()]
    return [names[i] for i in order], sorted(rows, key=lambda r: [repr(x) for x in r])


def check_relational(con, rec, work, floors, info):
    data = info["data"]
    for t in ("lineitem", "orders", "events", "documents"):
        con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    out = []
    for key, sql in sorted(rec["check"]["oracle_sql"].items()):
        try:
            wn, want = _rows(con, sql)
            gn, got = _rows(con, f"SELECT * FROM {_parquet(work + '/check/' + key)}")
            ok = wn == gn and len(want) == len(got) and all(
                all(_cell_eq(a, b) for a, b in zip(r1, r2)) for r1, r2 in zip(want, got))
            detail = f"{len(got)} rows vs {len(want)} from DuckDB"
        except Exception as e:  # a failed oracle or unreadable output fails the key
            ok, detail = False, f"{type(e).__name__}: {str(e)[:300]}"
        out.append((f"queries.{key}", ok, detail))
    return out, {}


CHECKS = {
    "ppdb_ingest": check_ingest,
    "ppdb_lookup": check_lookup,
    "corpus_curation": check_corpus,
    "relational_analytics": check_relational,
}


def run(workload, rec, work, floors, info):
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    try:
        return CHECKS[workload](con, rec, work, floors, info)
    except Exception as e:  # e.g. an output missing because its call threw
        return [(workload, False, f"{type(e).__name__}: {str(e)[:300]}")], {}
    finally:
        con.close()
