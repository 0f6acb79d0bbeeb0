"""Correctness checks of one run's outputs, outside the timed region.

None compares against a stored copy of earlier output:
  * DuckDB oracles: the program's registered oracle SQL of
    pipe8_crossref_snapshot, pipe14_ai_update and pipe32_warc_curation,
    run over the same generated inputs;
  * curation funnel: the timed round's curated pages against a linear
    evaluator of the funnel oracle over every extracted page;
  * license tags: an evaluator that walks the filter trees and the KBART
    coverage/embargo rules itself;
  * LSH pairs: recomputed Jaccard >= threshold, planted-pair recall >= floor;
  * packing: each curated document placed once, no overlapping ranges;
  * increment: stores after the increment equal a from-scratch build;
  * takedown: taken-down ids are in no serve view.

`python3 perfbench/checks.py --workload W --work DIR` re-checks a run kept
with `run.py --keep`.  Each check raises CheckFailed on a mismatch.
"""
import argparse
import datetime
import json
import os
import re

import duckdb

# Recall of planted near-duplicate pairs the LSH stage must reach.  The
# banding (16 bands x 6 rows) finds a pair at the 0.7 threshold with
# probability 0.86 and at Jaccard 0.8 with 0.99; the bucket cap costs more.
RECALL_FLOOR = 0.85


class CheckFailed(Exception):
    pass


def need(cond, msg):
    if not cond:
        raise CheckFailed(msg)


def pq(path):
    return f"read_parquet('{path}/**/*.parquet', hive_partitioning=false)"


def multiset_diff(con, a_sql, b_sql):
    """Rows of a not in b and of b not in a, as multisets."""
    n1 = con.sql(f"SELECT count(*) FROM (({a_sql}) EXCEPT ALL ({b_sql}))").fetchone()[0]
    n2 = con.sql(f"SELECT count(*) FROM (({b_sql}) EXCEPT ALL ({a_sql}))").fetchone()[0]
    return n1, n2


def oracle(con, name, checks, docs_path, program_sql, where="TRUE"):
    """Run the registered oracle SQL over `docs_path` (rows matching
    `where`) as `documents` and compare its rows with the program's,
    column by column name."""
    sql = open(os.path.join(checks, f"{name}.sql")).read()
    con.sql(f"CREATE OR REPLACE VIEW documents AS "
            f"SELECT * FROM {pq(docs_path)} WHERE {where}")
    con.sql(f"CREATE OR REPLACE TEMP TABLE expected AS {sql}")
    cols = [r[0] for r in con.sql("DESCRIBE expected").fetchall()]
    con.sql(f"CREATE OR REPLACE TEMP TABLE actual AS {program_sql}")
    got = [r[0] for r in con.sql("DESCRIBE actual").fetchall()]
    need(sorted(cols) == sorted(got), f"{name}: columns {got} != {cols}")
    sel = ", ".join(f'"{c}"' for c in cols)
    n_exp = con.sql("SELECT count(*) FROM expected").fetchone()[0]
    need(n_exp > 0, f"{name}: oracle returned no rows")
    d = multiset_diff(con, f"SELECT {sel} FROM expected", f"SELECT {sel} FROM actual")
    need(d == (0, 0), f"{name}: {d[0]} oracle rows missing, {d[1]} extra rows")
    return n_exp


# ---- license tags ------------------------------------------------------

EMBARGO = re.compile(r"^([RP])([0-9]{1,4})([DMY])$")


def parse_embargo(s):
    """KBART embargo_info -> (method, days); None when unparseable."""
    t = (s or "").strip().upper()
    if t == "":
        return ("R", 0)
    m = EMBARGO.match(t)
    if not m:
        return None
    return (m.group(1), int(m.group(2)) * {"D": 1, "M": 30, "Y": 365}[m.group(3)])


def read_kbart(path):
    """issn -> [(from, to, embargo)] with None for open bounds."""
    out = {}
    with open(path) as fh:
        head = fh.readline().rstrip("\n").split("\t")
        ix = {c: i for i, c in enumerate(head)}
        for line in fh:
            f = line.rstrip("\n").split("\t")
            d0 = f[ix["date_first_issue_online"]] or None
            d1 = f[ix["date_last_issue_online"]] or None
            entry = (d0 and datetime.date.fromisoformat(d0),
                     d1 and datetime.date.fromisoformat(d1),
                     parse_embargo(f[ix["embargo_info"]]))
            for col in ("print_identifier", "online_identifier"):
                if f[ix[col]]:
                    out.setdefault(f[ix[col]], []).append(entry)
    return out


def entitled(entries, rdate, as_of):
    for lo, hi, emb in entries:
        if lo is not None and rdate < lo:
            continue
        if hi is not None and rdate > hi:
            continue
        if emb is None:
            continue  # unparseable wall: fail closed
        method, days = emb
        wall = as_of - datetime.timedelta(days=days)
        if (rdate >= wall) if method == "P" else (rdate <= wall):
            return True
    return False


def evaluate(tree, rec, hset):
    (op, arg), = tree.items()
    if op == "and":
        return all(evaluate(t, rec, hset) for t in arg)
    if op == "or":
        return any(evaluate(t, rec, hset) for t in arg)
    if op == "not":
        return not evaluate(arg, rec, hset)
    if op == "any":
        return True
    if op == "source":
        return rec["source_id"] in arg
    if op == "collection":
        return bool(set(arg) & rec["collections"])
    if op == "issn":
        return bool(set(arg) & rec["issns"])
    if op == "subject":
        return bool(set(arg) & rec["subjects"])
    if op == "holdings":
        return bool(set(arg["urls"]) & hset)
    raise CheckFailed(f"unknown filter node {op}")


def check_license(con, data, checks, rnd, as_of):
    config = json.load(open(os.path.join(checks, "filter_config.json")))
    names = sorted({u for t in config.values() for u in urls_of(t)})
    kb = {n: read_kbart(os.path.join(data, "kbart", n)) for n in names}
    as_of = datetime.date.fromisoformat(as_of)
    rows = con.sql(f"""
        SELECT r.record_id, r.source_id, r.mega_collection, r.issns, r.eissns,
               r.subjects, r.date, t.x_labels
        FROM {pq(rnd + '/crossref_is')} r
        LEFT JOIN {pq(rnd + '/tagged')} t USING (record_id)""").fetchall()
    n_labeled = 0
    for rid, src, coll, issns, eissns, subj, date, labels in rows:
        need(labels is not None, f"license: record {rid} missing from tags")
        rec = {"source_id": src, "collections": {coll},
               "issns": {x for x in f"{issns},{eissns}".split(",") if x},
               "subjects": set(subj.split(",")) if subj else set()}
        rdate = datetime.date.fromisoformat(date)
        hset = {n for n in names
                if any(entitled(kb[n].get(i, ()), rdate, as_of) for i in rec["issns"])}
        want = sorted(isil for isil, t in config.items() if evaluate(t, rec, hset))
        need(sorted(labels) == want,
             f"license: record {rid} tagged {sorted(labels)}, expected {want}")
        n_labeled += bool(want)
    need(n_labeled > 0, "license: no record entitled at all")
    return len(rows), n_labeled


def urls_of(tree):
    (op, arg), = tree.items()
    if op in ("and", "or"):
        return [u for t in arg for u in urls_of(t)]
    if op == "not":
        return urls_of(arg)
    if op == "holdings":
        return arg["urls"]
    return []


# ---- LSH, groups, packing --------------------------------------------

def jaccard(a, b):
    return len(a & b) / len(a | b) if (a or b) else 1.0


def check_pairs(pairs, toks, threshold, planted):
    """Every reported pair verifies; recall over the planted pairs whose
    true Jaccard clears the threshold.  Returns the recall."""
    reported = set()
    for a, b, j in pairs:
        need(a < b, f"lsh: pair ({a}, {b}) not ordered")
        need((a, b) not in reported, f"lsh: pair ({a}, {b}) reported twice")
        reported.add((a, b))
        true = jaccard(toks[a], toks[b])
        need(true >= threshold - 1e-12,
             f"lsh: pair ({a}, {b}) has Jaccard {true} < {threshold}")
        need(abs(true - j) < 1e-9, f"lsh: pair ({a}, {b}) reports {j}, is {true}")
    want = [p for p in planted
            if p[0] in toks and p[1] in toks
            and jaccard(toks[p[0]], toks[p[1]]) >= threshold]
    need(len(want) > 0, "lsh: no planted pair survived to the LSH stage")
    recall = sum(p in reported for p in want) / len(want)
    need(recall >= RECALL_FLOOR,
         f"lsh: planted-pair recall {recall:.3f} < floor {RECALL_FLOOR}")
    return recall, len(want)


def check_groups(pairs, groups):
    parent = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b, _ in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {n: find(n) for n in parent}
    need(groups == want, "dup_groups: components differ from the pair graph")


def check_packing(rows, budget):
    """rows: (doc_id, shard, seq_idx, tok_offset, n_tokens).  Returns the
    placed ids."""
    seen = set()
    by_shard = {}
    for doc, shard, seq, off, n in rows:
        need(doc not in seen, f"pack: doc {doc} placed twice")
        seen.add(doc)
        need(0 <= off < budget, f"pack: doc {doc} offset {off} outside budget")
        by_shard.setdefault(shard, []).append((seq * budget + off, n, doc))
    for shard, spans in by_shard.items():
        spans.sort()
        for (p0, n0, d0), (p1, _, d1) in zip(spans, spans[1:]):
            need(p1 >= p0 + n0,
                 f"pack: docs {d0} and {d1} overlap in shard {shard}")
    return seen


def tokens(text):
    return frozenset(text.split())


# ---- curation funnel --------------------------------------------------
#
# A linear evaluator of the registered funnel oracle SQL
# (pipe32_warc_curation with no per-domain cut): quality, repetition and
# Gopher gates, repeated-passage coverage over every page, and the
# smallest id per token multiset.  Character classes follow the oracle's
# RE2 patterns (\s is [\t\n\f\r ]).

PUNCT = re.compile(r"[^\w\t\n\f\r ]|_")
SYMBOL = re.compile(r"#|\.\.\.|\u2026")
BULLET = re.compile(r"^[-*\u2022]")
ELLIPSIS_END = re.compile(r"(\.\.\.|\u2026)\Z")
LETTER = re.compile(r"[^\W\d_]")
COV_W, COV_STRIDE, COV_MAX = 8, 4, 0.5
# Extra repeated windows a page may owe to the program's 31-bit window
# hash: a collision can only add repeated windows, so a page this close
# to the coverage cut may be dropped where exact windows keep it.
COV_SLACK = 2


def dup_share(grams):
    return (len(grams) - len(set(grams))) / len(grams) if grams else 0.0


def page_gates(text, en_stop, gop_stop):
    """(passes the per-page gates, quality, token multiset key, windows)."""
    toks = text.strip(" ").split(" ")
    n = len(toks)
    if text.strip(" ") == "":
        quality = 0.0
    else:
        quality = (len(set(toks)) / n) * 0.5 \
            + (1.0 - len(PUNCT.findall(text)) / max(len(text), 1)) * 0.3 \
            + (1.0 - sum(t in en_stop for t in toks) / n) * 0.2
    counts = {}
    for t in toks:
        counts[t] = counts.get(t, 0) + 1
    rep = (max(counts.values()) / n <= 0.20
           and dup_share(list(zip(toks, toks[1:]))) <= 0.20
           and dup_share(list(zip(toks, toks[1:], toks[2:]))) <= 0.18)
    lines = [ln.strip(" ") for ln in text.split("\n")]
    gop = (40 <= n <= 100000
           and 3.0 <= sum(len(t) for t in toks) / n <= 10.0
           and len(SYMBOL.findall(text)) / n <= 0.1
           and sum(bool(BULLET.search(ln)) for ln in lines) / len(lines) <= 0.9
           and sum(bool(ELLIPSIS_END.search(ln)) for ln in lines) / len(lines) <= 0.3
           and sum(bool(LETTER.search(t)) for t in toks) / n >= 0.8
           and bool(gop_stop & counts.keys()))
    windows = [" ".join(toks[i:i + COV_W])
               for i in range(0, n - COV_W + 1, COV_STRIDE)]
    return quality >= 0.6 and rep and gop, quality, " ".join(sorted(toks)), windows


def check_funnel(pages, kept, stop):
    """pages: (doc_id, lang, text) of every extracted page; kept: the
    program's curated (doc_id, lang, quality).  Returns (kept pages,
    pages dropped within COV_SLACK of the coverage cut)."""
    en_stop, gop_stop = set(stop["en"]), set(stop["gopher"])
    info, docs_of = {}, {}
    for doc, lang, text in pages:
        ok, q, key, wins = page_gates(text, en_stop, gop_stop)
        info[doc] = (ok, q, key, wins, lang)
        for w in set(wins):
            docs_of[w] = docs_of.get(w, 0) + 1
    gated, robust, groups = set(), set(), {}
    for doc, (ok, q, key, wins, _) in info.items():
        rep = sum(docs_of[w] >= 2 for w in wins)
        if not ok or (wins and rep / len(wins) > COV_MAX):
            continue
        gated.add(doc)
        if not wins or (rep + COV_SLACK) / len(wins) <= COV_MAX:
            robust.add(doc)
        groups.setdefault(key, []).append(doc)
    kept_ids = {}
    for doc, lang, q in kept:
        need(doc not in kept_ids, f"funnel: page {doc} kept twice")
        need(doc in gated, f"funnel: page {doc} kept, but the oracle's gates "
                           "or coverage drop it")
        need(lang == info[doc][4], f"funnel: page {doc} lang {lang} != {info[doc][4]}")
        need(abs(q - info[doc][1]) < 1e-9,
             f"funnel: page {doc} quality {q} != {info[doc][1]}")
        kept_ids[doc] = q
    slack = 0
    for key, members in groups.items():
        members.sort()
        got = [d for d in members if d in kept_ids]
        need(len(got) <= 1, f"funnel: pages {got} share a fingerprint")
        first = next((d for d in members if d in robust), None)
        need(got or first is None,
             f"funnel: page {first}, the canonical copy of its fingerprint, dropped")
        stop_at = got[0] if got else members[-1] + 1
        need(first is None or stop_at <= first,
             f"funnel: page {got} kept over the canonical page {first}")
        slack += sum(d < stop_at for d in members)
    need(slack <= max(3, len(gated) // 200),
         f"funnel: {slack} pages dropped near the coverage cut, more than "
         "hash collisions explain")
    return len(kept_ids), slack


# ---- per workload ----------------------------------------------------

def check_ai_update(con, data, work, res):
    rnd, checks = res["round_dir"], os.path.join(work, "checks")
    n8 = oracle(con, "pipe8_crossref_snapshot", checks, data + "/xr_docs.parquet",
                f"SELECT * FROM {pq(rnd + '/crossref_is')}")
    n14 = oracle(con, "pipe14_ai_update", checks, data + "/documents.parquet", f"""
        SELECT id, doc_id, coalesce(array_to_string(institution, ','), '') AS institution,
               x_oa, quality, fullrecord
        FROM {pq(rnd + '/ai/export/date=bench')}""")
    n_tag, n_lab = check_license(con, data, checks, rnd, res["checks"]["as_of"])
    return {"pipe8_rows": n8, "pipe14_rows": n14, "tagged": n_tag, "labeled": n_lab}


def check_corpus_build(con, data, work, res):
    rnd, checks = res["round_dir"], os.path.join(work, "checks")
    f = res["checks"]
    n32 = oracle(con, "pipe32_warc_curation", checks, data + "/documents.parquet",
                 f"SELECT * FROM {pq(checks + '/pipe32')}",
                 where=f"doc_id <= {int(f['oracle_docs'])}")
    pages = con.sql(f"SELECT doc_id, lang, text FROM {pq(checks + '/extracted')}").fetchall()
    kept = con.sql(f"SELECT doc_id, lang, quality FROM {pq(checks + '/curated')}").fetchall()
    n_kept, n_slack = check_funnel(pages, kept,
                                   json.load(open(checks + "/stopwords.json")))
    curated = {d for d, _, _ in kept}
    toks = {d: tokens(t) for d, _, t in pages if d in curated}
    pairs = con.sql(f"SELECT id_a, id_b, jaccard FROM {pq(checks + '/pairs')}").fetchall()
    planted = [(g[i], g[j]) for g in json.load(open(data + "/planted.json"))
               for i in range(len(g)) for j in range(i + 1, len(g))]
    recall, n_planted = check_pairs(pairs, toks, f["lsh_threshold"], planted)
    groups = dict(con.sql(f"SELECT node, \"group\" FROM {pq(rnd + '/dup_groups')}").fetchall())
    check_groups(pairs, groups)

    # The increment: stores against a from-scratch build, takedown, the
    # incremental pairs, and packing over every placement.
    for store, cols in (("bands", "doc, band, bucket"),
                        ("pack", "doc_id, n_bpe_tokens")):
        d = multiset_diff(con, f"SELECT {cols} FROM {pq(checks + f'/{store}_served')}",
                          f"SELECT {cols} FROM {pq(checks + f'/{store}_scratch')}")
        need(d == (0, 0), f"increment: {store} store serves {d[0]} rows a "
                          f"from-scratch build lacks and lacks {d[1]} of its rows")
    gone = json.load(open(data + "/takedown.json"))
    for store, key in (("bands", "doc"), ("pack", "doc_id")):
        n = con.sql(f"SELECT count(*) FROM {pq(checks + f'/{store}_served')} "
                    f"WHERE {key} IN (SELECT unnest({gone}))").fetchone()[0]
        need(n == 0, f"takedown: the {store} store still serves {n} rows "
                     "of taken-down ids")
    served = con.sql(f"SELECT count(*) FROM {pq(checks + '/pack_served')}").fetchone()[0]
    need(served == f["serve_rows"] > 0,
         f"serve: {served} rows served, the timed serve read {f['serve_rows']:.0f}")
    all_toks = dict(toks)
    all_toks.update((d, tokens(t)) for d, t in con.sql(
        f"SELECT doc_id, text FROM {pq(data + '/increment.parquet')}").fetchall())
    inc_pairs = con.sql(
        f"SELECT id_a, id_b, jaccard FROM {pq(rnd + '/inc_pairs')}").fetchall()
    recrawled = [tuple(sorted(p)) for p in json.load(open(data + "/recrawled.json"))]
    inc_recall, n_recrawled = check_pairs(inc_pairs, all_toks, f["lsh_threshold"],
                                          recrawled)
    placed = check_packing(
        con.sql(f"SELECT doc_id, shard, seq_idx, tok_offset, n_bpe_tokens "
                f"FROM {pq(rnd + '/pack/placements')}").fetchall(),
        int(f["budget_tokens"]))
    need(set(toks) <= placed, "pack: a curated page is not placed")
    return {"pipe32_rows": n32, "curated": n_kept, "funnel_slack": n_slack,
            "pairs": len(pairs), "planted_pairs": n_planted,
            "llm.minhash_lsh.recall": recall, "inc_pairs": len(inc_pairs),
            "recrawled_pairs": n_recrawled, "llm.lsh_incremental.recall": inc_recall,
            "placed": len(placed)}


CHECKS = {"ai_update": check_ai_update, "corpus_build": check_corpus_build}


def run_checks(workload, work, res):
    con = duckdb.connect()
    con.sql("SET threads TO 4")
    con.sql("SET enable_progress_bar = false")
    con.sql(f"SET temp_directory = '{work}/duckdb'")
    try:
        return CHECKS[workload](con, os.path.join(work, "data"), work, res)
    finally:
        con.close()


if __name__ == "__main__":
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--workload", required=True, choices=sorted(CHECKS))
    ap.add_argument("--work", required=True)
    a = ap.parse_args()
    res = json.load(open(os.path.join(a.work, "result.json")))
    print(json.dumps(run_checks(a.workload, a.work, res)))
