"""Seeded input generator for the benchmark.

Shares no code with the program under test: two commits given the same
seed read byte-identical inputs.  Every file lands under one work
directory; `python3 perfbench/gen.py --workload W --seed N --out DIR`
writes the inputs of one workload and a `manifest.json` describing them.
"""
import argparse
import gzip
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Input sizes per workload.  Large enough that per-record work, not the
# per-job cost of the engine, sets the timings (see README.md).
SIZES = {
    "ai_update": {"docs": 24_000, "xr_docs": 10_000, "isils": 20,
                  "kbart_files": 30, "kbart_rows": 1_500},
    "corpus_build": {"pages": 12_000, "tok_ref": 1_000, "inc_docs": 3_000,
                     "takedown": 150},
}

N_SOURCES = 20
LANGS = ["en", "de", "fr", "es", "zh"]
STOPWORDS = ["the", "of", "and", "to", "a", "in", "is", "that", "with",
             "for", "on", "be", "have"]
VOCAB_SIZE = 40_000
LETTERS = np.array(list("abcdefghijklmnopqrstuvwxyz"))


def vocabulary():
    """A fixed word list (independent of the workload seed)."""
    rng = np.random.default_rng(20240601)
    words, seen = [], set(STOPWORDS)
    while len(words) < VOCAB_SIZE:
        n = int(rng.integers(3, 10))
        w = "".join(rng.choice(LETTERS, n))
        if w not in seen:
            seen.add(w)
            words.append(w)
    ranks = np.arange(VOCAB_SIZE, dtype=np.float64)
    p = 1.0 / (ranks + 60.0)
    return np.array(words), p / p.sum()


VOCAB, VOCAB_P = vocabulary()
WORDS = np.concatenate([VOCAB, np.array(STOPWORDS)]).astype(object)


def texts(rng, n, lo, hi):
    """n single-space-separated texts of lo..hi tokens: Zipf-like words
    with an 11% stopword share, the shape web text has."""
    lens = rng.integers(lo, hi + 1, n)
    total = int(lens.sum())
    idx = rng.choice(VOCAB_SIZE, total, p=VOCAB_P)
    stop = rng.random(total) < 0.11
    idx[stop] = VOCAB_SIZE + rng.integers(0, len(STOPWORDS), int(stop.sum()))
    words = WORDS[idx].tolist()
    ends = np.cumsum(lens).tolist()
    return [" ".join(words[e - k:e]) for e, k in zip(ends, lens.tolist())]


def junk(rng, text):
    """A page the curation gates must drop: one word repeated, or a run
    of symbols, or too short."""
    toks = text.split(" ")
    kind = int(rng.integers(0, 3))
    if kind == 0:
        return " ".join([toks[0]] * len(toks))
    if kind == 1:
        return " ".join(t if i % 3 else "###" for i, t in enumerate(toks))
    return " ".join(toks[:12])


def near_dup(text, copy):
    """Replace the token at every 8i+3 by another token of the same doc:
    every 8-token window of stride 4 changes (no shared passage), the
    token multiset changes (a new fingerprint), and the distinct-token
    Jaccard to the original stays high."""
    toks = text.split(" ")
    src = 5 + copy
    for i in range(3, len(toks), 8):
        j = i - 3 + src
        if j < len(toks):
            toks[i] = toks[j]
    return " ".join(toks)


def write_parquet(path, columns, parts):
    """One parquet dataset directory of `parts` files."""
    os.makedirs(path, exist_ok=True)
    n = len(next(iter(columns.values())))
    step = (n + parts - 1) // parts
    for k in range(parts):
        sl = slice(k * step, min(n, (k + 1) * step))
        tbl = pa.table({c: v[sl] for c, v in columns.items()})
        pq.write_table(tbl, os.path.join(path, f"part-{k:03d}.parquet"))


def documents(rng, n, id0, lo, hi, dup_share=0.0, junk_share=0.0):
    """(doc_id, text, lang, source, n_chars) rows.  `dup_share` of the
    docs are token-shuffled copies of an earlier doc under another
    source: exact cross-source duplicates by fingerprint."""
    ids = np.arange(id0, id0 + n, dtype=np.int64)
    txt = texts(rng, n, lo, hi)
    src = rng.integers(0, N_SOURCES, n)
    lang = rng.integers(0, len(LANGS), n)
    dups = np.flatnonzero(rng.random(n) < dup_share)
    for i in dups:
        if i == 0:
            continue
        j = int(rng.integers(0, i))
        toks = txt[j].split(" ")
        rng.shuffle(toks)
        txt[i] = " ".join(toks)
        src[i] = (src[j] + 1 + int(rng.integers(0, N_SOURCES - 1))) % N_SOURCES
    for i in np.flatnonzero(rng.random(n) < junk_share):
        txt[i] = junk(rng, txt[i])
    return {
        "doc_id": ids.tolist(),
        "text": txt,
        "lang": [LANGS[k] for k in lang],
        "source": [f"src{k}" for k in src],
        "n_chars": [len(t) for t in txt],
    }


def plant_groups(rng, docs, share):
    """Turn `share` of the docs into near-duplicate groups: a base doc
    followed by 1-3 rewritten copies.  Returns the groups' doc ids."""
    n = len(docs["doc_id"])
    groups = []
    starts = np.flatnonzero(rng.random(n) < share)
    taken = np.zeros(n, dtype=bool)
    for i in starts:
        k = int(rng.integers(1, 4))
        if i + k >= n or taken[i:i + k + 1].any():
            continue
        taken[i:i + k + 1] = True
        base = docs["text"][i]
        for c in range(k):
            docs["text"][i + 1 + c] = near_dup(base, c)
            docs["n_chars"][i + 1 + c] = len(docs["text"][i + 1 + c])
        groups.append([docs["doc_id"][i + c] for c in range(k + 1)])
    return groups


# ---- Crossref works messages (two versions per document) -------------

TYPES = ["journal-article", "book-chapter", "proceedings-article", "book",
         "dataset"]


def issn(i, a, b):
    return f"{(i * a) % 10000:04d}-{(i * b) % 10000:04d}"


def message(i, text, lang, source, version):
    toks = text.strip().split()
    tok = lambda k: toks[k - 1] if k <= len(toks) else None
    prefix = f"10.{1000 + i % 7}"
    doi = f"{prefix}/graft.{i}"
    title = f"Study {i} of {tok(1)} {tok(2)}" + (" [v1]" if version else "")
    year = 1200 if i % 97 == 0 else 1990 + i % 35
    month, day = i % 12 + 1, i % 28 + 1
    parts = ([[year]] if i % 3 == 0 else
             [[year, month, day]] if i % 3 == 1 else [[year, month]])
    issn_type = [{"value": issn(i, 7, 13), "type": "print"}]
    if i % 2 == 0:
        issn_type.append({"value": issn(i, 11, 17), "type": "electronic"})
    person = lambda g, f, s: {"given": f"{g}{i}", "family": f"{f}{i}",
                              "sequence": s}
    authors = [person("G", "F", "first")]
    if i % 2 == 0:
        authors.append(person("H", "K", "additional"))
    if i % 10 == 0:
        authors.append({"name": f"Org {i}", "sequence": "additional"})
    sp = i % 90 + 1
    msg = {
        "DOI": None if i % 83 == 0 else doi,
        "member": str(i % 20),
        "type": TYPES[i % 5],
        "title": [] if i % 89 == 0 else [title],
        "subtitle": [f"a {tok(3)} perspective"] if i % 3 == 0 else [],
        "container-title": [f"Journal of {source}"],
        "publisher": f"Publisher {i % 20}",
        "volume": str(i % 40 + 1),
        "issue": str(i % 12 + 1),
        "page": str(sp) if i % 4 == 0 else f"{sp}-{sp + i % 30 + 1}",
        "issn-type": issn_type,
        "issued": {"date-parts": parts},
        "indexed": {"date-time": f"2024-01-0{version + 1}T00:00:00Z"},
        "author": authors,
        "license": ([{"URL": "https://creativecommons.org/licenses/by/4.0/",
                      "content-version": "vor", "delay-in-days": i % 400}]
                    if i % 5 < 2 else []),
        "subject": [f"Subj{i % 7}", f"Area{i % 3}"],
        "language": lang,
        "URL": None if i % 6 == 0 else f"https://doi.org/{doi}",
        "abstract": f"<jats:p>{tok(1)} {tok(2)} {tok(3)}</jats:p>",
    }
    return json.dumps({k: v for k, v in msg.items() if v is not None},
                      separators=(",", ":"))


# ---- AMSL discovery rows and KBART holdings --------------------------

EMBARGOES = ["", "", "", "R1Y", "R2Y", "R6M", "P5Y", "P10Y", "P90D",
             "r3y", "X2Y", "R12345Y"]
KBART_COLS = ["publication_title", "print_identifier", "online_identifier",
              "date_first_issue_online", "num_first_vol_online",
              "num_first_issue_online", "date_last_issue_online",
              "num_last_vol_online", "num_last_issue_online", "title_url",
              "first_author", "title_id", "embargo_info", "coverage_depth",
              "notes", "publisher_name"]


def kbart_file(rng, rows):
    lines = ["\t".join(KBART_COLS)]
    for _ in range(rows):
        i = int(rng.integers(0, 10000))
        pid = issn(i, 7, 13)
        oid = issn(i, 11, 17) if rng.random() < 0.5 else ""
        y0 = int(rng.integers(1985, 2020))
        first = f"{y0}-{int(rng.integers(1, 13)):02d}-01"
        last = ("" if rng.random() < 0.4 else
                f"{int(rng.integers(y0, 2026))}-12-31")
        emb = EMBARGOES[int(rng.integers(0, len(EMBARGOES)))]
        lines.append("\t".join([
            f"Title {i}", pid, oid, first, "1", "1", last, "", "",
            f"https://example.org/t/{i}", "", str(i), emb, "fulltext", "",
            f"Publisher {i % 20}"]))
    return "\n".join(lines) + "\n"


def amsl_rows(rng, isils, files):
    """Discovery rows covering every case of the AMSL dispatch table that
    yields a filter, plus link-free and evaluate=no rows that yield none."""
    coll = "Alpha Press (CrossRef)"
    rows = []
    for k in range(isils):
        isil = f"DE-{k + 10}"
        picks = rng.choice(files, 3, replace=False).tolist()
        case = k % 5
        base = {"ISIL": isil, "sourceID": "49", "megaCollection": coll}
        if case == 0:
            rows.append({**base, "linkToHoldingsFile": picks[0],
                         "evaluateHoldingsFileForLibrary": "yes"})
        elif case == 1:
            rows.append({**base, "linkToContentFile": picks[0]})
        elif case == 2:
            rows.append({**base, "externalLinkToContentFile": picks[0]})
            rows.append({**base, "linkToHoldingsFile": picks[1],
                         "evaluateHoldingsFileForLibrary": "yes",
                         "productISIL": "ZDB-1"})
        elif case == 3:
            rows.append({**base, "linkToHoldingsFile": picks[0],
                         "linkToContentFile": picks[1],
                         "evaluateHoldingsFileForLibrary": "yes"})
            rows.append({**base, "linkToHoldingsFile": picks[2],
                         "evaluateHoldingsFileForLibrary": "no"})
        else:
            rows.append({**base, "linkToHoldingsFile": picks[0],
                         "externalLinkToContentFile": picks[1],
                         "evaluateHoldingsFileForLibrary": "yes"})
        rows.append({**base, "technicalCollectionID": "sid-49-col-x"})
        rows.append({"ISIL": isil, "sourceID": "28",
                     "megaCollection": "DOAJ Directory of Open Access Journals"})
    return rows


# ---- WARC pages -------------------------------------------------------

HOSTS = ["Example.COM", "news.example.co.uk", "sub.a.example.com.au",
         "www.test.de", "blog.github.io", "weird", "x.y.z.example.org"]


def page_url(i):
    return ("HTTPS" if i % 3 == 0 else "http") + "://" + \
        ("user:pw@" if i % 13 == 0 else "") + HOSTS[i % 7] + \
        ("." if i % 11 == 0 else "") + \
        (":443" if i % 4 == 0 else ":8080" if i % 4 == 1 else "") + \
        f"/p/{i}" + ("?q=1&u=2" if i % 5 == 0 else "") + \
        ("#frag" if i % 6 == 0 else "")


def page_html(i, text):
    return (f"<!DOCTYPE html><html><head><title>Doc {i} overview page</title>"
            "<style>body { color: #222; }</style>"
            "<script>var n = 1 < 2 && 3 > 2;</script></head>"
            "<body><nav><a href='/'>Home</a> <a href='/d'>Docs</a> "
            "<a href='/c'>Contact</a></nav>"
            f"<h1>Document {i}</h1><p>{text}</p>"
            + ("<ul><li>alpha beta gamma delta</li><li>7 8 9 10 11</li></ul>"
               if i % 3 == 0 else "")
            + ("<div>read the manual <a href='/m'>here</a> any time</div>"
               if i % 4 == 0 else "")
            + ("<p>Tom &amp; Jerry &lt;3 &quot;quotes&quot; &apos;here&apos; now</p>"
               if i % 5 == 0 else "")
            + ("<!-- hidden <p>ghost block</p> --><p>visible after the comment</p>"
               if i % 7 == 0 else "")
            + ("<script>unclosed tail swallows the rest" if i % 11 == 0
               else "</body></html>"))


def warc_record(wtype, uri, ctype, payload, rid):
    head = ["WARC/1.0", f"WARC-Type: {wtype}",
            f"WARC-Record-ID: <urn:uuid:{rid}>",
            "WARC-Date: 2026-01-01T00:00:00Z"]
    if uri is not None:
        head.append(f"WARC-Target-URI: {uri}")
    head += [f"Content-Type: {ctype}", f"Content-Length: {len(payload)}"]
    return ("\r\n".join(head) + "\r\n\r\n").encode("latin-1") + payload + \
        b"\r\n\r\n"


def http_response(status, reason, body):
    return (f"HTTP/1.1 {status} {reason}\r\nContent-Type: text/html\r\n"
            f"Content-Length: {len(body)}\r\n\r\n").encode("latin-1") + body


def write_warcs(path, docs, files):
    """Per-record gzip members, `files` .warc.gz files; every 9th page is
    a 404 with a junk body and every file opens with a warcinfo record."""
    os.makedirs(path, exist_ok=True)
    n = len(docs["doc_id"])
    step = (n + files - 1) // files
    for f in range(files):
        with open(os.path.join(path, f"part-{f:03d}.warc.gz"), "wb") as out:
            out.write(gzip.compress(warc_record(
                "warcinfo", None, "application/warc-fields",
                b"software: perfbench-gen/1.0", f"info-{f}"), mtime=0))
            for k in range(f * step, min(n, (f + 1) * step)):
                i = docs["doc_id"][k]
                if i % 9 == 0:
                    body = http_response(404, "Not Found", b"<p>gone</p>")
                else:
                    body = http_response(
                        200, "OK", page_html(i, docs["text"][k]).encode())
                out.write(gzip.compress(warc_record(
                    "response", page_url(i),
                    "application/http;msgtype=response", body, f"page-{i}"),
                    mtime=0))


# ---- workloads --------------------------------------------------------

def gen_ai_update(rng, out, sz):
    docs = documents(rng, sz["docs"], 1, 30, 90, dup_share=0.12)
    write_parquet(os.path.join(out, "documents.parquet"), docs, 8)
    n = sz["xr_docs"]
    xr = {k: v[:n] for k, v in docs.items()}
    write_parquet(os.path.join(out, "xr_docs.parquet"), xr, 4)
    msgs = [message(i, t, l, s, v)
            for v in (1, 0)
            for i, t, l, s in zip(xr["doc_id"], xr["text"], xr["lang"],
                                  xr["source"])]
    order = rng.permutation(len(msgs))
    write_parquet(os.path.join(out, "messages.parquet"),
                  {"msg_json": [msgs[k] for k in order]}, 8)
    files = [f"kb_{k:02d}.tsv" for k in range(sz["kbart_files"])]
    os.makedirs(os.path.join(out, "kbart"), exist_ok=True)
    for f in files:
        with open(os.path.join(out, "kbart", f), "w") as fh:
            fh.write(kbart_file(rng, sz["kbart_rows"]))
    with open(os.path.join(out, "amsl.json"), "w") as fh:
        json.dump(amsl_rows(rng, sz["isils"], files), fh)
    return {"documents": sz["docs"], "messages": len(msgs),
            "xr_docs": n, "kbart_files": len(files),
            "records": sz["docs"] + len(msgs)}


def gen_corpus_build(rng, out, sz):
    docs = documents(rng, sz["pages"], 1, 60, 160, dup_share=0.03,
                     junk_share=0.06)
    groups = plant_groups(rng, docs, 0.04)
    write_parquet(os.path.join(out, "documents.parquet"), docs, 4)
    write_warcs(os.path.join(out, "pages"), docs, 16)
    write_parquet(os.path.join(out, "tok_ref.parquet"),
                  documents(rng, sz["tok_ref"], 10_000_000, 60, 160), 1)
    # The nightly increment: fresh documents plus re-crawled near-copies
    # of standing pages, which the incremental LSH probe must pair.
    inc = documents(rng, sz["inc_docs"], sz["pages"] + 1, 60, 160,
                    dup_share=0.02, junk_share=0.06)
    recrawled = []
    for j in np.flatnonzero(rng.random(sz["inc_docs"]) < 0.04):
        src = int(rng.integers(0, sz["pages"]))
        inc["text"][j] = near_dup(docs["text"][src], 0)
        inc["n_chars"][j] = len(inc["text"][j])
        recrawled.append([docs["doc_id"][src], inc["doc_id"][j]])
    write_parquet(os.path.join(out, "increment.parquet"), inc, 4)
    take = sorted(int(x) for x in rng.choice(
        docs["doc_id"] + inc["doc_id"], sz["takedown"], replace=False))
    for name, obj in (("planted.json", groups), ("recrawled.json", recrawled),
                      ("takedown.json", take)):
        with open(os.path.join(out, name), "w") as fh:
            json.dump(obj, fh)
    return {"pages": sz["pages"], "planted_groups": len(groups),
            "increment": sz["inc_docs"], "recrawled": len(recrawled),
            "takedown": sz["takedown"],
            "records": sz["pages"] + sz["inc_docs"]}


GENERATORS = {"ai_update": gen_ai_update, "corpus_build": gen_corpus_build}


def generate(workload, seed, out):
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng([seed, sorted(GENERATORS).index(workload)])
    manifest = GENERATORS[workload](rng, out, SIZES[workload])
    manifest.update({"workload": workload, "seed": seed})
    with open(os.path.join(out, "manifest.json"), "w") as fh:
        json.dump(manifest, fh)
    return manifest


if __name__ == "__main__":
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--workload", required=True, choices=sorted(GENERATORS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    print(json.dumps(generate(a.workload, a.seed, a.out)))
