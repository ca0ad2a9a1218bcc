"""Seeded input generator for the RAG-pipeline benchmark.

    python3 ragbench/gen.py --workload <name> --seed <n> --out <dir>

Writes the inputs one workload needs into <dir>; the same seed always gives
byte-identical files. The engine only ever sees these files.

  rag_serve     docs.parquet          the corpus: markdown-like docs with
                                      log-normal lengths, a "10-K" giant and
                                      planted exact and near duplicates; one
                                      source per doc
                planted.tsv           (orig_doc_id, dup_doc_id, kind) truth
                kept.parquet          the corpus without its planted
                                      duplicates: what a perfect curation
                                      keeps
                queries.tsv           8-token queries with their answer key:
                                      the source and char span they came from
  viewer        lineitem.parquet,     TPC-H-shaped tables
                orders.parquet
                specs.tsv             filter-spec pool
                requests.tsv          Zipf request sequence over the pool
"""

import argparse
import os
import re

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Sizes are chosen so one benchmark run stays inside its time budget on a
# 4-core host; see README.md for how they relate to the full-scale figures.
SERVE_DOCS = 40
SERVE_GIANTS = 1
GIANT_CHARS = (200_000, 250_000)
SERVE_QUERIES = 200
EXACT_DUP_SHARE = 0.05
NEAR_DUP_SHARE = 0.15
NEAR_DUP_EDIT_SHARE = 0.03
MEDIAN_CHARS = 6000
ORDERS_ROWS = 15_000  # about 4 lineitem rows each
VIEWER_SPECS = 4096
VIEWER_REQUESTS = 4096
VIEWER_REPEAT_SLOTS = (2,)  # of every 5 requests
VIEWER_ORDERS_SLOTS = (5,)  # of every 10 specs; the rest query lineitem
VOCAB = 20_000
QUERY_TOKENS = 8

WORKLOADS = ("rag_serve", "viewer")
# Fixed writer options; pyarrow writes no timestamps or random ids, so equal
# tables give equal bytes.
WRITE_OPTS = dict(compression="snappy", use_dictionary=True,
                  write_statistics=True)


class Words:
    """A seeded synthetic vocabulary drawn with Zipf-like frequencies."""

    def __init__(self, rng):
        letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
        lens = rng.integers(2, 11, size=VOCAB)
        seen, words = set(), []
        for n in lens:
            w = "".join(rng.choice(letters, size=n))
            while w in seen:
                w += letters[rng.integers(26)]
            seen.add(w)
            words.append(w)
        self.words = np.array(words, dtype=object)
        p = 1.0 / np.arange(1, VOCAB + 1) ** 1.05
        self.cdf = np.cumsum(p / p.sum())

    def draw(self, rng, n):
        idx = np.searchsorted(self.cdf, rng.random(n), side="right")
        return self.words[np.minimum(idx, VOCAB - 1)]


def sentence(rng, words):
    ws = list(words.draw(rng, int(rng.integers(6, 19))))
    ws[0] = ws[0].capitalize()
    if rng.random() < 0.15:
        ws.insert(int(rng.integers(1, len(ws))), str(int(rng.integers(1, 9999))))
    return " ".join(ws) + (". " if rng.random() < 0.9 else "? ")


def paragraph(rng, words):
    if rng.random() < 0.12:
        return "\n".join("- " + sentence(rng, words).strip()
                         for _ in range(int(rng.integers(2, 6))))
    return "".join(sentence(rng, words)
                   for _ in range(int(rng.integers(2, 7)))).strip()


def document(rng, words, target_chars, title):
    parts = ["# " + title]
    size = len(parts[0])
    while size < target_chars:
        if rng.random() < 0.2:
            p = "## " + " ".join(words.draw(rng, int(rng.integers(2, 6)))).title()
        else:
            p = paragraph(rng, words)
        parts.append(p)
        size += len(p) + 2
    return "\n\n".join(parts)


def corpus(rng, words, n, median_chars, giants, tag):
    """Documents with log-normal lengths (and `giants` multi-MB filings);
    every document gets its own source."""
    lens = np.clip(rng.lognormal(np.log(median_chars), 0.7, size=n),
                   300, 20 * median_chars)
    # rescale to a fixed total, so throughput compares across seeds
    lens = (lens * n * median_chars * np.exp(0.7 ** 2 / 2) / lens.sum()).astype(int)
    rows = []
    for i, n_chars in enumerate(lens):
        title = " ".join(words.draw(rng, 4)).title()
        rows.append((title, int(n_chars),
                     f"https://docs.example.org/{tag}/{i:05d}.md"))
    for g in range(giants):
        n_chars = int(rng.integers(*GIANT_CHARS))
        rows.append((f"Form 10-K Annual Report {g}", n_chars,
                     f"https://filings.example.org/{tag}/10-K-{g:03d}.md"))
    texts = [document(rng, words, n_chars, title)
             for title, n_chars, _ in rows]
    return {
        "doc_id": np.arange(len(rows), dtype=np.int64),
        "text": texts,
        "source": [s for _, _, s in rows],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, name + ".parquet"),
                   **WRITE_OPTS)


def write_tsv(out, name, cols):
    """Small driver-side tables (truth, queries, specs) as tab-separated
    text with a header, so the benchmark reads them without a Spark job."""
    names = list(cols)
    rows = zip(*(cols[n] for n in names))
    with open(os.path.join(out, name + ".tsv"), "w", newline="\n") as f:
        f.write("\t".join(names) + "\n")
        for r in rows:
            cells = [str(v) for v in r]
            assert not any("\t" in c or "\n" in c for c in cells)
            f.write("\t".join(cells) + "\n")


def read_tsv(path):
    """Rows of a file written by write_tsv, as column -> cell dicts."""
    with open(path) as f:
        header, *lines = f.read().splitlines()
    names = header.split("\t")
    return [dict(zip(names, line.split("\t"))) for line in lines]


def queries(rng, docs):
    """8-token spans sampled from random documents. The answer key is the
    (source, start, end) char span and its text; a cited chunk answers the
    query when it comes from that source and contains that text."""
    tok = re.compile(r"[A-Za-z0-9]+")
    qtexts, sources, starts, ends, spans = [], [], [], [], []
    n_docs = len(docs["text"])
    while len(qtexts) < SERVE_QUERIES:
        d = int(rng.integers(n_docs))
        text = docs["text"][d]
        ms = list(tok.finditer(text))
        if len(ms) < 4 * QUERY_TOKENS:
            continue
        i = int(rng.integers(len(ms) - QUERY_TOKENS))
        span = ms[i:i + QUERY_TOKENS]
        # a span across a paragraph break can fall between two chunks
        if "\n" in text[span[0].start():span[-1].end()]:
            continue
        qtexts.append(" ".join(m.group().lower() for m in span))
        sources.append(docs["source"][d])
        starts.append(span[0].start())
        ends.append(span[-1].end())
        spans.append(text[span[0].start():span[-1].end()])
    return {
        "query_id": np.arange(SERVE_QUERIES, dtype=np.int64),
        "query_text": qtexts,
        "source": sources,
        "span_start": np.array(starts, dtype=np.int32),
        "span_end": np.array(ends, dtype=np.int32),
        "span_text": spans,
    }


def near_copy(rng, words, text):
    """Edit about NEAR_DUP_EDIT_SHARE of the tokens: substitute, delete or
    insert a word."""
    toks = text.split(" ")
    n_edits = max(1, int(len(toks) * NEAR_DUP_EDIT_SHARE))
    for pos in sorted(rng.choice(len(toks), size=n_edits, replace=False),
                      reverse=True):
        op = rng.integers(3)
        if op == 0:
            toks[pos] = words.draw(rng, 1)[0]
        elif op == 1 and len(toks) > 1:
            del toks[pos]
        else:
            toks.insert(pos, words.draw(rng, 1)[0])
    return " ".join(toks)


def rag_corpus(rng, words, out):
    """The store's corpus with planted exact and near duplicates, the
    truth of which document each duplicates, and queries drawn from the
    documents outside every planted group."""
    base = corpus(rng, words, SERVE_DOCS, MEDIAN_CHARS, SERVE_GIANTS, "serve")
    n_exact = int(SERVE_DOCS * EXACT_DUP_SHARE)
    n_near = int(SERVE_DOCS * NEAR_DUP_SHARE)
    origs = rng.choice(SERVE_DOCS, size=n_exact + n_near, replace=False)
    texts, sources = list(base["text"]), list(base["source"])
    planted = {"orig_doc_id": [], "dup_doc_id": [], "kind": []}
    for j, o in enumerate(origs):
        kind = "exact" if j < n_exact else "near"
        texts.append(base["text"][o] if kind == "exact"
                     else near_copy(rng, words, base["text"][o]))
        sources.append(f"https://mirror.example.org/serve/{len(texts):05d}.md")
        planted["orig_doc_id"].append(int(o))
        planted["dup_doc_id"].append(len(texts) - 1)
        planted["kind"].append(kind)
    alone = [i for i in range(len(base["text"])) if i not in set(origs)]
    write_tsv(out, "queries", queries(rng, {
        "text": [base["text"][i] for i in alone],
        "source": [base["source"][i] for i in alone]}))
    # shuffle so duplicates do not sit at the end of the id range
    perm = rng.permutation(len(texts))
    new_id = np.empty(len(texts), dtype=np.int64)
    new_id[perm] = np.arange(len(texts))
    write(out, "docs", {
        "doc_id": np.arange(len(texts), dtype=np.int64),
        "text": [texts[i] for i in perm],
        "source": [sources[i] for i in perm],
        "n_chars": np.array([len(texts[i]) for i in perm], dtype=np.int64),
    })
    write_tsv(out, "planted", {
        "orig_doc_id": new_id[planted["orig_doc_id"]],
        "dup_doc_id": new_id[planted["dup_doc_id"]],
        "kind": planted["kind"],
    })
    # what a perfect curation keeps: the corpus without the duplicates
    dups = set(new_id[planted["dup_doc_id"]].tolist())
    keep = [i for i in range(len(texts)) if i not in dups]
    write(out, "kept", {
        "doc_id": np.array(keep, dtype=np.int64),
        "text": [texts[perm[i]] for i in keep],
        "source": [sources[perm[i]] for i in keep],
        "n_chars": np.array([len(texts[perm[i]]) for i in keep], dtype=np.int64),
    })


def viewer(rng, out):
    day0 = np.datetime64("1992-01-01")
    days = 2400
    o_date = day0 + rng.integers(0, days, ORDERS_ROWS).astype("timedelta64[D]")
    write(out, "orders", {
        "o_orderkey": np.arange(1, ORDERS_ROWS + 1, dtype=np.int64),
        "o_custkey": rng.integers(1, ORDERS_ROWS // 10, ORDERS_ROWS),
        "o_orderstatus": rng.choice(["F", "O", "P"], ORDERS_ROWS),
        "o_totalprice": np.round(rng.uniform(900, 500_000, ORDERS_ROWS), 2),
        "o_orderdate": o_date,
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
            ORDERS_ROWS),
    })
    # 1..7 lines per order, so (l_orderkey, l_linenumber) is a key
    lines = rng.integers(1, 8, ORDERS_ROWS)
    okey = np.repeat(np.arange(1, ORDERS_ROWS + 1, dtype=np.int64), lines)
    n = len(okey)
    lineno = (np.arange(n) - np.repeat(np.cumsum(lines) - lines, lines) + 1)
    qty = rng.integers(1, 51, n).astype(np.float64)
    write(out, "lineitem", {
        "l_orderkey": okey,
        "l_partkey": rng.integers(1, 20_000, n),
        "l_suppkey": rng.integers(1, 1_000, n),
        "l_linenumber": lineno.astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2000, n), 2),
        "l_discount": np.round(rng.integers(0, 11, n) / 100, 2),
        "l_tax": np.round(rng.integers(0, 9, n) / 100, 2),
        "l_returnflag": rng.choice(["A", "N", "R"], n),
        "l_linestatus": rng.choice(["F", "O"], n),
        "l_shipdate": o_date[okey - 1]
                      + rng.integers(1, 120, n).astype("timedelta64[D]"),
    })
    # A spec is Eq + NumBetween + DateBetween over one table.
    # One spec in ten queries orders, the rest lineitem, in a fixed
    # pattern: every run serves the same mix of the two tables. Orders
    # pages are cheaper and their cost varies more from seed to seed, so
    # they stay few enough that the median request is a lineitem miss.
    table = np.where(np.isin(np.arange(VIEWER_SPECS) % 10, VIEWER_ORDERS_SLOTS),
                     "orders", "lineitem")
    eq_li = rng.choice(["A", "N", "R"], VIEWER_SPECS)
    eq_or = rng.choice(["F", "O", "P"], VIEWER_SPECS)
    lo_q = rng.integers(1, 40, VIEWER_SPECS)
    lo_p = rng.integers(0, 400_000, VIEWER_SPECS)
    d_lo = rng.integers(0, days - 200, VIEWER_SPECS)
    d_len = rng.integers(60, 900, VIEWER_SPECS)
    li = table == "lineitem"
    write_tsv(out, "specs", {
        "spec_id": np.arange(VIEWER_SPECS, dtype=np.int64),
        "tbl": table,
        "eq_col": np.where(li, "l_returnflag", "o_orderstatus"),
        "eq_val": np.where(li, eq_li, eq_or),
        "num_col": np.where(li, "l_quantity", "o_totalprice"),
        "num_lo": np.where(li, lo_q, lo_p).astype(np.float64),
        "num_hi": np.where(li, lo_q + rng.integers(5, 30, VIEWER_SPECS),
                           lo_p + rng.integers(20_000, 200_000, VIEWER_SPECS)
                           ).astype(np.float64),
        "date_col": np.where(li, "l_shipdate", "o_orderdate"),
        "date_lo": (day0 + d_lo.astype("timedelta64[D]")).astype(str),
        "date_hi": (day0 + (d_lo + d_len).astype("timedelta64[D]")).astype(str),
        "page_offset": rng.integers(0, 4, VIEWER_SPECS) * 100,
    })
    # Requests: one of every five repeats an earlier spec (Zipf over
    # first-use order, so early specs stay hot), the rest take the next
    # fresh spec. A fixed pattern keeps the hit share of any run the same,
    # and a small one keeps the median in the middle of the misses, not in
    # their fast tail, which moves more from seed to seed.
    seq, fresh = [], 0
    for r in range(VIEWER_REQUESTS):
        if r % 5 in VIEWER_REPEAT_SLOTS:
            rank = min(int(rng.zipf(1.3)) - 1, fresh - 1)
            seq.append(rank)
        else:
            seq.append(fresh)
            fresh += 1
    write_tsv(out, "requests", {
        "request_id": np.arange(VIEWER_REQUESTS, dtype=np.int64),
        "spec_id": np.array(seq, dtype=np.int64),
    })


def generate(workload, seed, out):
    os.makedirs(out, exist_ok=True)
    # one stream per workload, so each workload's inputs depend only on
    # its own name and the seed
    rng = np.random.default_rng([seed, WORKLOADS.index(workload)])
    if workload == "viewer":
        viewer(rng, out)
    else:
        rag_corpus(rng, Words(rng), out)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    generate(a.workload, a.seed, a.out)


if __name__ == "__main__":
    main()
