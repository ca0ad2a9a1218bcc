"""Tests of the seeded input generator. Run from the repository root:

    python3 -m unittest discover -s ragbench/tests
"""

import os
import sys
import tempfile
import unittest

import pyarrow.parquet as pq

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))
import gen  # noqa: E402


def files(d):
    out = {}
    for name in sorted(os.listdir(d)):
        with open(os.path.join(d, name), "rb") as f:
            out[name] = f.read()
    return out


class Generator(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.tmp = tempfile.TemporaryDirectory()
        cls.dirs = {}
        for w in gen.WORKLOADS:
            for tag, seed in (("a", 7), ("b", 7), ("c", 8)):
                d = os.path.join(cls.tmp.name, f"{w}-{tag}")
                gen.generate(w, seed, d)
                cls.dirs[w, tag] = d

    @classmethod
    def tearDownClass(cls):
        cls.tmp.cleanup()

    def test_same_seed_gives_byte_identical_inputs(self):
        for w in gen.WORKLOADS:
            a, b = files(self.dirs[w, "a"]), files(self.dirs[w, "b"])
            self.assertTrue(a)
            self.assertEqual(a, b, w)

    def test_other_seed_gives_other_inputs(self):
        for w in gen.WORKLOADS:
            self.assertNotEqual(files(self.dirs[w, "a"]),
                                files(self.dirs[w, "c"]), w)

    def test_rag_corpus(self):
        d = self.dirs["rag_serve", "a"]
        docs = pq.read_table(os.path.join(d, "docs.parquet")).to_pydict()
        n = len(docs["doc_id"])
        # every document has its own source: chunk ids are {source}_chunk_{i}
        self.assertEqual(len(set(docs["source"])), n)
        self.assertEqual(docs["doc_id"], list(range(n)))
        self.assertGreaterEqual(max(docs["n_chars"]), gen.GIANT_CHARS[0])
        text = dict(zip(docs["doc_id"], docs["text"]))
        planted = gen.read_tsv(os.path.join(d, "planted.tsv"))
        kinds = [p["kind"] for p in planted]
        self.assertEqual(kinds.count("exact"), int(gen.SERVE_DOCS * gen.EXACT_DUP_SHARE))
        self.assertEqual(kinds.count("near"), int(gen.SERVE_DOCS * gen.NEAR_DUP_SHARE))
        for p in planted:
            o, dup = text[int(p["orig_doc_id"])], text[int(p["dup_doc_id"])]
            self.assertEqual(o == dup, p["kind"] == "exact")
        # the kept set is the corpus without the planted duplicates
        kept = pq.read_table(os.path.join(d, "kept.parquet")).to_pydict()
        dups = {int(p["dup_doc_id"]) for p in planted}
        self.assertEqual(kept["doc_id"], [i for i in range(n) if i not in dups])
        self.assertEqual(kept["text"], [text[i] for i in kept["doc_id"]])
        self.assertEqual(kept["source"], [docs["source"][i] for i in kept["doc_id"]])
        by_source = dict(zip(docs["source"], docs["text"]))
        queries = gen.read_tsv(os.path.join(d, "queries.tsv"))
        self.assertEqual(len(queries), gen.SERVE_QUERIES)
        for q in queries:
            doc = by_source[q["source"]]
            self.assertEqual(doc[int(q["span_start"]):int(q["span_end"])], q["span_text"])
            self.assertEqual(len(q["query_text"].split()), gen.QUERY_TOKENS)

    def test_viewer_requests_repeat_in_fixed_slots(self):
        d = self.dirs["viewer", "a"]
        reqs = [int(r["spec_id"]) for r in gen.read_tsv(os.path.join(d, "requests.tsv"))]
        # the requests in the repeat slots, and only those, repeat a spec
        seen = set()
        for i, s in enumerate(reqs):
            self.assertEqual(s in seen, i % 5 in gen.VIEWER_REPEAT_SLOTS)
            seen.add(s)
        specs = gen.read_tsv(os.path.join(d, "specs.tsv"))
        self.assertEqual(len(specs), gen.VIEWER_SPECS)
        li = pq.read_table(os.path.join(d, "lineitem.parquet"),
                           columns=["l_orderkey", "l_linenumber"]).to_pydict()
        keys = list(zip(li["l_orderkey"], li["l_linenumber"]))
        self.assertEqual(len(set(keys)), len(keys))


if __name__ == "__main__":
    unittest.main()
