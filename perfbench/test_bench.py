"""Tests for the benchmark's input generators and its output check.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import hashlib
import os
import sys
import tempfile
import unittest
from collections import Counter

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import duckdb  # noqa: E402

import gen  # noqa: E402
import oracle  # noqa: E402


def file_digests(d):
    out = {}
    for f in sorted(os.listdir(d)):
        with open(os.path.join(d, f), "rb") as fh:
            out[f] = hashlib.sha256(fh.read()).hexdigest()
    return out


class GeneratorTest(unittest.TestCase):

    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        self.addCleanup(self.tmp.cleanup)

    def write(self, kind, seed, name):
        d = os.path.join(self.tmp.name, name)
        gen.GENERATORS[kind](seed, d)
        return file_digests(d)

    def test_same_seed_gives_identical_bytes(self):
        for kind in gen.GENERATORS:
            self.assertEqual(self.write(kind, 7, f"{kind}-a"), self.write(kind, 7, f"{kind}-b"))

    def test_other_seed_gives_other_bytes(self):
        for kind in gen.GENERATORS:
            a, b = self.write(kind, 7, f"{kind}-a"), self.write(kind, 8, f"{kind}-b")
            self.assertEqual(a.keys(), b.keys())
            for f in a:
                self.assertNotEqual(a[f], b[f], f)

    def test_ngram_files_have_the_reference_layout(self):
        d = os.path.join(self.tmp.name, "ng")
        written = gen.ngram(3, d)
        self.assertEqual(sorted(written), ["eng-1gram.tsv", "eng-2gram.tsv",
                                           "heb-1gram.tsv", "heb-2gram.tsv"])
        for name in written:
            with open(os.path.join(d, name), encoding="utf-8") as fh:
                lines = fh.read().splitlines()
            self.assertEqual(len(lines), written[name])
            good = [l.split("\t") for l in lines
                    if len(l.split("\t")) == 4 and l.split("\t")[1].isdigit()
                    and l.split("\t")[2].isdigit() and int(l.split("\t")[2]) > 0]
            malformed = len(lines) - len(good)
            self.assertGreaterEqual(malformed, 1, name)
            self.assertLessEqual(malformed, gen.MALFORMED_PER_FILE, name)
            decades = {int(f[1]) // 10 * 10 for f in good}
            self.assertEqual(decades, set(range(1800, 2001, 10)), name)
            self.assertTrue(all(1800 <= int(f[1]) <= 2008 for f in good), name)
            tokens = [t for f in good for t in f[0].split(" ") if t]
            decorated = sum(1 for t in tokens
                            if "_" in t or not (t[0].isalpha() and t[-1].isalpha()))
            self.assertTrue(0.02 < decorated / len(tokens) < 0.08, (name, decorated / len(tokens)))
            stop = gen.HE_STOP if name.startswith("heb") else gen.EN_STOP
            self.assertTrue(any(t in stop for t in tokens), name)

    def test_documents_have_the_engine_schema(self):
        import pyarrow.parquet as pq
        d = os.path.join(self.tmp.name, "docs")
        gen.docs(3, d)
        t = pq.read_table(os.path.join(d, "documents.parquet"))
        self.assertEqual([(f.name, str(f.type)) for f in t.schema],
                         [("doc_id", "int64"), ("text", "string"), ("lang", "string"),
                          ("source", "string"), ("n_chars", "int64")])
        self.assertEqual(t.num_rows, gen.DOCS)
        self.assertEqual(set(t.column("lang").to_pylist()), set(gen.DOC_LANGS))
        texts = t.column("text").to_pylist()
        chars = sum(len(x) for x in texts)
        self.assertTrue(1_000_000 < chars < 2_000_000, chars)
        # a near-duplicate replaces one word, so it keeps its source's first
        # or second half
        halves = [(tuple(w[:len(w) // 2]), tuple(w[len(w) // 2:])) for w in map(str.split, texts)]
        firsts, seconds = Counter(h[0] for h in halves), Counter(h[1] for h in halves)
        near = sum(1 for a, b in halves if firsts[a] > 1 or seconds[b] > 1)
        self.assertGreater(near, gen.DOCS * gen.DOC_NEAR_DUPS, near)


class OutputCheckTest(unittest.TestCase):
    """The check passes an exact output and fails a perturbed one."""

    SQL = """SELECT CASE WHEN filename LIKE '%heb%' THEN 'he' ELSE 'en' END AS lang,
                    CAST(floor(TRY_CAST(f[2] AS INTEGER) / 10) * 10 AS BIGINT) AS decade,
                    CAST(count(*) AS BIGINT) AS n,
                    round(avg(TRY_CAST(f[3] AS BIGINT)), 6) AS llr
             FROM (SELECT filename, string_split(unnest(string_split(content, chr(10))), chr(9)) AS f
                   FROM read_text('{dir}/*-2gram.tsv'))
             WHERE TRY_CAST(f[2] AS INTEGER) IS NOT NULL
             GROUP BY ALL"""

    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        self.addCleanup(self.tmp.cleanup)
        self.dir = os.path.join(self.tmp.name, "ng")
        gen.ngram(5, self.dir)
        self.sql = self.SQL.format(dir=self.dir)

    def output(self, transform):
        path = os.path.join(self.tmp.name, "out.parquet")
        con = duckdb.connect()
        con.execute(f"COPY ({transform.format(q=self.sql)}) TO '{path}' (FORMAT PARQUET)")
        con.close()
        return path

    def test_exact_output_passes(self):
        ok, msg = oracle.check(self.sql, self.output("SELECT * FROM ({q})"))
        self.assertTrue(ok, msg)

    def test_perturbed_value_fails(self):
        path = self.output("SELECT lang, decade, n, CASE WHEN decade = 1900 AND lang = 'en' "
                           "THEN llr + 0.000001 ELSE llr END AS llr FROM ({q})")
        ok, msg = oracle.check(self.sql, path)
        self.assertFalse(ok)
        self.assertIn("rows", msg)

    def test_missing_row_fails(self):
        ok, _ = oracle.check(self.sql, self.output("SELECT * FROM ({q}) WHERE decade <> 1850"))
        self.assertFalse(ok)

    def test_changed_type_fails(self):
        path = self.output("SELECT lang, decade, CAST(n AS INTEGER) AS n, llr FROM ({q})")
        ok, msg = oracle.check(self.sql, path)
        self.assertFalse(ok)
        self.assertIn("types", msg)


if __name__ == "__main__":
    unittest.main()
