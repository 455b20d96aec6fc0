#!/usr/bin/env python3
"""Seeded input generators for the benchmark workloads: `ngram` writes
Google-Books-shaped TSVs, `docs` a documents.parquet. The same seed always
writes byte-identical files; the program under test sees only what these
functions write.

N-gram files follow the reference corpus layout: one line per
`ngram \t year \t occurrences \t volumes`, language taken from the file name
(`eng-*` / `heb-*`), years 1800-2008 (21 decades). Words come from a Zipf
vocabulary whose head holds each language's stopwords; about 5% of tokens
carry a POS tag (`_NOUN`) or punctuation that token cleaning must strip, and
a few malformed lines per file must be dropped by the source reader.

The documents table has the `documents` schema of the engine's test data
(doc_id, text, lang, source, n_chars) at its sf0.1 row count: 5,000
documents, about 1.3 MB of text, 5 languages. A tenth of them are near-
duplicates of another document (one word replaced), so the near-duplicate
components the dedup layer finds are not empty.
"""
import os

import numpy as np

# Stopword sets of the engine (graft.ops.Stopwords): they sit at the head of
# each Zipf vocabulary so the stopword filter removes real volume.
EN_STOP = ["the", "a", "an", "and", "or", "of", "to", "in", "on", "at", "for",
           "is", "are", "was", "be", "by", "with", "as", "it", "this", "that"]
HE_STOP = ["של", "את", "על", "הוא", "היא", "זה", "אני", "לא", "כי", "עם",
           "הם", "אבל", "או", "גם", "מה", "כל", "אם", "יש", "אין", "כמו"]

EN_LETTERS = "bcdfghjklmnprstvwz"
EN_VOWELS = "aeiou"
HE_LETTERS = "אבגדהוזחטיכלמנסעפצקרשת"

# Per-language bigram line counts and vocabulary sizes; the 1-gram files
# hold one line per (word, year) those bigrams use.
NGRAM_BIGRAMS = {"eng": 45_000, "heb": 36_000}
NGRAM_VOCAB = {"eng": 6_000, "heb": 4_000}
YEAR_LO, YEAR_HI = 1800, 2008
MALFORMED_PER_FILE = 25

DOCS = 5_000
DOC_LANGS = ["en", "zh", "es", "fr", "de"]
DOC_LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
DOC_SOURCES = 20
DOC_VOCAB = 400
# Share of documents that copy another with one word replaced, so the
# near-duplicate detection finds components.
DOC_NEAR_DUPS = 0.1

# Decorations that cleaning strips: POS tags after the first `_`, leading
# and trailing punctuation.
SUFFIXES = ["_NOUN", "_VERB", "_ADJ", "_ADV", ",", ".", ";", "!", "?", ")", "...", ":"]
PREFIXES = ["(", "\"", "'", "--"]
DECORATED = 0.05


def _words(rng, n, letters, vowels, taken):
    """n distinct synthetic words not in `taken`."""
    out, seen = [], set(taken)
    while len(out) < n:
        k = int(rng.integers(2, 5))
        if vowels:
            w = "".join(letters[rng.integers(len(letters))] + vowels[rng.integers(len(vowels))]
                        for _ in range(k))
        else:
            w = "".join(letters[rng.integers(len(letters))] for _ in range(k + 1))
        if w not in seen:
            seen.add(w)
            out.append(w)
    return out


def _zipf_p(n, s=1.05, q=2.7):
    p = 1.0 / (np.arange(n) + q) ** s
    return p / p.sum()


def _decorate(rng, toks, capitalize):
    """Put a POS tag or punctuation on about 5% of the tokens."""
    toks = np.array(toks, dtype=object)
    hit = rng.random(len(toks)) < DECORATED
    idx = np.nonzero(hit)[0]
    kinds = rng.integers(0, len(SUFFIXES) + len(PREFIXES), size=len(idx))
    for i, k in zip(idx, kinds):
        toks[i] = toks[i] + SUFFIXES[k] if k < len(SUFFIXES) else PREFIXES[k - len(SUFFIXES)] + toks[i]
    if capitalize:
        cap = np.nonzero(rng.random(len(toks)) < 0.03)[0]
        for i in cap:
            toks[i] = toks[i].capitalize()
    return toks


def _malformed(rng, vocab, bigram):
    """Lines the reader must drop: short rows, non-numeric or non-positive
    fields, and a bigram row with a single token."""
    w = vocab[int(rng.integers(len(vocab)))]
    ng = f"{w} {vocab[int(rng.integers(len(vocab)))]}" if bigram else w
    year = int(rng.integers(YEAR_LO, YEAR_HI + 1))
    return [
        f"{ng}\t{year}",
        f"{ng}\tyear{year}\t5\t1",
        f"{ng}\t{year}\t0\t0",
        f"{ng}\t{year}\t-4\t1",
        f"{ng}\t{year}\tmany\t1",
        f"{w}\t{year}\t3\t1" if bigram else f"\t{year}\t3\t1",
        "--\t1900\t2\t1",
    ][int(rng.integers(7))]


def _years(rng, n):
    """Years spread evenly over the 21 decades (the last one is 2000-2008)."""
    decade = YEAR_LO + 10 * rng.integers(0, 21, n)
    return np.minimum(decade + rng.integers(0, 10, n), YEAR_HI)


def _counts(rng, n):
    occ = np.minimum(rng.zipf(1.9, n), 50_000)
    vol = np.minimum(1 + (rng.random(n) * occ).astype(np.int64), occ)
    return occ, vol


def _ngram_lines(rng, lang, vocab, n_bi):
    p = _zipf_p(len(vocab))
    words = np.array(vocab, dtype=object)

    # A third of the bigram rows come from a fixed phrase list, so strong
    # collocations exist; the rest pair words independently.
    phrases = rng.choice(len(vocab), (2_000, 2), p=p)
    from_phrase = rng.random(n_bi) < 0.33
    pick = phrases[rng.integers(0, len(phrases), n_bi)]
    free = rng.choice(len(vocab), (n_bi, 2), p=p)
    pairs = np.where(from_phrase[:, None], pick, free)
    bi_years = _years(rng, n_bi)
    bi_occ, bi_vol = _counts(rng, n_bi)

    # Unigram rows are per (word, year) totals over the bigram rows plus
    # some extra mass, as in the real corpus where a word's 1-gram count is
    # at least the count of any bigram it starts or ends: the LLR
    # contingency table then never goes negative.
    key = np.concatenate([pairs[:, 0], pairs[:, 1]]) * 10_000 + np.tile(bi_years, 2)
    keys, inv = np.unique(key, return_inverse=True)
    occ = np.bincount(inv, weights=np.tile(bi_occ, 2)).astype(np.int64)
    occ += np.minimum(rng.zipf(1.9, len(keys)), 50_000)
    order = rng.permutation(len(keys))
    uni_w, uni_y, occ = keys[order] // 10_000, keys[order] % 10_000, occ[order]
    vol = np.minimum(1 + (rng.random(len(occ)) * occ).astype(np.int64), occ)
    uni = _decorate(rng, words[uni_w], lang == "eng")
    uni_lines = [f"{t}\t{a}\t{b}\t{c}" for t, a, b, c in zip(uni, uni_y, occ, vol)]
    w1 = _decorate(rng, words[pairs[:, 0]], lang == "eng")
    w2 = _decorate(rng, words[pairs[:, 1]], lang == "eng")
    bi_lines = [f"{a} {b}\t{c}\t{d}\t{e}" for a, b, c, d, e in zip(w1, w2, bi_years, bi_occ, bi_vol)]

    for lines, bigram in ((uni_lines, False), (bi_lines, True)):
        at = np.sort(rng.integers(0, len(lines), MALFORMED_PER_FILE))
        for k, i in enumerate(at):
            lines.insert(int(i) + k, _malformed(rng, vocab, bigram))
    return uni_lines, bi_lines


def ngram(seed, out_dir):
    """Write eng/heb 1-gram and 2-gram TSVs; returns {file name: line count}."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    written = {}
    for lang in ("eng", "heb"):
        stop = EN_STOP if lang == "eng" else HE_STOP
        letters, vowels = (EN_LETTERS, EN_VOWELS) if lang == "eng" else (HE_LETTERS, "")
        vocab = stop + _words(rng, NGRAM_VOCAB[lang], letters, vowels, stop)
        uni, bi = _ngram_lines(rng, lang, vocab, NGRAM_BIGRAMS[lang])
        for name, lines in ((f"{lang}-1gram.tsv", uni), (f"{lang}-2gram.tsv", bi)):
            with open(os.path.join(out_dir, name), "w", encoding="utf-8", newline="\n") as f:
                f.write("\n".join(lines))
                f.write("\n")
            written[name] = len(lines)
    return written


def docs(seed, out_dir):
    """Write documents.parquet; returns {file name: row count}."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng([seed, 2])
    os.makedirs(out_dir, exist_ok=True)
    vocab = EN_STOP + _words(rng, DOC_VOCAB, EN_LETTERS, EN_VOWELS, EN_STOP)
    words = np.array(vocab, dtype=object)
    p = _zipf_p(len(vocab), s=1.1)
    lengths = rng.integers(8, 96, DOCS)
    toks = _decorate(rng, words[rng.choice(len(vocab), int(lengths.sum()), p=p)], True)
    bounds = np.concatenate([[0], np.cumsum(lengths)])
    texts = [" ".join(toks[bounds[i]:bounds[i + 1]]) for i in range(DOCS)]
    langs = rng.choice(len(DOC_LANGS), DOCS, p=DOC_LANG_P)
    dups = np.nonzero(rng.random(DOCS) < DOC_NEAR_DUPS)[0]
    originals = np.setdiff1d(np.arange(DOCS), dups)
    for i in dups:
        src = int(originals[rng.integers(len(originals))])
        words_i = texts[src].split(" ")
        words_i[int(rng.integers(len(words_i)))] = vocab[int(rng.integers(len(vocab)))]
        texts[i], langs[i] = " ".join(words_i), langs[src]
    table = pa.table({
        "doc_id": pa.array(np.arange(DOCS, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([DOC_LANGS[i] for i in langs], pa.string()),
        "source": pa.array([f"src{i % DOC_SOURCES}" for i in range(DOCS)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    pq.write_table(table, os.path.join(out_dir, "documents.parquet"))
    return {"documents.parquet": DOCS}


GENERATORS = {"ngram": ngram, "docs": docs}
