"""Inputs of `curation_stream`.

A documents table has the program's documents schema (doc_id, text, lang,
source, n_chars). Text is drawn from a generated topic vocabulary with the
language's marker words mixed in, which is what the program's quality and
language signals read. The stream's batches are new documents made from the
corpus with stated shares of near-duplicates of corpus documents, documents
carrying a span of a benchmark document, and non-English documents.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from inputs import vocabulary

MARKERS = {
    "en": ["the", "a", "of", "and", "is"],
    "de": ["der", "die", "das", "und", "ist"],
    "fr": ["le", "la", "les", "et", "est"],
    "es": ["el", "los", "las", "y", "es"],
}
LANGS = ["en", "en", "en", "de", "fr", "es", "zh"]
TOPIC_WORDS = 2000
MARKER_SHARE = 0.25

# curation_stream shape
BASE_DOCS = 2000
BATCH_DOCS = 100
DUP_SHARE = 0.2
CONTAM_SHARE = 0.1
NON_EN_SHARE = 0.2
RETAIN = 3
SPAN = 12


def doc_text(rng, words, lang, n_tokens):
    toks = [words[i] for i in rng.integers(0, len(words), size=n_tokens).tolist()]
    if lang in MARKERS:
        m = MARKERS[lang]
        for k in np.nonzero(rng.random(n_tokens) < MARKER_SHARE)[0].tolist():
            toks[k] = m[int(rng.integers(0, len(m)))]
    return toks


def perturb(rng, toks, words, frac=0.04):
    """A near-duplicate: a few tokens replaced."""
    out = list(toks)
    for k in np.nonzero(rng.random(len(out)) < frac)[0].tolist():
        out[k] = words[int(rng.integers(0, len(words)))]
    return out


def documents(rng, n, dup_share=0.05):
    """`n` documents; `dup_share` of them are near-duplicates of an earlier
    one, so the corpus has near-duplicate components to find."""
    words = [w.decode() for w in vocabulary(rng, TOPIC_WORDS)]
    rows = []
    for i in range(n):
        lang = LANGS[int(rng.integers(0, len(LANGS)))]
        if i > 10 and rng.random() < dup_share:
            src = rows[int(rng.integers(0, i))]
            toks, lang = perturb(rng, src[1], words), src[2]
        else:
            toks = doc_text(rng, words, lang, int(rng.integers(40, 90)))
        rows.append((i, toks, lang, f"src{int(rng.integers(0, 20))}"))
    return words, rows


def write_docs(rows, path, full=True):
    texts = [" ".join(t) for _, t, _, _ in rows]
    cols = {"doc_id": pa.array([r[0] for r in rows], pa.int64()),
            "text": pa.array(texts, pa.string())}
    if full:
        cols["lang"] = pa.array([r[2] for r in rows], pa.string())
        cols["source"] = pa.array([r[3] for r in rows], pa.string())
        cols["n_chars"] = pa.array([len(t) for t in texts], pa.int64())
    pq.write_table(pa.table(cols), path)


def generate(workload, seed, seconds, d):
    rng = np.random.default_rng([seed, 2])
    words, rows = documents(rng, BASE_DOCS)
    write_docs(rows, os.path.join(d, "documents.parquet"))
    corpus = [r for r in rows if r[0] % 4 != 1]
    bench = [r for r in rows if r[0] % 7 == 0]
    # a fixed batch count per run length, not per host speed: the program's
    # stream pipeline runs with Trigger.AvailableNow, which takes the files
    # staged at its start; a warm batch takes 7-12 s on 4 cores
    n_batches = max(4, int(round(seconds * 0.25)))
    next_id = BASE_DOCS
    kinds = {"dup": 0, "contam": 0, "non_en": 0, "clean": 0}

    def batch_file(path, count):
        nonlocal next_id
        batch = []
        for _ in range(BATCH_DOCS):
            u = rng.random()
            if u < DUP_SHARE:
                src = corpus[int(rng.integers(0, len(corpus)))]
                toks, kind = perturb(rng, src[1], words), "dup"
            elif u < DUP_SHARE + CONTAM_SHARE:
                toks = doc_text(rng, words, "en", int(rng.integers(40, 90)))
                b_toks = bench[int(rng.integers(0, len(bench)))][1]
                at = int(rng.integers(0, max(1, len(b_toks) - SPAN)))
                ins = int(rng.integers(0, len(toks)))
                toks = toks[:ins] + b_toks[at:at + SPAN] + toks[ins:]
                kind = "contam"
            elif u < DUP_SHARE + CONTAM_SHARE + NON_EN_SHARE:
                lang = ["de", "fr", "es"][int(rng.integers(0, 3))]
                toks, kind = doc_text(rng, words, lang, int(rng.integers(40, 90))), "non_en"
            else:
                toks, kind = doc_text(rng, words, "en", int(rng.integers(40, 90))), "clean"
            if count:
                kinds[kind] += 1
            batch.append((next_id, toks, "", ""))
            next_id += 1
        os.makedirs(os.path.dirname(path), exist_ok=True)
        write_docs(batch, path, full=False)

    stage = os.path.join(d, "stage")
    for b in range(n_batches):
        batch_file(os.path.join(stage, f"batch_{b:04d}.parquet"), True)
    warmup = os.path.join(d, "warmup")
    batch_file(os.path.join(warmup, "batch_0000.parquet"), False)
    staged = n_batches * BATCH_DOCS
    props = {
        "corpus_docs": len(corpus), "benchmark_docs": len(bench),
        "batches": n_batches, "docs_per_batch": BATCH_DOCS,
        "staged_mb": round(sum(os.path.getsize(os.path.join(stage, f))
                               for f in os.listdir(stage)) / 1e6, 4),
        "near_dup_share": round(kinds["dup"] / staged, 4),
        "contaminated_share": round(kinds["contam"] / staged, 4),
        "non_en_share": round(kinds["non_en"] / staged, 4),
        "retain_snapshots": RETAIN,
    }
    return {"curation": {"documents": os.path.join(d, "documents.parquet"),
                         "stage": stage, "warmup_stage": warmup, "batches": n_batches,
                         "staged_docs": staged, "retain": RETAIN}}, props
