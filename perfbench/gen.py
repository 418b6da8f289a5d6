"""Seeded input generators for the benchmark.

Two independent generators, both pure numpy/pandas (nothing here imports
the program):

* ``write_corpus`` makes the ``build`` corpus: interleaved text+media
  documents whose text spans are tagged relation sentences.  Entity
  mentions follow a Zipf law over a synthetic vocabulary, and a share
  of mentions use a near-duplicate surface form of their entity, so
  canonicalization has real merges to make and the canonical joins see
  skewed keys.
* ``write_documents`` makes the registry's ``documents`` table, the one
  table the kg queries read, with the column types and value ranges of
  the repository's sf tables.

The same seed always gives byte-identical parquet files.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

# Tagged-sentence marker vocabulary of the converter output format.
E1 = ("ENTITYSTART", "ENTITYEND")
E2 = ("ENTITYOTHERSTART", "ENTITYOTHEREND")
UNRELATED = ("ENTITYUNRELATEDSTART", "ENTITYUNRELATEDEND")
LABELS = ["Other", "cause-effect", "component-whole", "entity-origin",
          "member-collection", "message-topic"]

FILLER = (
    "the a of in on for with from by under over after before during while "
    "results analysis report study team system model method data sample "
    "effect increase decrease measured observed shows suggests reported "
    "found caused produced contains includes part member group source "
    "origin topic message component whole cause when where which that this "
    "strong weak early late large small new old common rare"
).split()
# consonant-vowel(-coda) syllables: 540 of them, so entity names share
# few character shingles by accident
SYLLABLES = [c + v + e for c in "bcdfghjklmnprstvwz" for v in "aeiou"
             for e in ("", "n", "r", "l", "s", "t")]

# Corpus make-up (README "Generator make-up").
ENTITY_VOCAB = 400
ZIPF_S = 1.1
VARIANT_RATE = 0.15
MEDIA_RATE = 0.25
SPANS_PER_DOC = (3, 12)
WORDS_PER_SENTENCE = (8, 20)


def _entity_vocab(rng: np.random.Generator, n: int) -> list[str]:
    """``n`` distinct lowercase names of 2-3 syllables."""
    names: list[str] = []
    seen: set[str] = set()
    while len(names) < n:
        k = int(rng.integers(2, 4))
        name = "".join(SYLLABLES[i] for i in rng.integers(0, len(SYLLABLES), k))
        if name not in seen:
            seen.add(name)
            names.append(name)
    return names


def _variant(name: str, kind: int) -> str:
    """A near-duplicate surface form: plural, doubled letter, or a
    dropped inner letter."""
    if kind == 0:
        return name + "s"
    mid = len(name) // 2
    if kind == 1:
        return name[:mid] + name[mid] + name[mid:]
    return name[:mid] + name[mid + 1:]


def write_corpus(out_dir: str, seed: int, n_docs: int, n_files: int = 12,
                 slice_docs: int = 120) -> dict:
    """Write ``n_docs`` documents as ``n_files`` parquet files under
    ``out_dir/docs`` and the first ``slice_docs`` again under
    ``out_dir/slice``.  Returns the generator's own counts."""
    rng = np.random.default_rng([seed, 1])
    vocab = _entity_vocab(rng, ENTITY_VOCAB)
    ranks = np.arange(1, ENTITY_VOCAB + 1, dtype=np.float64)
    cdf = np.cumsum(ranks ** -ZIPF_S)
    cdf /= cdf[-1]

    def mention() -> str:
        name = vocab[min(int(np.searchsorted(cdf, rng.random())), ENTITY_VOCAB - 1)]
        if rng.random() < VARIANT_RATE:
            name = _variant(name, int(rng.integers(0, 3)))
        return name

    doc_ids, doc_spans = [], []
    text_spans = 0
    for d in range(n_docs):
        spans = []
        for k in range(int(rng.integers(SPANS_PER_DOC[0], SPANS_PER_DOC[1] + 1))):
            if rng.random() < MEDIA_RATE:
                spans.append({"kind": "media", "text": "",
                              "media_ref": f"media://blob/{d}/{k}", "offset": k})
                continue
            n = int(rng.integers(WORDS_PER_SENTENCE[0], WORDS_PER_SENTENCE[1] + 1))
            # units: filler words and whole marker groups, so no marker
            # group is ever split by another
            units = [[FILLER[i]] for i in rng.integers(0, len(FILLER), n)]
            if rng.random() < 0.3:
                j = int(rng.integers(0, n + 1))
                units.insert(j, [UNRELATED[0], mention(), UNRELATED[1]])
            first, second = [E1[0], mention(), E1[1]], [E2[0], mention(), E2[1]]
            if rng.random() < 0.2:
                first, second = second, first
            i1 = int(rng.integers(1, max(2, len(units) // 2)))
            i2 = int(rng.integers(i1 + 1, len(units)))
            toks = [t for u in units[:i1] + [first] + units[i1:i2] + [second] + units[i2:]
                    for t in u]
            label = LABELS[int(rng.integers(0, len(LABELS)))]
            spans.append({"kind": "text", "text": f"{label}\t{' '.join(toks)}",
                          "media_ref": "", "offset": k})
            text_spans += 1
        doc_ids.append(f"d{d:08d}")
        doc_spans.append(spans)

    pdf = pd.DataFrame({"doc_id": doc_ids, "spans": doc_spans})
    docs_dir = os.path.join(out_dir, "docs")
    os.makedirs(docs_dir, exist_ok=True)
    for i, part in enumerate(np.array_split(np.arange(n_docs), n_files)):
        pdf.iloc[part].to_parquet(os.path.join(docs_dir, f"part-{i:03d}.parquet"),
                                  index=False)
    slice_dir = os.path.join(out_dir, "slice")
    os.makedirs(slice_dir, exist_ok=True)
    pdf.iloc[:slice_docs].to_parquet(os.path.join(slice_dir, "part-000.parquet"),
                                     index=False)
    return {"docs": n_docs, "text_spans": text_spans, "docs_dir": docs_dir,
            "slice_dir": slice_dir, "slice_docs": min(slice_docs, n_docs)}


# ---------------------------------------------------------------------------
# the documents table
# ---------------------------------------------------------------------------

DOC_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]


def documents(seed: int, n: int) -> pd.DataFrame:
    rng = np.random.default_rng([seed, 2])
    lens = rng.integers(10, 101, n)
    texts = [" ".join(DOC_WORDS[i] for i in rng.integers(0, len(DOC_WORDS), k))
             for k in lens]
    # near-duplicates: ~5% of docs repeat an earlier doc plus a marker
    # word, a few repeat one exactly
    for i in np.flatnonzero(rng.random(n) < 0.05):
        if i > 0:
            texts[i] = texts[int(rng.integers(0, i))] + " dup"
    for i in np.flatnonzero(rng.random(n) < 0.002):
        if i > 0:
            texts[i] = texts[int(rng.integers(0, i))]
    return pd.DataFrame({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n, p=LANG_P),
        "source": [f"src{k}" for k in rng.integers(0, 20, n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def write_documents(out_dir: str, seed: int, n: int) -> dict[str, int]:
    """Write the table as one single-row-group parquet file
    ``out_dir/documents.parquet``; returns its row count."""
    os.makedirs(out_dir, exist_ok=True)
    documents(seed, n).to_parquet(os.path.join(out_dir, "documents.parquet"), index=False)
    return {"documents": n}


if __name__ == "__main__":
    # python3 gen.py corpus OUT_DIR SEED N_DOCS
    # python3 gen.py documents OUT_DIR SEED N_DOCS
    # prints the generator's counts as one JSON line
    import json
    import sys

    kind, out, seed = sys.argv[1], sys.argv[2], int(sys.argv[3])
    if kind == "corpus":
        info = write_corpus(out, seed, int(sys.argv[4]))
    elif kind == "documents":
        info = write_documents(out, seed, int(sys.argv[4]))
    else:
        sys.exit(f"unknown input kind {kind!r}")
    print(json.dumps(info))
