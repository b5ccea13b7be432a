"""Seeded input generators for the benchmark workloads.

Every generator draws from ``numpy.random.Generator(PCG64(seed))`` (text
corpora take their vocabulary from a fixed stream, see ``text_vocab``) and
writes files whose bytes depend only on the seed and the size parameters, so
the same seed reproduces byte-identical inputs and a different seed gives
different ones. The engine only ever sees the written files.

Text corpora use a synthetic Zipf vocabulary of lower-case ASCII words (no
stop-word list, so the most frequent terms behave like real stop-words and
make the sparse cosine join's pair stage grow quadratically).
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

LANGS = ["de", "en", "es", "fr", "zh"]
SOURCES = ["web", "books", "news", "code"]
# Category labels for the papers corpus: mixed case, trailing spaces and
# multi-word labels, which the pipeline must clean to atomic labels.
CATEGORIES = [
    "Computer Science",
    "computer science ",
    "Physics",
    "physics  ",
    "Math",
    "Quantitative Biology",
    "Statistics ",
    "STATISTICS",
]


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.Generator(np.random.PCG64([seed, stream]))


def text_vocab(size: int) -> np.ndarray:
    """The vocabulary of every text corpus: the same words in the same Zipf
    rank order whatever the seed, which draws only the documents. Which
    words are the hottest, and how they hash, then stays fixed; with a
    vocabulary drawn per seed, MinHash signatures of docs that all share the
    few hottest words collide, or not, depending on those words' hashes, and
    the dedup workload's LSH candidate count varied four-fold between seeds."""
    return make_vocab(_rng(0, 0), size)


def make_vocab(rng: np.random.Generator, size: int) -> np.ndarray:
    """``size`` distinct lower-case words of 3-10 letters."""
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words: dict[str, None] = {}
    while len(words) < size:
        n = size - len(words)
        lens = rng.integers(3, 11, size=n)
        chars = rng.choice(letters, size=(n, 10))
        for row, k in zip(chars, lens):
            words.setdefault("".join(row[:k]), None)
    return np.array(list(words)[:size])


def zipf_probs(vocab_size: int, exponent: float) -> np.ndarray:
    p = 1.0 / np.arange(1, vocab_size + 1, dtype=np.float64) ** exponent
    return p / p.sum()


def zipf_docs(
    rng: np.random.Generator,
    n_docs: int,
    vocab: np.ndarray,
    exponent: float,
    min_len: int,
    max_len: int,
) -> list[list[str]]:
    """``n_docs`` token lists with lengths uniform in [min_len, max_len]."""
    probs = zipf_probs(len(vocab), exponent)
    lens = rng.integers(min_len, max_len + 1, size=n_docs)
    ids = rng.choice(len(vocab), size=int(lens.sum()), p=probs)
    out, pos = [], 0
    for k in lens:
        out.append(list(vocab[ids[pos : pos + k]]))
        pos += k
    return out


def near_dup(rng: np.random.Generator, toks: list[str], vocab: np.ndarray, edit_rate: float) -> list[str]:
    """Copy of ``toks`` with about ``edit_rate`` of its tokens replaced by
    uniformly drawn vocabulary words."""
    out = list(toks)
    n_edit = max(1, int(round(edit_rate * len(out))))
    for i in rng.choice(len(out), size=n_edit, replace=False):
        out[i] = str(vocab[rng.integers(len(vocab))])
    return out


def _write_documents(path: str, docs: list[list[str]], rng: np.random.Generator) -> None:
    texts = [" ".join(d) for d in docs]
    n = len(texts)
    table = pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array([LANGS[i] for i in rng.integers(len(LANGS), size=n)], pa.string()),
            "source": pa.array([SOURCES[i] for i in rng.integers(len(SOURCES), size=n)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    pq.write_table(table, path, compression="snappy")


def gen_documents(out_dir: str, seed: int, p: dict) -> None:
    """``documents.parquet``: Zipf corpus, optionally with planted near-dups.

    With ``dup_share > 0``, that share of the docs the dedup query samples
    (``doc_id % sample_mod == 0``) are near-duplicate copies, with
    ``edit_rate`` of their tokens replaced, of an original sampled doc; each
    original is copied at most once, so every planted cluster is a pair,
    whatever the seed. Copies of earlier copies grow clusters rich-get-richer,
    and their sizes, with them the LSH candidate count, then vary several-fold
    between seeds. In clusters of three or more, the connected-components
    operator finishes in its one-shot hook round only when LSH finds every
    edge at each cluster's smallest id, and otherwise runs a driver
    union-find and a broadcast join: about one seed in ten or twenty took
    the short path, and its jobs ran 25 % faster.
    """
    rng = _rng(seed, 1)
    vocab = text_vocab(p["vocab"])
    docs = zipf_docs(rng, p["docs"], vocab, p["zipf"], p["min_len"], p["max_len"])
    share, mod = p.get("dup_share", 0.0), p.get("sample_mod", 5)
    if share > 0:
        sampled = np.arange(0, len(docs), mod)
        n_copies = int(round(share * len(sampled)))
        order = rng.permutation(sampled)
        for src, i in zip(order[:n_copies], order[n_copies : 2 * n_copies]):
            docs[i] = near_dup(rng, docs[src], vocab, p["edit_rate"])
    os.makedirs(out_dir, exist_ok=True)
    _write_documents(os.path.join(out_dir, "documents.parquet"), docs, rng)


def gen_papers(out_dir: str, seed: int, p: dict) -> None:
    """``papers.json`` (JSON lines: id, title, abstract, categories) and
    ``stopwords.txt`` (the ``n_stop`` most frequent vocabulary words)."""
    rng = _rng(seed, 2)
    vocab = text_vocab(p["vocab"])
    abstracts = zipf_docs(rng, p["docs"], vocab, p["zipf"], p["min_len"], p["max_len"])
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, "papers.json"), "w", encoding="ascii") as f:
        for i, toks in enumerate(abstracts):
            # The title mixes a slice of its own abstract with a few fresh
            # Zipf words, so retrieval is mostly but not always right.
            start = int(rng.integers(0, max(1, len(toks) - p["title_len"])))
            title = toks[start : start + p["title_len"]] + list(
                vocab[rng.choice(len(vocab), size=2, p=zipf_probs(len(vocab), p["zipf"]))]
            )
            row = {
                "id": f"p{i:06d}",
                "title": " ".join(title).capitalize() + ".",
                "abstract": " ".join(toks) + ".",
                "categories": CATEGORIES[int(rng.integers(len(CATEGORIES)))],
            }
            f.write(json.dumps(row) + "\n")
    with open(os.path.join(out_dir, "stopwords.txt"), "w", encoding="ascii") as f:
        f.write("\n".join(vocab[: p["n_stop"]]) + "\n")


def gen_embeddings(out_dir: str, seed: int, p: dict) -> None:
    """``embeddings.parquet``: ``rows`` float32 vectors of ``dim`` dims drawn
    around ``clusters`` random unit centres with Gaussian noise ``spread``."""
    rng = _rng(seed, 3)
    centres = rng.standard_normal((p["clusters"], p["dim"]))
    centres /= np.linalg.norm(centres, axis=1, keepdims=True)
    label = rng.integers(p["clusters"], size=p["rows"])
    vecs = (centres[label] + p["spread"] * rng.standard_normal((p["rows"], p["dim"]))).astype(np.float32)
    table = pa.table(
        {
            "vec_id": pa.array(np.arange(p["rows"], dtype=np.int64)),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(label.astype(np.int32)),
        }
    )
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(table, os.path.join(out_dir, "embeddings.parquet"), compression="snappy")
