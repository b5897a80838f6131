"""Seeded document + embedding corpus with injected near-duplicates.

Same schema as the catalog's `documents` (doc_id, text, lang, source,
n_chars) and `embeddings` (vec_id, embedding: list<float32>[64],
label) tables. A fixed share of rows are copies of earlier rows:
half exact copies, half near copies (a few words substituted for a
document, small noise for a vector), so every dedup stage has real
work. Ids are shuffled so copies are not adjacent to their source.

The vocabulary is wider than a toy corpus (Zipf-distributed over a few
thousand words) so unrelated documents rarely collide: pair counts are
driven by the injected copies, not by a tiny shared vocabulary.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EMB_DIM = 64
LANGS = np.array(["en", "de", "fr", "es", "zh"])
LANG_P = np.array([0.4, 0.15, 0.15, 0.15, 0.15])
_LETTERS = np.frombuffer(b"abcdefghijklmnopqrstuvwxyz", np.uint8)


@dataclass
class Corpus:
    documents: str          # parquet path
    embeddings: str         # parquet path
    n_docs: int
    n_vecs: int
    n_doc_copies: int


def _vocab(rng: np.random.Generator, size: int) -> np.ndarray:
    lens = rng.integers(3, 9, size)
    codes = _LETTERS[rng.integers(0, 26, (size, 8))]
    codes[np.arange(8)[None, :] >= lens[:, None]] = 0
    words = np.unique(codes.view("S8").ravel()).astype(str)
    rng.shuffle(words)
    return words


def generate_corpus(root: str, seed: int, n_docs: int = 5000,
                    n_vecs: int = 2000, copy_share: float = 0.1,
                    vocab_size: int = 3000) -> Corpus:
    rng = np.random.default_rng(seed)
    words = _vocab(rng, vocab_size)
    p = 1.0 / np.arange(1, len(words) + 1) ** 1.05
    p /= p.sum()

    # ---- documents: originals, then copies of earlier originals
    n_copy = int(n_docs * copy_share)
    n_orig = n_docs - n_copy
    lengths = rng.integers(20, 90, n_orig)
    flat = rng.choice(len(words), int(lengths.sum()), p=p)
    splits = np.split(flat, np.cumsum(lengths)[:-1])
    token_ids = list(splits)
    src = rng.integers(0, n_orig, n_copy)
    near = rng.random(n_copy) < 0.5
    for s, is_near in zip(src, near):
        t = token_ids[s].copy()
        if is_near:
            pos = rng.choice(len(t), 3, replace=False)
            t[pos] = rng.integers(0, len(words), 3)
        token_ids.append(t)
    texts = [" ".join(words[t]) for t in token_ids]
    perm = rng.permutation(n_docs)          # row i gets doc_id perm[i]
    documents = pa.table({
        "doc_id": perm.astype(np.int64),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, n_docs, p=LANG_P)),
        "source": pa.array(np.char.add("src", (perm % 20).astype(str))),
        "n_chars": np.array([len(t) for t in texts], np.int64),
    })

    # ---- embeddings: unit vectors around 10 label centres + copies
    v_copy = int(n_vecs * copy_share)
    v_orig = n_vecs - v_copy
    centres = rng.normal(size=(10, EMB_DIM))
    labels = rng.integers(0, 10, v_orig)
    vecs = 0.35 * centres[labels] + rng.normal(size=(v_orig, EMB_DIM))
    v_src = rng.integers(0, v_orig, v_copy)
    noise = rng.normal(scale=0.05, size=(v_copy, EMB_DIM))
    noise[rng.random(v_copy) < 0.5] = 0.0  # half exact copies
    vecs = np.concatenate([vecs, vecs[v_src] + noise])
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    labels = np.concatenate([labels, labels[v_src]]).astype(np.int32)
    vperm = rng.permutation(n_vecs)
    embeddings = pa.table({
        "vec_id": vperm.astype(np.int64),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(vecs.ravel()), EMB_DIM).cast(pa.list_(pa.float32())),
        "label": labels,
    })

    os.makedirs(root, exist_ok=True)
    docs_path = os.path.join(root, "documents.parquet")
    emb_path = os.path.join(root, "embeddings.parquet")
    pq.write_table(documents, docs_path)
    pq.write_table(embeddings, emb_path)
    return Corpus(docs_path, emb_path, n_docs, n_vecs, n_copy)
