"""Seeded LLM-data corpus with planted duplicate truth, plus pure-Python checks.

Documents are random word sequences over a pseudo-word vocabulary, so
unrelated documents share no 3-word shingle. Planted on top:

* exact-duplicate families: byte-identical copies of a base document;
* near-duplicate families: copies with one word substituted and the
  case or punctuation changed (normalization removes the latter), so
  their shingle Jaccard with the base is about 0.93.

Embeddings are dim-64 vectors around ``n_centers`` random centres, with
planted near-duplicate families (base plus tiny noise, cosine > 0.99).
The truth for both is recorded in :class:`Corpus`.
"""

from __future__ import annotations

import random
import re
from dataclasses import dataclass

import numpy as np

DIM = 64
SHINGLE_K = 3


@dataclass
class Corpus:
    doc_ids: list[int]
    texts: list[str]
    #: planted families of doc ids (exact and near), each sorted, size >= 2
    exact_families: list[list[int]]
    near_families: list[list[int]]
    vec_ids: np.ndarray  # int64 [n]
    vecs: np.ndarray  # float64 [n, DIM]
    #: planted embedding near-duplicate families of vec ids
    vec_families: list[list[int]]


def _vocab(rng: random.Random, n: int) -> list[str]:
    cons, vows = "bcdfghjklmnprstvwz", "aeiou"
    seen: set[str] = set()
    while len(seen) < n:
        w = "".join(rng.choice(cons) + rng.choice(vows) for _ in range(rng.randint(2, 4)))
        seen.add(w)
    return sorted(seen)


def _doc(rng: random.Random, vocab: list[str]) -> list[str]:
    return [rng.choice(vocab) for _ in range(rng.randint(60, 90))]


def _render(words: list[str], variant: int) -> str:
    text = " ".join(words)
    if variant % 3 == 1:
        text = text.capitalize() + "."
    elif variant % 3 == 2:
        text = text.replace(" ", ", ", 3).upper()
    return text


def make_corpus(
    seed: int,
    n_docs: int,
    n_vecs: int,
    n_centers: int = 32,
    dup_share: float = 0.2,
) -> Corpus:
    """``n_docs`` documents and ``n_vecs`` vectors; ``dup_share`` of each is planted."""
    rng = random.Random(seed)
    vocab = _vocab(rng, 4000)
    docs: list[tuple[str, int]] = []  # (text, family or -1)
    fam_kind: list[str] = []
    quota, copies = int(n_docs * dup_share), 0
    while len(docs) < n_docs:
        words = _doc(rng, vocab)
        base = _render(words, 0)
        if copies >= quota or rng.random() >= 0.3:
            docs.append((base, -1))
            continue
        fam = len(fam_kind)
        fam_kind.append("exact" if fam % 2 == 0 else "near")
        docs.append((base, fam))
        for c in range(rng.randint(1, 3)):
            if fam_kind[fam] == "exact":
                docs.append((base, fam))
            else:
                w = list(words)
                pos = rng.randrange(len(w))
                w[pos] = rng.choice([v for v in vocab[:50] if v != w[pos]])
                docs.append((_render(w, c + 1), fam))
            copies += 1
    docs = docs[:n_docs]
    order = list(range(len(docs)))
    rng.shuffle(order)
    doc_ids = [0] * len(docs)
    for new_id, old in enumerate(order):
        doc_ids[old] = new_id
    families: dict[int, list[int]] = {}
    for old, (_, fam) in enumerate(docs):
        if fam >= 0:
            families.setdefault(fam, []).append(doc_ids[old])
    exact = [sorted(m) for f, m in sorted(families.items()) if fam_kind[f] == "exact" and len(m) > 1]
    near = [sorted(m) for f, m in sorted(families.items()) if fam_kind[f] == "near" and len(m) > 1]
    texts = [""] * len(docs)
    for old, (text, _) in enumerate(docs):
        texts[doc_ids[old]] = text

    nrng = np.random.default_rng(seed)
    centers = nrng.normal(size=(n_centers, DIM))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    vecs = np.empty((n_vecs, DIM))
    vec_fams: list[list[int]] = []
    i = 0
    n_vplanted = int(n_vecs * dup_share)
    planted = 0
    while i < n_vecs:
        base = centers[nrng.integers(n_centers)] + nrng.normal(scale=0.12, size=DIM)
        vecs[i] = base
        i += 1
        if planted < n_vplanted and i % 4 == 0:
            fam = [i - 1]
            for _ in range(int(nrng.integers(1, 3))):
                if i >= n_vecs:
                    break
                vecs[i] = base + nrng.normal(scale=0.004, size=DIM)
                fam.append(i)
                i += 1
                planted += 1
            if len(fam) > 1:
                vec_fams.append(fam)
    perm = nrng.permutation(n_vecs)
    inv = np.empty(n_vecs, dtype=np.int64)
    inv[perm] = np.arange(n_vecs)
    shuffled = np.empty_like(vecs)
    shuffled[inv] = vecs
    vec_fams = [sorted(int(inv[j]) for j in fam) for fam in vec_fams]
    return Corpus(
        doc_ids=list(range(len(texts))),
        texts=texts,
        exact_families=exact,
        near_families=near,
        vec_ids=np.arange(n_vecs, dtype=np.int64),
        vecs=np.round(shuffled, 6),
        vec_families=vec_fams,
    )


# -- reference computations (mirror functions.texthash) ----------------------

_NONWORD = re.compile(r"[^a-z0-9]+")


def shingles(text: str, k: int = SHINGLE_K) -> set[str]:
    """Distinct k-word shingles of the normalized text (``spark_shingles``)."""
    words = [w for w in _NONWORD.sub(" ", text.lower()).strip().split(" ") if w]
    return {" ".join(words[i : i + k]) for i in range(len(words) - k + 1)}


def jaccard(a: set[str], b: set[str]) -> tuple[int, float]:
    inter = len(a & b)
    union = len(a) + len(b) - inter
    return inter, 1.0 if union == 0 else inter / union


def cosine_matrix(vecs: np.ndarray, rows: np.ndarray | None = None) -> np.ndarray:
    norms = np.linalg.norm(vecs, axis=1)
    q = vecs if rows is None else vecs[rows]
    qn = norms if rows is None else norms[rows]
    return (q @ vecs.T) / np.outer(qn, norms)

