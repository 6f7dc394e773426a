"""Seeded input tables, written as parquet during set-up.

The program under test only ever receives these tables. Documents come
from the library's own generator (corpus.generate_doc) with its module
seed rebound to ``--seed`` while this process generates them: seed 42 is
the repo's corpus byte for byte, and any other seed keeps the generator's
distributions (Zipf repo skew by row id, junk, near-duplicate and PII
blocks) because only the per-row random stream changes. corpus.py itself
is never edited — its source hash keys the DuckDB oracle twins.
"""

from __future__ import annotations

import random

import pandas as pd

# near-dup text table: word-count range of a base text, vocabulary size,
# and the share of rows that are edited copies of an earlier row (the
# planted pairs; candidate-pair volume scales with it)
TEXT_WORDS = (40, 80)
TEXT_VOCAB = 3000
TEXT_DUP_SHARE = 0.10
# near-dup embedding table: dimension, share of planted near-duplicates,
# and the per-component noise added to a copy (unit-variance components)
EMB_DIM = 64
EMB_DUP_SHARE = 0.10
EMB_NOISE = 0.05


def write_docs(n_docs: int, seed: int, path: str, files: int) -> None:
    """Generated source-code documents (repo, path, commit, lang, content,
    content_sha256) as ``files`` parquet files, so a scan fans out."""
    from corporate_knowledge_extractor_spark import corpus

    n_repos = corpus.n_repos_for_sf(n_docs / 500_000)
    saved = corpus.SEED
    corpus.SEED = seed  # generate_doc reads the module seed per call
    try:
        rows = [corpus.generate_doc(i, n_docs, n_repos) for i in range(n_docs)]
    finally:
        corpus.SEED = saved
    write_frame(pd.DataFrame(rows), path, files)


def docs_key(seed: int, n_docs: int) -> str:
    """Identifies the content write_docs produces: the generator's and
    this module's source, the seed and the row count."""
    import hashlib

    from corporate_knowledge_extractor_spark import corpus

    h = hashlib.sha256()
    for path in (corpus.__file__, __file__):
        with open(path, "rb") as f:
            h.update(f.read())
    return f"{h.hexdigest()}:{seed}:{n_docs}"


def neardup_texts(n_texts: int, seed: int):
    """(texts, planted_pairs): a (doc_id, text) frame of random word
    sequences in which a TEXT_DUP_SHARE of rows are copies of an earlier
    row with one or two words substituted (word-3-gram Jaccard ~0.7-0.9),
    and the set of (source, copy) id pairs so planted."""
    rng = random.Random(seed)
    vocab = [f"w{k}" for k in range(TEXT_VOCAB)]
    texts: list[str] = []
    pairs: set[tuple[int, int]] = set()
    for i in range(n_texts):
        if i > 0 and rng.random() < TEXT_DUP_SHARE:
            src = rng.randrange(i)
            words = texts[src].split(" ")
            for _ in range(rng.randint(1, 2)):
                words[rng.randrange(len(words))] = rng.choice(vocab)
            pairs.add((src, i))
        else:
            words = [rng.choice(vocab) for _ in range(rng.randint(*TEXT_WORDS))]
        texts.append(" ".join(words))
    return pd.DataFrame({"doc_id": range(n_texts), "text": texts}), pairs


def write_frame(pdf: pd.DataFrame, path: str, files: int) -> None:
    """``pdf`` as ``files`` parquet files of consecutive rows under the
    directory ``path`` (replaced if present)."""
    import os
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    table = pa.Table.from_pandas(pdf, preserve_index=False)
    step = -(-len(pdf) // files)
    for k in range(files):
        pq.write_table(table.slice(k * step, step), os.path.join(path, f"part-{k:05d}.parquet"))


def neardup_embeddings(n_vecs: int, seed: int):
    """(embeddings, planted_pairs): a (vec_id, embedding) frame of random
    EMB_DIM-d Gaussian vectors in which an EMB_DUP_SHARE of rows are an
    earlier row plus small Gaussian noise (cosine ~0.999), and the set of
    (source, copy) id pairs so planted. Unrelated vectors in this many
    dimensions almost never reach the 0.95 cosine cut."""
    rng = random.Random(seed + 1)  # a stream apart from the texts'
    vecs: list[list[float]] = []
    pairs: set[tuple[int, int]] = set()
    for i in range(n_vecs):
        if i > 0 and rng.random() < EMB_DUP_SHARE:
            src = rng.randrange(i)
            vecs.append([x + rng.gauss(0.0, EMB_NOISE) for x in vecs[src]])
            pairs.add((src, i))
        else:
            vecs.append([rng.gauss(0.0, 1.0) for _ in range(EMB_DIM)])
    return pd.DataFrame({"vec_id": range(n_vecs), "embedding": vecs}), pairs
