"""Seeded inputs for the benchmark, made from the sf0.1 `documents` table.

The same seed gives the same files, paths and mtimes. The
engine receives only what this writes:

  docs/src0..src4/doc_NNNNN.txt     etl_cold: every document as a file
"""

import os
import random

N_SRC = 5
MTIME_BASE = 1_700_000_000


def load_documents(tsv):
    """[(doc_id, text)] in doc_id order."""
    docs = []
    with open(tsv, encoding="utf-8") as fh:
        for line in fh:
            doc_id, text = line.rstrip("\n").split("\t", 1)
            docs.append((doc_id, text))
    return docs


def _write(path, text, mtime):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w", encoding="utf-8") as fh:
        fh.write(text)
    os.utime(path, (mtime, mtime))


def generate(docs, seed, out, workload):
    """Writes the workload's inputs under `out`; returns {file_name: text}
    for every file the engine may list (the answers are checked from it)."""
    rng = random.Random(seed)
    os.makedirs(out, exist_ok=True)
    texts = {}
    if workload == "etl_cold":
        mtimes = rng.sample(range(10 * len(docs)), len(docs))
        for (doc_id, text), mtime in zip(docs, mtimes):
            name = f"doc_{int(doc_id):05d}.txt"
            _write(os.path.join(out, "docs", f"src{rng.randrange(N_SRC)}", name),
                   text, MTIME_BASE + mtime)
            texts[name] = text
    return texts
