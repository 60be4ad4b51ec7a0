"""Seeded document-batch generator for the `ingest_batches` workload.

The batches are built the way the repo's own ingest demo (q244) builds
its corpus: the committed `documents` table joined with `embeddings`
on doc_id = vec_id (500 documents at sf0.01, 64-dim embeddings),
split into 3 batches, with 40 planted copies per kind on top, q244's
count of near copies and of vector twins per 500 documents. The seed
picks the split and the copies; the texts are the corpus's own, so
the near, vector and minhash lanes also meet its natural collisions.

Kinds recorded in the ground truth (`truth.json`):
  - `fresh`       a corpus document of 100 chars or more;
  - `short`       a corpus document under the pipeline's 100-char
                  quality floor (37 of the 500 at sf0.01);
  - `exact_in`    an exact copy (text and embedding) of a fresh
                  document of the same batch;
  - `exact_prev`  an exact copy of a fresh document of an earlier batch;
  - `near`        a copy of an earlier fresh document with a few tokens
                  replaced by other corpus tokens, same embedding;
  - `vec`         q244's vector twin: unrelated, id-salted text with the
                  embedding of an earlier fresh document.
Corpus documents keep their doc_id; copies get ids from 1,000,000 up,
so a copy always carries a higher doc_id than its source.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

MIN_CHARS = 100
COPIES = 40  # per planted kind, as q244 plants per 500 documents
NEAR_EDITS = 3


def corpus(tables):
    """(doc_id, text, embedding) of documents joined with embeddings,
    in doc_id order."""
    docs = pq.read_table(os.path.join(tables, "documents.parquet"),
                         columns=["doc_id", "text"]).to_pydict()
    emb = pq.read_table(os.path.join(tables, "embeddings.parquet"),
                        columns=["vec_id", "embedding"]).to_pydict()
    vec = dict(zip(emb["vec_id"], emb["embedding"]))
    return sorted((i, t, vec[i]) for i, t in zip(docs["doc_id"], docs["text"])
                  if i in vec)


def generate(seed, tables, out_dir, batches):
    """Write `batches` parquet files into out_dir from the corpus under
    `tables` and return the ground truth. Same seed, same bytes."""
    rng = np.random.default_rng(seed)
    rows = corpus(tables)
    vocab = sorted({w for _, t, _ in rows for w in t.split(" ")})
    order = rng.permutation(len(rows))
    batch_rows = [[rows[i] for i in part]
                  for part in np.array_split(order, batches)]
    truth = {"batches": [], "kinds": {}, "input_bytes": 0, "docs": 0}
    for b, part in enumerate(batch_rows):
        for i, t, _ in part:
            truth["kinds"][str(i)] = "fresh" if len(t) >= MIN_CHARS else "short"

    def sources(lo, hi):
        return [r for part in batch_rows[lo:hi] for r in part
                if len(r[1]) >= MIN_CHARS]

    next_id = 1_000_000
    planted = [[] for _ in range(batches)]
    for kind in ("exact_in", "exact_prev", "near", "vec"):
        for _ in range(COPIES):
            if kind == "exact_in":
                b = int(rng.integers(batches))
                pool = sources(b, b + 1)
            else:
                b = int(rng.integers(1, batches))
                pool = sources(0, b)
            src_id, text, emb = pool[rng.integers(len(pool))]
            if kind == "near":
                toks = text.split(" ")
                for j in rng.choice(len(toks), NEAR_EDITS, replace=False):
                    toks[j] = vocab[rng.integers(len(vocab))]
                text = " ".join(toks)
            elif kind == "vec":
                text = " ".join(f"vt{next_id}x{k}" for k in range(1, 31))
            planted[b].append((next_id, text, emb))
            truth["kinds"][str(next_id)] = kind
            next_id += 1

    os.makedirs(out_dir, exist_ok=True)
    for b in range(batches):
        docs = batch_rows[b] + planted[b]
        docs = [docs[i] for i in rng.permutation(len(docs))]
        table = pa.table({
            "doc_id": pa.array([r[0] for r in docs], pa.int64()),
            "text": pa.array([r[1] for r in docs], pa.string()),
            "embedding": pa.array([list(r[2]) for r in docs],
                                  pa.list_(pa.float32())),
        })
        path = os.path.join(out_dir, f"batch_{b:02d}.parquet")
        pq.write_table(table, path)
        truth["batches"].append(path)
        truth["docs"] += len(docs)
        truth["input_bytes"] += sum(8 + len(r[1].encode()) + 4 * len(r[2])
                                    for r in docs)
    with open(os.path.join(out_dir, "truth.json"), "w") as f:
        json.dump(truth, f)
    return truth
