"""Seeded input generator for the graft benchmark.

Writes the two tables the workloads read, `documents` and `embeddings`,
with the same column names, types and parquet encoding as the reference
test data (pyarrow, list<float> vectors). `documents` is a directory of
four part files of consecutive rows, as a Spark-written table is;
`embeddings` is one file.

The tables are built in two steps:

1. A base of scale `sf` is drawn from numpy generators seeded with the
   workload seed, one stream per table. It follows the reference data's
   recipe, which `--stats` measures:
   - max(50 000 * sf, 500) documents of 10 to 99 tokens, drawn
     uniformly from a 30-word vocabulary; 40% `en` and 15% each of four
     other languages; sources `src0`..`src19` in turn. Then n/20 rows,
     chosen at random, become a random other row that is not one of
     them plus " dup".
   - max(20 000 * sf, 500) vectors of 64 unit-normalized Gaussian
     floats with labels 0..9, so no planted near-duplicates.
2. The base is replicated `replicas` times with ScaleProbe's v2 recipe,
   extended with the seed:
   - every replica's ids move by `rep * 1e8` plus a seeded offset, a
     multiple of 1e6, so id residues (the `vec_id % 100` query batch,
     the `% 10` append split) are kept;
   - every replica renames its document tokens (`tok` -> `tokr<rep>`),
     so within-replica near-duplicates replicate and cross-replica
     shingle sets are disjoint (duplicate mass grows linearly); the
     other columns, `n_chars` too, are copied as they are;
   - replicas after the first add seed-keyed uniform noise (+-0.6 per
     dimension) to each vector, so replica-to-original cosine stays
     below the near-duplicate bar.

The same (seed, sf, replicas) always writes byte-identical files.

Usage: python3 gen.py <out_dir> <seed> <sf> <replicas>
       python3 gen.py --stats <tables_dir>   (base statistics of any tables)
"""
import os
import re
import sys

import numpy as np
import pyarrow as pa
import pyarrow.compute  # noqa: F401
import pyarrow.parquet as pq

VOCAB = ("join hash row batch scan customer column filter small slow merge order "
         "vector line data table agg value key stream window spark a group part big "
         "sort query fast the").split()
LANGS = ["en", "es", "fr", "zh", "de"]
LANG_P = [0.40, 0.15, 0.15, 0.15, 0.15]
DIM = 64
REPLICA_STRIDE = 100_000_000
DOC_PARTS = 4


def gen_documents(rng, n):
    texts = [" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), int(k)))
             for k in rng.integers(10, 100, n)]
    langs = rng.choice(LANGS, n, p=LANG_P)
    # Originals are never themselves copies: duplicate components are
    # stars, so the duplicate-graph work does not vary with the seed.
    dups = rng.choice(n, n // 20, replace=False)
    originals = np.setdiff1d(np.arange(n), dups)
    for i in dups:
        texts[i] = texts[originals[rng.integers(len(originals))]] + " dup"
    return texts, langs


def gen_embeddings(rng, n):
    v = rng.standard_normal((n, DIM))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return v.astype(np.float32), rng.integers(0, 10, n).astype(np.int32)


def generate(out, seed, sf, replicas):
    os.makedirs(out, exist_ok=True)
    n_doc, n_vec = max(int(50_000 * sf), 500), max(int(20_000 * sf), 500)
    reps = np.arange(replicas, dtype=np.int64)

    def ids(n):
        return (reps[:, None] * REPLICA_STRIDE + (seed % 90) * 1_000_000 + np.arange(n)[None, :]).ravel()

    texts, langs = gen_documents(np.random.default_rng([seed, 0]), n_doc)
    docs = pa.table({
        "doc_id": ids(n_doc),
        "text": [" ".join(f"{t}r{r}" for t in s.split(" ")) for r in range(replicas) for s in texts],
        "lang": np.tile(langs, replicas),
        "source": [f"src{i % 20}" for i in range(n_doc)] * replicas,
        "n_chars": np.tile(np.array([len(t) for t in texts], dtype=np.int64), replicas)})
    # A directory of part files, as Spark writes a table: the scan gets
    # one task per part instead of one task for the whole table.
    parts = os.path.join(out, "documents.parquet")
    os.makedirs(parts)
    k = -(-docs.num_rows // DOC_PARTS)
    for i in range(DOC_PARTS):
        pq.write_table(docs.slice(i * k, k), os.path.join(parts, f"part-{i:05d}.parquet"))

    vec, label = gen_embeddings(np.random.default_rng([seed, 1]), n_vec)
    noise = np.random.default_rng([seed, 2])
    emb = np.concatenate([vec] + [(vec + noise.uniform(-0.6, 0.6, vec.shape)).astype(np.float32)
                                  for _ in range(1, replicas)])
    pq.write_table(pa.table({
        "vec_id": ids(n_vec), "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": np.tile(label, replicas)}),
        os.path.join(out, "embeddings.parquet"))


def stats(tables):
    """Statistics of the base (the first replica) of a tables dir: what
    the generator must match. The replica token rename is undone."""
    def base(name, key):
        t = pq.read_table(os.path.join(tables, f"{name}.parquet"))
        return t.filter(pa.compute.less(t[key], REPLICA_STRIDE)).to_pydict()
    d = base("documents", "doc_id")
    toks = [re.sub(r"r[0-9]+(?= |$)", "", t).split(" ") for t in d["text"]]
    k = np.array([len(t) for t in toks])
    langs = {x: round(d["lang"].count(x) / len(toks), 3) for x in LANGS}
    print(f"documents: {len(toks)} rows, tokens/doc min {k.min()} mean {k.mean():.1f} max {k.max()}, "
          f"{len({w for t in toks for w in t})} distinct tokens, chars/doc {np.mean(d['n_chars']):.1f}, "
          f"' dup' docs {sum(t[-1].startswith('dup') for t in toks) / len(toks):.3f}, "
          f"exact-duplicate texts {len(toks) - len(set(map(tuple, toks)))}, langs {langs}, "
          f"{len(set(d['source']))} sources")
    e = base("embeddings", "vec_id")
    v = np.array(e["embedding"][:2000], dtype=np.float64)
    u = v / np.linalg.norm(v, axis=1, keepdims=True)
    s = u @ u.T
    np.fill_diagonal(s, -1)
    print(f"embeddings: {len(e['vec_id'])} rows, dim {v.shape[1]}, norm {np.linalg.norm(v, axis=1).mean():.3f}, "
          f"{len(set(e['label']))} labels; first {len(v)} rows: max cosine to another row "
          f"p50 {np.median(s.max(1)):.3f} max {s.max():.3f}, pairs above 0.45 {int((s > 0.45).sum() // 2)}")


if __name__ == "__main__":
    if sys.argv[1] == "--stats":
        stats(sys.argv[2])
    else:
        generate(sys.argv[1], int(sys.argv[2]), float(sys.argv[3]), int(sys.argv[4]))
