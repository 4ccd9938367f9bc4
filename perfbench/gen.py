"""Seeded input generator for the pipeline benchmark.

Writes one workload's inputs in the program's `Tables` layout: each
table is a directory `<name>.parquet/` of FILES_PER_TABLE part files, so
a scan plans one split per file and uses every task slot.

    python3 perfbench/gen.py --workload dedup --seed 7 --out /tmp/in

The same (workload, seed) always gives the same rows; `fingerprint`
hashes a generated directory's rows so the self-test can check that.
Why each generated property exists is stated beside its constant. The
inputs are synthetic and no share below is a measurement of real
traffic: apart from the language priors, which follow the program's
sf0.1 `documents` test table (TESTDATA.md), every value is chosen so
that the workload exercises the code path named beside it.
"""
import argparse
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# 8 files per table: two splits per slot at 4 slots, so no scan runs in
# fewer tasks than there are slots.
FILES_PER_TABLE = 8

LANGS = ["en", "de", "fr", "es", "zh"]
N_SOURCES = 20
EMB_DIM = 64

# dedup: the exact- and near-duplicate shares are chosen so that every
# candidate source (exact hash, minhash bands, simhash blocks, cosine
# cells) emits pairs and Jaccard verification both keeps and drops some
# (dedup.verify_yield below 1). Duplicates copy original documents only,
# so duplicate clusters are stars of small diameter and the component
# rounds stay few. The hot phrases put the same shingles in a large share
# of documents, so some minhash bands and shingle postings are far larger
# than the rest and the joins on them are skewed.
DEDUP_DOCS = 1500
DEDUP_VOCAB = 4000
DEDUP_EXACT_SHARE = 0.05
DEDUP_NEAR_SHARE = 0.20
DEDUP_EDIT_RATE = 0.06
DEDUP_HOT_PHRASES = 3
DEDUP_HOT_SHARE = 0.15
# Embedding near-duplicates: the same near-duplicate share of vectors are
# close copies of another vector in their cell; the noise is wide enough
# that other same-cell pairs rarely pass the 0.45 cosine gate, so the
# cosine edges stay sparse and the components stay small.
DEDUP_VECTORS = 1000
DEDUP_VECTOR_LABELS = 10
DEDUP_VECTOR_NOISE = 2.5

# model_select: labelled languages with a Zipf vocabulary. Each language
# mixes a shared Zipf head with its own Zipf tail, so Naive Bayes and the
# vocabulary-capped grid separate classes only partly and the grid's caps
# change its scores. The priors are the language shares of the program's
# sf0.1 `documents` test table (41 % en, about 15 % each of de, es, fr,
# zh), so accuracy differs from the majority class rate.
MODEL_DOCS = 1500
MODEL_SHARED_VOCAB = 1500
MODEL_LANG_VOCAB = 600
MODEL_LANG_SHARE = 0.35
MODEL_PRIORS = [0.40, 0.15, 0.15, 0.15, 0.15]

# vector_index: label-centred clusters with Zipf-skewed occupancy, so a
# few IVF cells are crowded and the rest sparse; cell-gated pair counts
# grow with the square of a cell's size, so the crowded cells dominate
# kNN graph and refinement time. The query set (vec_id < 10, the ids the
# registered top-k query probes) is drawn from crowded and sparse cells
# alike.
VECTORS = 1200
VECTOR_LABELS = 12
VECTOR_ZIPF = 1.0
VECTOR_NOISE = 0.55
N_QUERIES = 10

WORKLOADS = ("dedup", "model_select", "vector_index")


def _rng(workload, seed):
    tag = int(hashlib.sha256(workload.encode()).hexdigest()[:8], 16)
    return np.random.default_rng([seed, tag])


def _words(rng, n):
    """n distinct pronounceable pseudo-words."""
    cons, vows = "bcdfghjklmnprstvz", "aeiou"
    out, seen = [], set()
    while len(out) < n:
        k = int(rng.integers(2, 5))
        w = "".join(cons[int(rng.integers(len(cons)))] +
                    vows[int(rng.integers(len(vows)))] for _ in range(k))
        if w not in seen:
            seen.add(w)
            out.append(w)
    return out


def _zipf_probs(n, s):
    p = 1.0 / np.arange(1, n + 1) ** s
    return p / p.sum()


def _write(table, out_dir, name):
    d = os.path.join(out_dir, f"{name}.parquet")
    os.makedirs(d, exist_ok=True)
    n = table.num_rows
    for i in range(FILES_PER_TABLE):
        lo, hi = n * i // FILES_PER_TABLE, n * (i + 1) // FILES_PER_TABLE
        pq.write_table(table.slice(lo, hi - lo),
                       os.path.join(d, f"part-{i:05d}.parquet"))


def _documents(ids, texts, langs, rng):
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs, pa.string()),
        "source": pa.array([f"src{int(s)}" for s in
                            rng.integers(0, N_SOURCES, len(ids))],
                           pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(ids, vecs, labels):
    return pa.table({
        "vec_id": pa.array(ids, pa.int64()),
        "embedding": pa.array(list(vecs.astype(np.float32)),
                              pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })


def _clustered_vectors(rng, sizes, noise):
    centers = rng.standard_normal((len(sizes), EMB_DIM))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    labels = np.repeat(np.arange(len(sizes)), sizes)
    vecs = centers[labels] + noise * rng.standard_normal(
        (len(labels), EMB_DIM)) / np.sqrt(EMB_DIM)
    return vecs, labels


def gen_dedup(rng, out_dir):
    vocab = np.array(_words(rng, DEDUP_VOCAB))
    probs = _zipf_probs(DEDUP_VOCAB, 1.05)
    hot = [" ".join(rng.choice(vocab[:200], 6)) for _ in
           range(DEDUP_HOT_PHRASES)]
    texts, originals = [], []
    for i in range(DEDUP_DOCS):
        u = rng.random()
        if originals and u < DEDUP_EXACT_SHARE:
            texts.append(texts[originals[int(rng.integers(len(originals)))]])
            continue
        if originals and u < DEDUP_EXACT_SHARE + DEDUP_NEAR_SHARE:
            src = originals[int(rng.integers(len(originals)))]
            words = texts[src].split(" ")
            edits = rng.random(len(words)) < DEDUP_EDIT_RATE
            repl = rng.choice(vocab, len(words), p=probs)
            words = [r if e else w for w, r, e in zip(words, repl, edits)]
        else:
            originals.append(i)
            words = list(rng.choice(vocab, int(rng.integers(30, 110)),
                                    p=probs))
            if rng.random() < DEDUP_HOT_SHARE:
                at = int(rng.integers(len(words)))
                phrase = hot[int(rng.integers(DEDUP_HOT_PHRASES))]
                words[at:at] = phrase.split(" ")
        texts.append(" ".join(words))
    langs = [LANGS[int(j)] for j in rng.integers(0, len(LANGS), DEDUP_DOCS)]
    _write(_documents(np.arange(DEDUP_DOCS), texts, langs, rng), out_dir,
           "documents")
    sizes = np.full(DEDUP_VECTOR_LABELS, DEDUP_VECTORS // DEDUP_VECTOR_LABELS)
    vecs, labels = _clustered_vectors(rng, sizes, DEDUP_VECTOR_NOISE)
    dup = np.flatnonzero(rng.random(len(labels)) < DEDUP_NEAR_SHARE)
    src = np.array([int(rng.choice(np.flatnonzero(labels == labels[i])))
                    for i in dup], dtype=int)
    vecs[dup] = vecs[src] + 0.1 * DEDUP_VECTOR_NOISE * rng.standard_normal(
        (len(dup), EMB_DIM)) / np.sqrt(EMB_DIM)
    perm = rng.permutation(len(labels))
    _write(_embeddings(np.arange(len(labels)), vecs[perm], labels[perm]),
           out_dir, "embeddings")


def gen_model_select(rng, out_dir):
    words = _words(rng, MODEL_SHARED_VOCAB + MODEL_LANG_VOCAB * len(LANGS))
    shared = np.array(words[:MODEL_SHARED_VOCAB])
    own = [np.array(words[MODEL_SHARED_VOCAB + k * MODEL_LANG_VOCAB:
                          MODEL_SHARED_VOCAB + (k + 1) * MODEL_LANG_VOCAB])
           for k in range(len(LANGS))]
    p_shared = _zipf_probs(MODEL_SHARED_VOCAB, 1.1)
    p_own = _zipf_probs(MODEL_LANG_VOCAB, 1.1)
    lang_idx = rng.choice(len(LANGS), MODEL_DOCS, p=MODEL_PRIORS)
    texts = []
    for k in lang_idx:
        n = int(rng.integers(20, 120))
        mine = rng.random(n) < MODEL_LANG_SHARE
        a = rng.choice(shared, n, p=p_shared)
        b = rng.choice(own[k], n, p=p_own)
        texts.append(" ".join(np.where(mine, b, a)))
    langs = [LANGS[int(k)] for k in lang_idx]
    _write(_documents(np.arange(MODEL_DOCS), texts, langs, rng), out_dir,
           "documents")


def gen_vector_index(rng, out_dir):
    p = _zipf_probs(VECTOR_LABELS, VECTOR_ZIPF)
    sizes = np.maximum(8, np.floor(p * VECTORS)).astype(int)
    sizes[0] += VECTORS - sizes.sum()
    vecs, labels = _clustered_vectors(rng, sizes, VECTOR_NOISE)
    # the first N_QUERIES ids go to points spread over the cells, the
    # crowded ones first; every other id is a random permutation
    order = rng.permutation(len(labels))
    first = [int(rng.choice(np.flatnonzero(labels == c)))
             for c in np.arange(N_QUERIES) % VECTOR_LABELS]
    taken = set(first)
    rest = [i for i in order if i not in taken]
    perm = np.array(first + rest)
    _write(_embeddings(np.arange(len(labels)), vecs[perm], labels[perm]),
           out_dir, "embeddings")


def generate(workload, seed, out_dir):
    gen = {"dedup": gen_dedup, "model_select": gen_model_select,
           "vector_index": gen_vector_index}[workload]
    os.makedirs(out_dir, exist_ok=True)
    gen(_rng(workload, seed), out_dir)


def fingerprint(out_dir):
    """sha256 over every generated table's rows, in file order."""
    h = hashlib.sha256()
    for name in sorted(os.listdir(out_dir)):
        d = os.path.join(out_dir, name)
        for part in sorted(os.listdir(d)):
            t = pq.read_table(os.path.join(d, part))
            h.update(name.encode())
            for col in t.column_names:
                h.update(col.encode())
                h.update(repr(t.column(col).to_pylist()).encode())
    return h.hexdigest()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    generate(a.workload, a.seed, a.out)
    print(fingerprint(a.out))


if __name__ == "__main__":
    main()
