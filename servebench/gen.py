"""Seeded corpus, request and change-log generator for the serving benchmark.

Everything the server reads is written here as files; the server never sees
the seed. `documents.parquet` and `embeddings.parquet` follow the schema
`graft.tables.Tables` reads:

  documents  (doc_id int64, text string, lang string, source string, n_chars int64)
  embeddings (vec_id int64, embedding list<float>, label int32)

The corpus has a Zipf vocabulary (so BM25 posting lists span a realistic
range instead of the whole corpus), log-normal document lengths,
part-number-like `source` keys (some shared by several documents, so the
exact arm of fusion search returns small groups), and a few-valued `lang`
field for filtered search.

The seed draws the content: the corpus, the query texts and keys, which
query is popular, which documents the change log touches. The shape of the
workload is the same for every seed, so that runs on different seeds time
the same work: how many terms each query has, which positions of a request
stream repeat an earlier query, which fusion queries are keys, which filter
value each filtered query uses, and the order of inserts, updates and
deletes in the change log. All of that comes from `shape()`.
"""

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

LANGS = ["en", "de", "fr", "es", "ja"]
LANG_WEIGHTS = [0.45, 0.2, 0.15, 0.12, 0.08]
KEY_PREFIXES = ["AX", "BR", "CT", "DL", "EV", "FK", "GM", "HT", "JP", "KW"]
SYLLABLES = [c + v for c in "bcdfghjklmnprstvwz" for v in "aeiou"]
EMBED_DIM = 64
SHAPE_SEED = 0


def shape():
    """The generator of the workload's shape, the same for every seed."""
    return np.random.default_rng(SHAPE_SEED)


def zipf_weights(n, s):
    w = 1.0 / np.arange(1, n + 1) ** s
    return w / w.sum()


def vocabulary(rng, size):
    """`size` distinct lower-case pseudo-words of 2 to 4 syllables."""
    words, seen = [], set()
    while len(words) < size:
        w = "".join(rng.choice(SYLLABLES, rng.integers(2, 5)))
        if w not in seen:
            seen.add(w)
            words.append(w)
    return words


def part_key(rng):
    return "%s-%05d-%s" % (rng.choice(KEY_PREFIXES), rng.integers(0, 100000),
                           rng.choice(list("ABCDEFGHKMNPRSTVWXYZ")))


class Corpus:
    """Documents and query material drawn from one seed."""

    def __init__(self, seed, n_docs, vocab_size, zipf_s=1.05):
        self.rng = np.random.default_rng(seed)
        self.words = vocabulary(self.rng, vocab_size)
        self.word_p = zipf_weights(vocab_size, zipf_s)
        n_keys = max(1, int(n_docs * 0.6))
        keys = sorted({part_key(self.rng) for _ in range(n_keys)})
        texts = self.texts(n_docs)
        langs = self.rng.choice(LANGS, n_docs, p=LANG_WEIGHTS)
        sources = self.rng.choice(keys, n_docs)
        self.docs = [{"doc_id": i, "text": t, "lang": str(l), "source": str(k),
                      "n_chars": len(t)}
                     for i, (t, l, k) in enumerate(zip(texts, langs, sources))]

    def texts(self, n, lo=4, hi=240):
        """`n` texts of log-normal length (clipped to lo..hi tokens) drawn
        from the Zipf vocabulary."""
        lens = np.clip(self.rng.lognormal(3.4, 0.7, n), lo, hi).astype(int)
        idx = self.rng.choice(len(self.words), int(lens.sum()), p=self.word_p)
        cuts = np.cumsum(lens)[:-1]
        return [" ".join(self.words[i] for i in part) for part in np.split(idx, cuts)]

    def write(self, data_dir):
        os.makedirs(data_dir, exist_ok=True)
        cols = {k: [d[k] for d in self.docs] for k in self.docs[0]}
        schema = pa.schema([("doc_id", pa.int64()), ("text", pa.string()),
                            ("lang", pa.string()), ("source", pa.string()),
                            ("n_chars", pa.int64())])
        pq.write_table(pa.table(cols, schema=schema),
                       os.path.join(data_dir, "documents.parquet"))
        n = len(self.docs)
        emb = self.rng.standard_normal((n, EMBED_DIM)).astype(np.float32)
        emb /= np.linalg.norm(emb, axis=1, keepdims=True)
        table = pa.table({
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
            "label": pa.array(self.rng.integers(0, 10, n).astype(np.int32)),
        })
        pq.write_table(table, os.path.join(data_dir, "embeddings.parquet"))

    def query_pool(self, size, key_share):
        """Text queries of 1 to 3 Zipf-drawn terms (in turn), plus stored
        source keys (`key_share` of the pool) for the exact arm of fusion
        search."""
        n_keys = int(size * key_share)
        texts = []
        for i in range(size - n_keys):
            idx = self.rng.choice(len(self.words), 1 + i % 3, p=self.word_p)
            texts.append(" ".join(self.words[i] for i in idx))
        keys = [str(k) for k in self.rng.choice(
            [d["source"] for d in self.docs], n_keys)]
        return texts, keys

    def zipf_stream(self, pool, n, s=1.1):
        """`n` draws from `pool`, Zipf-weighted, so popular queries repeat.
        The sequence of popularity ranks is the workload's shape; the seed
        decides which query holds each rank."""
        order = self.rng.permutation(len(pool))
        ranks = shape().choice(len(pool), n, p=zipf_weights(len(pool), s))
        return [pool[order[r]] for r in ranks]

    def change_log(self, n_batches, batch_size, first_new_id):
        """Seeded CDC batches of (op, doc_id, text, seq) over the corpus:
        inserts of new ids, in-place updates and deletes of live ids, half,
        a quarter and a quarter of each batch, in a fixed order. One op per
        id per batch. Returns (batches, inserted ids, deleted ids)."""
        live = list(range(len(self.docs)))
        self.rng.shuffle(live)
        next_id, seq = first_new_id, 0
        inserted, deleted, batches = set(), set(), []
        n_upd = n_del = batch_size // 4
        ops = ["I"] * (batch_size - n_upd - n_del) + ["U"] * n_upd + ["D"] * n_del
        order = shape()
        for _ in range(n_batches):
            batch, touched = [], set()
            for op in order.permutation(ops):
                seq += 1
                if op == "I":
                    doc_id, text = next_id, self.texts(1, 4, 60)[0]
                    next_id += 1
                    inserted.add(doc_id)
                    live.append(doc_id)
                else:
                    doc_id = next(i for i in live if i not in touched)
                    text = self.texts(1, 4, 60)[0] if op == "U" else ""
                    if op == "D":
                        live.remove(doc_id)
                        inserted.discard(doc_id)
                        deleted.add(doc_id)
                touched.add(doc_id)
                batch.append([str(op), int(doc_id), text, seq])
            batches.append(batch)
        return batches, sorted(inserted), sorted(deleted)


def write_change_log(path, batches):
    with open(path, "w") as f:
        json.dump(batches, f)
