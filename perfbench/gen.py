"""Seeded input generator for the perfbench workloads.

Everything the engine reads comes from here, and everything the benchmark
checks the engine's outputs against is computed here too, independently of
the engine:

  corpus/documents.parquet   doc_id, text, lang, source, n_chars (FIXTURES B1)
  corpus/embeddings.parquet  vec_id = doc_id, 64-dim SHA-256 byte-cycle
                             embedding of the text, label
  shards/shard-NNN.parquet   ingest: the set-up shard (000) and the rounds'
                             fresh documents with planted exact and near
                             duplicates
  waves/wave-NNN.parquet     churn upsert waves: documents plus embedding
  plan.json                  serve batches, churn schedule and the expected
                             answers (chunk counts, duplicate pairs, rank-1
                             documents, deleted ids, live user bytes)

The same seed gives byte-identical files; nothing depends on time, paths or
the Python hash seed.

Where a parameter below comes from: "B1" is the repository's documents
fixture (FIXTURES.md B1: 500 rows at sf0.01, texts of 44-577 chars, all
single-chunk), "q306" is the engine's text-in serving query. Every parameter
marked "assumed" has no source or measurement behind it; perfbench/README.md
lists them.

Usage: python3 perfbench/gen.py --seed N --out DIR [--workload NAME]
"""
import argparse
import hashlib
import json
import math
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

DIM = 64
CHUNK_STRIDE = 800  # ChunkText: size 1000, overlap 200 -> ceil(n / 800) chunks
VEC_BYTES = DIM * 4

N_CORPUS = 500  # B1's row count at sf0.01, the scale q306 serves
N_PROBE = 50  # short corpus documents whose text is an exact-text query (assumed)
N_SHARDS = 16
SHARD_DOCS = 500  # B1's row count at sf0.01: one round ingests one B1-sized batch
# the fewest that give the duplicate check a pair of each kind per shard;
# B1 itself holds 0.16% exact duplicates at sf0.1, under one per shard
SHARD_EXACT_DUPS = 1
SHARD_NEAR_DUPS = 1
N_BATCHES = 600
BATCH_QUERIES = 5  # q306's batch
# serve: every other batch repeats one of HOT_BATCHES batches (assumed)
HOT_BATCHES = 2
# churn reads: the share of reads whose phrases come from a hot set (assumed)
BATCH_REPEAT_SHARE = 0.5
N_STEPS = 120
WAVE_INSERTS = 12
WAVE_UPDATES = 4
DELETE_IDS = 8
CYCLE = ("upsert", "delete", "upsert", "delete", "maintain")

LANGS = ("en", "es", "de", "fr", "zh")
N_SOURCES = 10
# the serving terms of the engine's own hybrid queries (q306 and its lexical
# term sets), kept in the vocabulary
SERVING_TERMS = (
    "join", "hash", "customer", "order", "vector", "stream", "window", "sort",
    "scan", "filter", "transfer", "credits", "articulation", "agreements",
    "university", "florida", "priority", "spark", "batch", "index")
SYLLABLES = ("ka", "lo", "mi", "ne", "ru", "sa", "ti", "vo", "ze", "pa", "qu",
             "do", "fi", "gu", "ha", "je", "ko", "ly", "mo", "ny")


def vocabulary():
    words = list(SERVING_TERMS)
    for a in SYLLABLES:
        for b in SYLLABLES:
            words.append(a + b)
            if len(words) >= 400:
                return words
    return words


VOCAB = vocabulary()
# Zipf-like word frequencies over 400 words (assumed): a few common words, a
# long tail
WEIGHTS = [1.0 / (r + 1) for r in range(len(VOCAB))]
CUM = []
_acc = 0.0
for _w in WEIGHTS:
    _acc += _w
    CUM.append(_acc)


def embed(text):
    """The reference's hash embedding: SHA-256 of the UTF-8 text, its 32
    bytes cycled to DIM values b / 255 * 2 - 1 (float32 on write)."""
    d = hashlib.sha256(text.encode("utf-8")).digest()
    return [d[i % 32] / 255.0 * 2.0 - 1.0 for i in range(DIM)]


def n_chunks(text):
    return math.ceil(len(text) / CHUNK_STRIDE) if text else 0


class Gen:
    def __init__(self, seed):
        self.rng = random.Random(seed)
        self.tags = 0

    def words(self, n):
        return self.rng.choices(VOCAB, cum_weights=CUM, k=n)

    def text_of_length(self, target):
        text = ""
        while len(text) < target:
            text += " " + " ".join(self.words(target // 4 + 1))
        return text[1:target + 1].rstrip()

    def body_texts(self, n):
        """n texts in the length mix (assumed), its shares exact so every
        seed and shard carries the same mix: 55% single-chunk with B1's
        lengths (44-577 chars), 30% 2-3 chunks, 15% 4-5 chunks."""
        n1, n2 = round(n * 0.55), round(n * 0.30)
        lengths = ([self.rng.randint(44, 577) for _ in range(n1)] +
                   [self.rng.randint(800, 2400) for _ in range(n2)] +
                   [self.rng.randint(2401, 4000) for _ in range(n - n1 - n2)])
        self.rng.shuffle(lengths)
        return [self.text_of_length(x) for x in lengths]

    def probe_text(self):
        """A short document carrying one tag word no other document has, so
        its exact text is a query with one right answer on both legs."""
        self.tags += 1
        tag = "tag%dx%08x" % (self.tags, self.rng.getrandbits(32))
        return " ".join(self.words(self.rng.randint(5, 9)) + [tag])

    def phrase(self):
        """2-4 words, as q306's own queries besides the reference's two."""
        return " ".join(self.words(self.rng.randint(2, 4)))

    def doc(self, doc_id, text):
        return {"doc_id": doc_id, "text": text,
                "lang": LANGS[self.rng.randrange(len(LANGS))],
                "source": "src%d" % self.rng.randrange(N_SOURCES),
                "n_chars": len(text)}


DOC_SCHEMA = pa.schema([
    ("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
    ("source", pa.string()), ("n_chars", pa.int64())])
EMB_SCHEMA = pa.schema([
    ("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32())),
    ("label", pa.int32())])
WAVE_SCHEMA = pa.schema(list(DOC_SCHEMA) + [
    ("embedding", pa.list_(pa.float32()))])


def write(rows, schema, path):
    cols = {f.name: [r[f.name] for r in rows] for f in schema}
    pq.write_table(pa.table(cols, schema=schema), path, compression="snappy")


def user_bytes(text):
    return len(text.encode("utf-8")) + VEC_BYTES


def gen_corpus(g, out):
    docs = []
    probe_ids = set(g.rng.sample(range(N_CORPUS), N_PROBE))
    bodies = iter(g.body_texts(N_CORPUS - N_PROBE))
    for i in range(N_CORPUS):
        docs.append(g.doc(i, g.probe_text() if i in probe_ids else next(bodies)))
    os.makedirs(os.path.join(out, "corpus"), exist_ok=True)
    write(docs, DOC_SCHEMA, os.path.join(out, "corpus", "documents.parquet"))
    write([{"vec_id": d["doc_id"], "embedding": embed(d["text"]),
            "label": d["doc_id"] % 10} for d in docs],
          EMB_SCHEMA, os.path.join(out, "corpus", "embeddings.parquet"))
    return docs, sorted(probe_ids)


def gen_shards(g, out):
    """Shard 0 is the set-up's first version; the rounds cycle the rest."""
    os.makedirs(os.path.join(out, "shards"), exist_ok=True)
    shards = []
    for s in range(N_SHARDS + 1):
        base = 10_000_000 + s * 10_000
        n_orig = SHARD_DOCS - SHARD_EXACT_DUPS - SHARD_NEAR_DUPS
        docs = [g.doc(base + i, t) for i, t in enumerate(g.body_texts(n_orig))]
        # duplicate only documents with enough words to shingle
        long_enough = [d for d in docs if len(d["text"].split(" ")) >= 20]
        originals = g.rng.sample(long_enough,
                                 SHARD_EXACT_DUPS + SHARD_NEAR_DUPS)
        pairs = []
        for j, o in enumerate(originals[:SHARD_EXACT_DUPS]):
            d = g.doc(base + n_orig + j, o["text"])
            docs.append(d)
            pairs.append([o["doc_id"], d["doc_id"]])
        for j, o in enumerate(originals[SHARD_EXACT_DUPS:]):
            ws = o["text"].split(" ")
            ws[g.rng.randrange(len(ws))] = g.words(1)[0] + "x"
            docs.append(g.doc(base + n_orig + SHARD_EXACT_DUPS + j, " ".join(ws)))
        g.rng.shuffle(docs)
        write(docs, DOC_SCHEMA,
              os.path.join(out, "shards", "shard-%03d.parquet" % s))
        shards.append({
            "path": "shards/shard-%03d.parquet" % s,
            "docs": len(docs),
            "text_bytes": sum(len(d["text"].encode("utf-8")) for d in docs),
            "chunks": sum(n_chunks(d["text"]) for d in docs),
            "exact_pairs": sorted(pairs)})
    return shards


def gen_serve(g, docs, probe_ids):
    """Serving batches: every odd-numbered batch repeats the HOT_BATCHES
    batches verbatim, in turn; the even-numbered ones are fresh. A fixed
    pattern, so every seed gives the same share of repeats. Every batch
    leads with one planted exact-text query of a probe document."""
    by_id = {d["doc_id"]: d for d in docs}

    def batch():
        pid = g.rng.choice(probe_ids)
        return {"queries": [by_id[pid]["text"]] +
                [g.phrase() for _ in range(BATCH_QUERIES - 1)],
                "rank1": {"0": pid}}

    hot = [batch() for _ in range(HOT_BATCHES)]
    return [hot[(i // 2) % HOT_BATCHES] if i % 2 else batch()
            for i in range(N_BATCHES)]


def gen_churn(g, docs, probe_ids, out):
    """The churn schedule: CYCLE repeated, each step one write followed by
    one read batch whose expectations hold after that write commits."""
    os.makedirs(os.path.join(out, "waves"), exist_ok=True)
    live = {d["doc_id"]: d["text"] for d in docs}
    probes = set(probe_ids)
    next_id = 5_000_000
    hot = [[g.phrase() for _ in range(BATCH_QUERIES)] for _ in range(HOT_BATCHES)]
    steps = []
    n_waves = 0
    for i in range(N_STEPS):
        op = CYCLE[i % len(CYCLE)]
        step = {"op": op}
        planted, rank1 = [], {}
        if op == "upsert":
            ids = list(range(next_id, next_id + WAVE_INSERTS))
            next_id += WAVE_INSERTS
            ids += g.rng.sample(sorted(live), WAVE_UPDATES)
            rows = []
            for doc_id in ids:
                d = g.doc(doc_id, g.probe_text())
                d["embedding"] = embed(d["text"])
                rows.append(d)
                live[doc_id] = d["text"]
                probes.add(doc_id)
            path = "waves/wave-%03d.parquet" % n_waves
            n_waves += 1
            write(rows, WAVE_SCHEMA, os.path.join(out, path))
            step["wave"] = path
            step["ids"] = ids
            step["user_bytes"] = sum(user_bytes(r["text"]) for r in rows)
            sample = g.rng.sample(rows, 3)
            planted = [r["text"] for r in sample]
            rank1 = {str(j): r["doc_id"] for j, r in enumerate(sample)}
        elif op == "delete":
            ids = sorted(g.rng.sample(sorted(live), DELETE_IDS))
            step["ids"] = ids
            step["deleted_texts"] = [live[x] for x in ids[:2]]
            for x in ids:
                del live[x]
                probes.discard(x)
            step["user_bytes"] = 0
        else:
            step["user_bytes"] = 0
        if op != "upsert":
            pid = g.rng.choice(sorted(probes))
            planted = [live[pid]]
            rank1 = {"0": pid}
        if op == "delete":
            planted = planted + step["deleted_texts"]
        n_rest = BATCH_QUERIES - len(planted)
        if g.rng.random() < BATCH_REPEAT_SHARE:
            rest = g.rng.choice(hot)[:n_rest]
        else:
            rest = [g.phrase() for _ in range(n_rest)]
        step["queries"] = planted + rest
        step["rank1"] = rank1
        step["live_user_bytes"] = sum(user_bytes(t) for t in live.values())
        steps.append(step)
    return steps


def generate(seed, out, workload=None):
    """Write every input of `workload` (all workloads when None) under
    `out`; returns the plan dict that is also written to plan.json."""
    os.makedirs(out, exist_ok=True)
    plan = {"seed": seed}
    # each workload draws from its own stream, so one workload's inputs do
    # not depend on whether the others were generated; ingest never reads
    # the corpus
    if workload != "ingest":
        docs, probe_ids = gen_corpus(Gen(seed), out)
        plan["corpus"] = {
            "docs": len(docs), "probe_docs": len(probe_ids),
            "live_user_bytes": sum(user_bytes(d["text"]) for d in docs)}
    if workload in (None, "ingest"):
        shards = gen_shards(Gen(seed * 1000 + 1), out)
        plan["bootstrap"], plan["shards"] = shards[0], shards[1:]
    if workload in (None, "serve"):
        plan["batches"] = gen_serve(Gen(seed * 1000 + 2), docs, probe_ids)
    if workload in (None, "churn"):
        plan["steps"] = gen_churn(Gen(seed * 1000 + 3), docs, probe_ids, out)
    with open(os.path.join(out, "plan.json"), "w") as f:
        json.dump(plan, f, sort_keys=True)
    return plan


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--workload", choices=("ingest", "serve", "churn"))
    a = ap.parse_args()
    generate(a.seed, a.out, a.workload)


if __name__ == "__main__":
    main()
