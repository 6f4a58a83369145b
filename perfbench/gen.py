"""Seeded input generator for the graft benchmark.

Everything the program sees is derived from the seed here: the corpus
(documents + embeddings), the `chat` question stream and its warm-up
questions, and the shortest-path endpoints of `analytics`. The same seed
writes byte-identical files; see test_gen.py.

The corpus mirrors the shape of the synthetic news corpus graft is built
against: lowercase documents of 10-100 words over a 30-word vocabulary
(10 of which are gazetteer entities), ~5 % near-duplicates (another
document's text plus ` dup`), 20 round-robin sources, five languages, and
one unit-norm 64-dim embedding per document (vec_id = doc_id).

Usage: python3 gen.py --seed N --out DIR
"""

import argparse
import hashlib
import json
import math
import os
import random

VOCAB = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window"]
# graft's gazetteer (TextPipeline.Gazetteer), grouped by fulltext index label
GAZETTEER = {
    "Person": ["customer", "value", "line"],
    "Organization": ["spark", "table", "part", "group"],
    "Location": ["row", "column", "window"],
}
KEYWORDS = [w for w in VOCAB if w not in ("a", "the")]
LANGS = ["en"] * 8 + ["de", "es", "fr", "zh"] * 3
SOURCES = 20
DIM = 64

N_DOCS = 500             # standing corpus; vec_id = doc_id, probe is vec 0
POOL = 8                 # distinct questions per MATCH shape, by popularity
STREAM = 100             # questions in the stream (a run uses fewer)
WARMUP = 10              # warm-up questions, drawn apart from the pool
# the stream's shape sequence: a window holds 3-5 questions, so most
# windows hold ex14, the costliest MATCH, and end on ex14 or ex8
SHAPES = ["ex3", "ex1", "ex2", "ex14", "ex8"]
PAIRS = 16               # analytics shortest-path endpoint pairs
ZIPF_S = 1.1


def _text(rng):
    return " ".join(rng.choice(VOCAB) for _ in range(rng.randint(10, 100)))


def _documents(rng, ids):
    rows, pool_texts = [], []
    for doc_id in ids:
        if pool_texts and rng.random() < 0.05:
            text = rng.choice(pool_texts) + " dup"
        else:
            text = _text(rng)
        pool_texts.append(text)
        rows.append({"doc_id": doc_id, "text": text, "lang": rng.choice(LANGS),
                     "source": "src%d" % (doc_id % SOURCES),
                     "n_chars": len(text)})
    return rows


def _embedding(rng):
    v = [rng.gauss(0.0, 1.0) for _ in range(DIM)]
    n = math.sqrt(sum(x * x for x in v))
    return [round(x / n, 6) for x in v]


def _embeddings(rng, ids):
    return [{"vec_id": i, "embedding": _embedding(rng), "label": rng.randrange(10)}
            for i in ids]


def _typo(rng, word):
    """One edit that keeps the word fuzzy-matchable (the `w~0.8` form)."""
    if len(word) < 4:
        return word
    i = rng.randrange(1, len(word) - 1)
    op = rng.randrange(3)
    if op == 0:
        return word[:i] + word[i + 1:]
    if op == 1:
        return word[:i] + word[i + 1] + word[i] + word[i + 2:]
    return word[:i] + rng.choice("aeiou") + word[i + 1:]


def _question(rng, shape):
    label = rng.choice(sorted(GAZETTEER))
    words = [rng.choice(GAZETTEER[label]) for _ in range(rng.randint(1, 2))]
    typo_at = rng.randrange(len(words))
    terms = [_typo(rng, w) if i == typo_at else w for i, w in enumerate(words)]
    return {"label": label, "ft": " AND ".join(t + "~0.8" for t in terms),
            "shape": shape,
            "keywords": " ".join(rng.sample(KEYWORDS, rng.randint(2, 3)))}


def _zipf_cdf(n, s):
    w = [1.0 / (r ** s) for r in range(1, n + 1)]
    total, acc, cdf = sum(w), 0.0, []
    for x in w:
        acc += x
        cdf.append(acc / total)
    return cdf


def _stream(rng, pools, cdf, n):
    """Question i has shape i mod 5, so every seed serves the same shape
    sequence; within a shape, popularity is Zipf-skewed, so some repeat."""
    out = []
    for i in range(n):
        s = i % len(SHAPES)
        u = rng.random()
        rank = next(r for r, c in enumerate(cdf) if u <= c)
        out.append(dict(pools[s][rank], qid=s * POOL + rank))
    return out


def generate(seed):
    """Return {file name: list of JSON rows} for one seed."""
    rng = random.Random(seed)
    docs = _documents(rng, range(N_DOCS))
    vecs = _embeddings(rng, range(N_DOCS))
    pools = [[_question(rng, shape) for _ in range(POOL)] for shape in SHAPES]
    cdf = _zipf_cdf(POOL, ZIPF_S)
    questions = [dict(q, seq=i) for i, q in enumerate(_stream(rng, pools, cdf, STREAM))]
    warmup = [dict(_question(rng, SHAPES[i % len(SHAPES)]), qid=-1 - i, seq=i)
              for i in range(WARMUP)]
    singles = sorted(w for ws in GAZETTEER.values() for w in ws)
    pairs = []
    for i in range(PAIRS):
        a, b = rng.sample(singles, 2)
        pairs.append({"pair": i, "src": a, "dst": b})
    return {
        "documents.jsonl": docs,
        "embeddings.jsonl": vecs,
        "questions.jsonl": questions,
        "warmup.jsonl": warmup,
        "pairs.jsonl": pairs,
    }


def _encode(rows):
    return "".join(json.dumps(r, sort_keys=True, separators=(",", ":")) + "\n"
                   for r in rows).encode("utf-8")


def write(seed, out):
    """Write every input file for `seed` under `out`; return their digests."""
    os.makedirs(out, exist_ok=True)
    digests = {}
    for name, rows in generate(seed).items():
        data = _encode(rows)
        with open(os.path.join(out, name), "wb") as f:
            f.write(data)
        digests[name] = hashlib.sha256(data).hexdigest()
    return digests


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    for name, digest in sorted(write(args.seed, args.out).items()):
        print(digest, name)


if __name__ == "__main__":
    main()
